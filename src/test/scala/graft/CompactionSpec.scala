package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sinks.{Compaction, MergeByKey}

/** Pins for the warehouse small-file compactor: content is untouched,
  * only over-fragmented partitions are rewritten, re-runs are no-ops,
  * and the rewrite is narrow (no shuffle). */
class CompactionSpec extends SparkSpec {

  private def mkFragmented(): (String, org.apache.spark.sql.DataFrame) = {
    val base = Files.createTempDirectory("graft-compact").toString
    import spark.implicits._
    val df = (0 until 400).map(i => (i.toLong, s"v$i", f"2024-01-${i % 4 + 1}%02d"))
      .toDF("id", "payload", "partition_date")
    // 8 writer tasks per partition value -> 8 small files per partition
    MergeByKey.overwritePartitions(df.repartition(8), base, "partition_date")
    (base, df)
  }

  test("compaction: content identical, files reduced to the byte target") {
    val (base, df) = mkFragmented()
    val before = Compaction.stats(spark, base, "partition_date")
    assert(before.size == 4 && before.forall(_.files == 8),
      s"fixture should be fragmented: $before")

    // target larger than any partition's bytes -> 1 file each
    val rewrites = Compaction.compact(spark, base, "partition_date", 1L << 30)
    assert(rewrites.size == 4 && rewrites.forall(_.filesAfter == 1), s"$rewrites")

    val after = Compaction.stats(spark, base, "partition_date")
    assert(after.forall(_.files == 1), s"$after")

    val got = spark.read.parquet(base)
      .select("id", "payload", "partition_date")
      .collect().map(_.toString).sorted
    assert(got.toSeq == df.collect().map(_.toString).sorted.toSeq,
      "compaction must not change a single row")
  }

  test("already-compact partitions are never rewritten; re-run is a no-op") {
    val (base, _) = mkFragmented()
    Compaction.compact(spark, base, "partition_date", 1L << 30)
    val pathsBefore = Compaction.stats(spark, base, "partition_date")

    assert(Compaction.plan(pathsBefore, 1L << 30).isEmpty,
      "a compact layout must plan zero rewrites")
    assert(Compaction.compact(spark, base, "partition_date", 1L << 30).isEmpty,
      "re-running compaction must be a no-op")
  }

  test("a small byte target keeps multiple files (never over-merges)") {
    val (base, _) = mkFragmented()
    val st = Compaction.stats(spark, base, "partition_date")
    // target = half a partition's bytes -> want 2 files, have 8 -> rewrite
    val target = st.head.bytes / 2
    val rewrites = Compaction.compact(spark, base, "partition_date", target)
    assert(rewrites.nonEmpty && rewrites.forall(r => r.filesAfter >= 2),
      s"byte-targeted compaction must not collapse to one file: $rewrites")
  }

  test("the rewrite is narrow — coalesce, not an exchange") {
    val (base, _) = mkFragmented()
    val leaf = s"$base/partition_date=2024-01-01"
    val plan = spark.read.parquet(leaf).coalesce(1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"compaction's read+coalesce must not shuffle:\n$plan")
  }

  test("hidden temp/metadata files are excluded from stats") {
    val (base, _) = mkFragmented()
    val st = Compaction.stats(spark, base, "partition_date")
    // overwritePartitions leaves _SUCCESS at the root, not in leaves; the
    // leaves may carry .crc siblings locally — stats must count data files
    assert(st.forall(p => p.files == 8 && p.bytes > 0), s"$st")
  }

  test("layout-aware compaction restores key pruning that coalesce-only destroys (r13)") {
    // a key-clustered partition fragmented by 6 full-range appends: every
    // file spans the whole id range, so a point probe decodes everything
    import spark.implicits._
    def mkClusteredFragmented(): (String, Long) = {
      val base = Files.createTempDirectory("graft-compact-layout").toString
      val leaf = s"$base/partition_date=2024-01-01"
      (0 until 6).foreach { j =>
        (0 until 4000 by 6).map(i => ((i + j).toLong, s"v${i + j}"))
          .toDF("id", "payload")
          .coalesce(1).write.mode("append").parquet(leaf)
      }
      (base, spark.read.parquet(base).count())
    }
    val sm = core.StageMetrics.attach(spark)
    def probeRecs(base: String): Long = {
      spark.read.parquet(base).filter(col("id") === 2022L).count() // warm
      sm.measure {
        spark.read.parquet(base).filter(col("id") === 2022L).count(): Unit
      }.inputRecords
    }

    val (base, n) = mkClusteredFragmented()
    val target = Compaction.stats(spark, base, "partition_date").head.bytes / 3
    assert(probeRecs(base) >= n * 9 / 10,
      "fixture must be fragmented full-range (probe decodes ~everything) " +
        "or the contrast claim is void")

    // the motivating defect: coalesce-only compaction CONCATENATES the
    // full-range files — fewer files, same zero pruning
    val (base2, _) = mkClusteredFragmented()
    Compaction.compact(spark, base2, "partition_date", target)
    assert(probeRecs(base2) >= n * 9 / 10,
      "coalesce-only compaction of full-range files cannot prune — if it " +
        "does, this pin's premise changed")

    // the fix: range-repartitioned sorted rewrite — each output file a
    // tight id range, point probe decodes ~1/k of the partition
    val rewrites = Compaction.compact(spark, base, "partition_date", target,
      layoutSort = Seq(col("id")))
    assert(rewrites.nonEmpty && rewrites.head.filesAfter >= 2, s"$rewrites")
    val after = probeRecs(base)
    assert(after <= n / 2,
      s"layout-compacted probe decoded $after of $n — pruning not restored")
    // content untouched
    assert(spark.read.parquet(base).select("id", "payload").collect()
      .map(_.toString).sorted.toSeq ==
      spark.read.parquet(base2).select("id", "payload").collect()
        .map(_.toString).sorted.toSeq)
  }

  // ---- pointered layout (r13 verdict #4: close the absent window) ----

  test("pointered layout: init/read round-trip, compaction reduces files, re-run no-op") {
    val (flat, df) = mkFragmented()
    val base = Files.createTempDirectory("graft-pointered").toString
    Compaction.initPointered(spark, flat, base, "partition_date")

    val got = Compaction.readPointered(spark, base, "partition_date")
      .select("id", "payload", "partition_date")
      .collect().map(_.toString).sorted
    assert(got.toSeq == df.collect().map(_.toString).sorted.toSeq,
      "pointered round-trip changed content")

    // fragment INSIDE the pointered stores (the init rewrite owes no file
    // count): publish an 8-file version per partition, as appends would
    (1 to 4).foreach { d =>
      val store = s"$base/partition_date=2024-01-0$d"
      graft.jobs.MigrationRunner.current(spark, store).repartition(8)
        .write.parquet(s"$store/frag")
      graft.jobs.MigrationRunner.publish(spark, store, "frag")
    }
    val before = Compaction.statsPointered(spark, base, "partition_date")
    assert(before.size == 4 && before.forall(_.files == 8), s"$before")
    val rewrites = Compaction.compactPointered(spark, base, "partition_date",
      1L << 30)
    assert(rewrites.size == 4 && rewrites.forall(_.filesAfter == 1), s"$rewrites")
    assert(Compaction.statsPointered(spark, base, "partition_date")
      .forall(_.files == 1))
    assert(Compaction.compactPointered(spark, base, "partition_date",
      1L << 30).isEmpty, "re-run must be a no-op")
    // content still intact through the pointer swings
    val got2 = Compaction.readPointered(spark, base, "partition_date")
      .select("id", "payload", "partition_date")
      .collect().map(_.toString).sorted
    assert(got2.toSeq == df.collect().map(_.toString).sorted.toSeq)
    // partition pruning survives: a filter on the partition column
    // constant-folds the other branches away
    assert(Compaction.readPointered(spark, base, "partition_date")
      .filter(col("partition_date") === "2024-01-02").count() == 100L)
  }

  test("records pin: a partition filter through readPointered prunes to that partition") {
    // the pointered reader is a union of per-partition frames, each with a
    // LITERAL partition value — a filter on the partition column must
    // constant-fold the other branches to empty relations, so the probe
    // physically reads ONE partition's rows, not the table
    val (flat, _) = mkFragmented()
    val base = Files.createTempDirectory("graft-pointered-prune").toString
    Compaction.initPointered(spark, flat, base, "partition_date")
    val total = Compaction.readPointered(spark, base, "partition_date").count()
    val sm = core.StageMetrics.attach(spark)
    def probe() = Compaction.readPointered(spark, base, "partition_date")
      .filter(col("partition_date") === "2024-01-02").count()
    val expect = probe() // warm + the expected row count
    val recs = sm.measure { probe(): Unit }.inputRecords
    assert(recs <= total / 3,
      s"pointered partition probe decoded $recs of $total records — the " +
        "union branches are not constant-folding away")
    assert(expect == 100L)
  }

  test("onlyValues prunes at the LISTING level: unlisted stores are never touched") {
    // a warehouse with years of day partitions is thousands of stores;
    // constant-folding prunes the plan but the union is still ANALYZED
    // over every branch. The listing-level prune must build the plan over
    // just the requested stores — proven by breaking a sibling store
    // (CURRENT pointer deleted): a reader that resolved it would throw,
    // so success means it was never touched.
    val (flat, df) = mkFragmented()
    val base = Files.createTempDirectory("graft-pointered-only").toString
    Compaction.initPointered(spark, flat, base, "partition_date")
    val broken = new org.apache.hadoop.fs.Path(
      s"$base/partition_date=2024-01-03/CURRENT")
    val fs = broken.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(broken, false), "fixture: failed to break the sibling")

    val got = Compaction.readPointered(spark, base, "partition_date",
        onlyValues = Some(Set("2024-01-02")))
      .select("id", "payload", "partition_date")
      .collect().map(_.toString).sorted
    val expect = df.filter(col("partition_date") === "2024-01-02")
      .collect().map(_.toString).sorted
    assert(got.toSeq == expect.toSeq, "listing-pruned read changed content")
    // the unrestricted read DOES resolve every store — and throws
    intercept[RuntimeException] {
      Compaction.readPointered(spark, base, "partition_date").count()
    }
    // requesting only absent values fails loud, not empty-silently
    val e = intercept[IllegalArgumentException] {
      Compaction.readPointered(spark, base, "partition_date",
        onlyValues = Some(Set("1999-01-01")))
    }
    assert(e.getMessage.contains("1999-01-01"), e.getMessage)
    // PARTIALLY absent fails loud too, naming the missing values — a
    // typo'd or expired day in a multi-day slice must not silently drop
    // that day's data from the result (ADVICE r14)
    val e2 = intercept[IllegalArgumentException] {
      Compaction.readPointered(spark, base, "partition_date",
        onlyValues = Some(Set("2024-01-02", "1999-01-01")))
    }
    assert(e2.getMessage.contains("1999-01-01") &&
      !e2.getMessage.contains("2024-01-02"), e2.getMessage)
  }

  test("readPointeredWhere derives the store list from the predicate before plan construction") {
    // same broken-sibling proof as onlyValues: a store whose CURRENT is
    // gone would throw on pointer resolution, so a successful predicate
    // read means non-matching stores were never touched
    val (flat, df) = mkFragmented()
    val base = Files.createTempDirectory("graft-pointered-where").toString
    Compaction.initPointered(spark, flat, base, "partition_date")
    val broken = new org.apache.hadoop.fs.Path(
      s"$base/partition_date=2024-01-04/CURRENT")
    val fs = broken.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(broken, false), "fixture: failed to break the sibling")

    // date-RANGE predicate: partition values are ISO dates, lexicographic
    // compare is date order
    val got = Compaction.readPointeredWhere(spark, base, "partition_date",
        "string")(v => v >= "2024-01-01" && v <= "2024-01-02")
      .select("id", "payload", "partition_date")
      .collect().map(_.toString).sorted
    val expect = df.filter(col("partition_date") <= "2024-01-02")
      .collect().map(_.toString).sorted
    assert(got.toSeq == expect.toSeq, "predicate-pruned read changed content")
    // matching nothing fails loud, not empty-silently
    val e = intercept[IllegalArgumentException] {
      Compaction.readPointeredWhere(spark, base, "partition_date",
        "string")(_ => false)
    }
    assert(e.getMessage.contains("matched no"), e.getMessage)
  }

  test("pointered retention drops whole stores before the cutoff; survivors read intact") {
    val (flat, _) = mkFragmented() // partitions 2024-01-01 .. 2024-01-04
    val base = Files.createTempDirectory("graft-pointered-exp").toString
    Compaction.initPointered(spark, flat, base, "partition_date")
    val expired = Compaction.expirePointered(spark, base, "partition_date",
      java.time.LocalDate.parse("2024-01-05"), retentionDays = 2)
    assert(expired == Seq("2024-01-01", "2024-01-02"), s"$expired")
    val left = Compaction.readPointered(spark, base, "partition_date")
    assert(left.select("partition_date").distinct().collect()
      .map(_.getString(0)).sorted.toSeq == Seq("2024-01-03", "2024-01-04"))
    assert(left.count() == 200L, "surviving partitions lost rows")
    // idempotent: a re-run expires nothing further
    assert(Compaction.expirePointered(spark, base, "partition_date",
      java.time.LocalDate.parse("2024-01-05"), 2).isEmpty)
  }

  test("pointered compaction NEVER exposes an absent partition to a racing reader") {
    import spark.implicits._
    val (flat, _) = mkFragmented()
    val base = Files.createTempDirectory("graft-pointered-race").toString
    Compaction.initPointered(spark, flat, base, "partition_date")
    val expect = Compaction.readPointered(spark, base, "partition_date")
      .filter(col("partition_date") === "2024-01-02").count()

    val reader = new RacingReader(() =>
      Compaction.readPointered(spark, base, "partition_date")
        .filter(col("partition_date") === "2024-01-02").count(), expect)
    // three rounds: re-fragment a partition (publish an 8-file version),
    // then compact it back — each round swings the pointer twice
    reader.race(3) { round =>
      val store = s"$base/partition_date=2024-01-02"
      val name = graft.jobs.MigrationRunner
        .freshVersionName(spark, store, s"refrag-$round")
      graft.jobs.MigrationRunner.current(spark, store).repartition(8)
        .write.parquet(s"$store/$name")
      graft.jobs.MigrationRunner.publish(spark, store, name)
      val r = Compaction.compactPointered(spark, base, "partition_date",
        1L << 30)
      assert(r.exists(_.value == "2024-01-02"), s"round $round: $r")
    }
    val (failure, reads) = (reader.failure, reader.reads)
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(reads >= 3, s"reader only completed $reads reads — race not exercised")
  }

  private def landingLeftovers(base: String): Seq[String] =
    Option(new java.io.File(base).listFiles()).fold(Seq.empty[String])(
      _.toSeq.map(_.getName).filter(_.startsWith(".landing-")).sorted)

  test("landPointered exposes a store atomically; doubled landing fails loud") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-pointered-land").toString
    // first store lands into an EMPTY warehouse root
    val a = (0 until 60).map(i => (i.toLong, s"a$i")).toDF("id", "payload")
    Compaction.landPointered(spark, a, base, "partition_date", "2024-02-01")
    assert(Compaction.readPointered(spark, base, "partition_date")
      .count() == 60L)
    // the hidden build dir is gone (renamed into place, not copied) and
    // the lander released the lock it carried through the rename
    assert(landingLeftovers(base).isEmpty)
    assert(!new java.io.File(
      s"$base/partition_date=2024-02-01/MAINTENANCE.lock").exists(),
      "landing must release the lock it carried through the exposure rename")
    // landing the same value again is a doubled lander: loud
    val e = intercept[IllegalArgumentException] {
      Compaction.landPointered(spark, a, base, "partition_date", "2024-02-01")
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // a second DAY lands fine and both read back
    Compaction.landPointered(spark, a, base, "partition_date", "2024-02-02")
    assert(Compaction.readPointered(spark, base, "partition_date")
      .count() == 120L)
    // a crashed lander's leftover build dir (uniquely named, so it is
    // never in the way): relanding the value just works — the scaladoc's
    // "rebuilt from scratch by the next landing", true by construction now
    val c = (0 until 30).map(i => (i.toLong, s"c$i")).toDF("id", "payload")
    c.write.parquet(s"$base/.landing-partition_date=2024-02-03.dead1234/v1")
    Compaction.landPointered(spark, c, base, "partition_date", "2024-02-03")
    assert(Compaction.readPointered(spark, base, "partition_date",
      onlyValues = Some(Set("2024-02-03"))).count() == 30L)
    // the leftover is untouched by the relanding — it is the JANITOR's to
    // reap (see the crashed-lander sweep pin)
    assert(landingLeftovers(base) ==
      Seq(".landing-partition_date=2024-02-03.dead1234"))
    // a crash-by-exception mid-build deletes its own private dir
    intercept[Exception] {
      Compaction.landPointered(spark,
        a.selectExpr("id", "raise_error('mid-build crash') as payload"),
        base, "partition_date", "2024-02-04")
    }
    assert(landingLeftovers(base) ==
      Seq(".landing-partition_date=2024-02-03.dead1234"),
      "crash-by-exception must reap its own build dir")
  }

  test("doubled lander: the loser fails loud at the exposure rename; the winner's store is untouched (ADVICE r15)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-pointered-double").toString
    val winner = (0 until 40).map(i => (i.toLong, s"w$i")).toDF("id", "payload")
    val loser = (0 until 25).map(i => (i.toLong, s"l$i")).toDF("id", "payload")
    // both landers pass the exists-check; the slow one pauses with its
    // build COMPLETE, just before its exposure rename — the exact window
    // in which the r15 shared-build-dir design corrupted the winner
    val built = new java.util.concurrent.CountDownLatch(1)
    val go = new java.util.concurrent.CountDownLatch(1)
    val pausedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var loserError: Option[Throwable] = None
    Compaction.beforeExposeHook = () =>
      if (pausedOnce.compareAndSet(false, true)) {
        built.countDown(); go.await()
      }
    try {
      val slow = new Thread(() => {
        try Compaction.landPointered(spark, loser, base, "partition_date",
          "2024-02-01")
        catch { case t: Throwable => loserError = Some(t) }
      })
      slow.start()
      built.await()
      Compaction.landPointered(spark, winner, base, "partition_date",
        "2024-02-01") // the winner exposes while the loser is paused
      go.countDown()
      slow.join(30000)
    } finally Compaction.beforeExposeHook = () => ()
    assert(loserError.exists(_.getMessage.contains("doubled lander")),
      s"loser must fail loud: $loserError")
    // the winner's store stands, with the WINNER's rows — not the loser's,
    // not a mix, and CURRENT resolves a complete version
    val got = Compaction.readPointered(spark, base, "partition_date")
    assert(got.count() == 40L)
    assert(got.filter(col("payload").startsWith("l")).count() == 0L,
      "loser rows leaked into the winner's store")
    // the loser reaped its own build dir on the way out
    assert(landingLeftovers(base).isEmpty, s"${landingLeftovers(base)}")
  }

  test("crashed-lander janitor: the lease sweep reaps stale leftover builds, skips live ones (VERDICT r15 #1)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-pointered-janitor").toString
    val df = (0 until 60).map(i => (i.toLong, s"a$i")).toDF("id", "payload")
    // a hard-killed lander's leftover: unique hidden dir, stamped lock
    // (written FIRST, so every real leftover carries one), partial build
    val dead = s"$base/.landing-partition_date=2024-02-01.deadbeef"
    new java.io.File(dead).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dead/MAINTENANCE.lock"),
      "landPointered partition_date=2024-02-01\nacquired=2024-03-01T00:00:00Z")
    df.limit(10).write.parquet(s"$dead/v1")
    // relanding the wedged value works immediately — no human, no sweep
    Compaction.landPointered(spark, df, base, "partition_date", "2024-02-01")
    assert(Compaction.readPointered(spark, base, "partition_date")
      .count() == 60L)
    // a LIVE lander mid-build: fresh stamp relative to the sweep clock
    val live = s"$base/.landing-partition_date=2024-02-02.cafe0001"
    new java.io.File(live).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$live/MAINTENANCE.lock"),
      "landPointered partition_date=2024-02-02\nacquired=2024-03-04T23:50:00Z")
    // a stampless leftover: age unverifiable -> manual contract, never swept
    val stampless = s"$base/.landing-partition_date=2024-02-03.00000000"
    new java.io.File(stampless).mkdirs()

    // no lease -> no landing sweep at all (interactive contract)
    val noLease = Compaction.maintainPointered(spark, base, "partition_date",
      targetBytes = 1L << 30, asOf = java.time.LocalDate.parse("2024-03-05"),
      retentionDays = 365)
    assert(noLease.landingsReaped.isEmpty && landingLeftovers(base).size == 3,
      s"$noLease")

    val sweep = Compaction.maintainPointered(spark, base, "partition_date",
      targetBytes = 1L << 30, asOf = java.time.LocalDate.parse("2024-03-05"),
      retentionDays = 365,
      staleLockLease = Some(java.time.Duration.ofHours(6)),
      now = () => java.time.Instant.parse("2024-03-05T00:00:00Z"))
    assert(sweep.landingsReaped ==
      Seq(".landing-partition_date=2024-02-01.deadbeef"), s"$sweep")
    assert(landingLeftovers(base) == Seq(
      ".landing-partition_date=2024-02-02.cafe0001",
      ".landing-partition_date=2024-02-03.00000000"),
      "live (fresh-stamped) and stampless leftovers must be skipped")
    // the exposed store is untouched by the sweep
    assert(Compaction.readPointered(spark, base, "partition_date")
      .count() == 60L)
  }

  test("initPointered fails loud on a store dir without CURRENT (pre-atomic remnant, ADVICE r15)") {
    val (flat, _) = mkFragmented()
    val base = Files.createTempDirectory("graft-pointered-remnant").toString
    // a pre-atomic-landing remnant: data present, pointer never written
    val remnant = s"$base/partition_date=2024-01-02"
    spark.read.parquet(s"$flat/partition_date=2024-01-02")
      .write.parquet(s"$remnant/v1")
    val e = intercept[RuntimeException] {
      Compaction.initPointered(spark, flat, base, "partition_date")
    }
    assert(e.getMessage.contains("no CURRENT pointer") &&
      e.getMessage.contains("re-run initPointered"), e.getMessage)
    // remediation works: remove the remnant, re-init rebuilds everything
    val fs = new org.apache.hadoop.fs.Path(remnant)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(remnant), true)
    Compaction.initPointered(spark, flat, base, "partition_date")
    assert(Compaction.readPointered(spark, base, "partition_date")
      .count() == 400L)
  }

  test("schema drift across stores fails loud by default; mergeSchema aligns by name (VERDICT r15 #3)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-pointered-schema").toString
    val day1 = (0 until 30).map(i => (i.toLong, s"a$i")).toDF("id", "payload")
    Compaction.landPointered(spark, day1, base, "partition_date", "2024-01-01")
    // a later day gains a column — real warehouses evolve
    val day2 = (0 until 20).map(i => (i.toLong, s"b$i", i * 2))
      .toDF("id", "payload", "extra")
    Compaction.landPointered(spark, day2, base, "partition_date", "2024-01-02")

    // default: LOUD at plan construction, naming store, field, and the
    // escape hatch — never a silent null-fill of day 2's new column
    val e = intercept[RuntimeException] {
      Compaction.readPointered(spark, base, "partition_date")
    }
    assert(e.getMessage.contains("2024-01-02") &&
      e.getMessage.contains("extra") && e.getMessage.contains("mergeSchema"),
      e.getMessage)
    val e2 = intercept[RuntimeException] {
      Compaction.readPointeredWhere(spark, base, "partition_date",
        "string")(_ <= "2024-01-02")
    }
    assert(e2.getMessage.contains("extra"), e2.getMessage)
    // single-store slices never cross schemas: still fine
    assert(Compaction.readPointered(spark, base, "partition_date",
      onlyValues = Some(Set("2024-01-02"))).count() == 20L)

    // explicit evolution mode: align by name, null-fill the old partition
    val merged = Compaction.readPointered(spark, base, "partition_date",
      mergeSchema = true)
    assert(merged.columns.sorted.toSeq ==
      Seq("extra", "id", "partition_date", "payload"))
    assert(merged.count() == 50L)
    assert(merged.filter(col("partition_date") === "2024-01-01")
      .filter(col("extra").isNull).count() == 30L,
      "the pre-evolution partition must null-fill the new column")
    assert(merged.filter(col("partition_date") === "2024-01-02")
      .agg(sum("extra")).collect()(0).getLong(0) == (0 until 20).map(_ * 2).sum)

    // a RETYPED column is named as such
    val base2 = Files.createTempDirectory("graft-pointered-retype").toString
    Compaction.landPointered(spark, day1, base2, "partition_date", "2024-01-01")
    val day2r = (0 until 20).map(i => (i.toLong, i.toLong))
      .toDF("id", "payload") // payload string -> bigint
    Compaction.landPointered(spark, day2r, base2, "partition_date", "2024-01-02")
    val e3 = intercept[RuntimeException] {
      Compaction.readPointered(spark, base2, "partition_date")
    }
    assert(e3.getMessage.contains("retyped") &&
      e3.getMessage.contains("payload"), e3.getMessage)
  }

  test("an unpruned read past FlatScanWarnAt stores fires the depth guard; pruned paths never do (VERDICT r15 #4)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-flat-guard").toString
    // one real store, cloned through the filesystem into N day stores —
    // the 1000-store measurement's fixture recipe, sized just past the threshold
    val seed = s"$base/seed"
    Seq((1L, "x")).toDF("id", "payload").coalesce(1).write.parquet(s"$seed/v1")
    graft.jobs.MigrationRunner.publish(spark, seed, "v1")
    val seedDir = java.nio.file.Paths.get(seed)
    val days = (0 to Compaction.FlatScanWarnAt).map(i => // threshold + 1
      java.time.LocalDate.parse("2024-01-01").plusDays(i.toLong).toString)
    days.foreach { d =>
      val dst = java.nio.file.Paths.get(s"$base/wh/partition_date=$d")
      java.nio.file.Files.walk(seedDir).forEach { src =>
        val rel = seedDir.relativize(src)
        val tgt = dst.resolve(rel.toString)
        if (java.nio.file.Files.isDirectory(src))
          java.nio.file.Files.createDirectories(tgt)
        else java.nio.file.Files.copy(src, tgt)
      }
    }
    val wh = s"$base/wh"
    val before = Compaction.flatScanWarnings.get()
    Compaction.readPointered(spark, wh, "partition_date")
    assert(Compaction.flatScanWarnings.get() == before + 1,
      "the unpruned read past the threshold must fire the guard")
    // pruned paths never fire, whatever the warehouse depth
    val mid = Compaction.flatScanWarnings.get()
    Compaction.readPointered(spark, wh, "partition_date",
      onlyValues = Some(Set(days.head)))
    Compaction.readPointeredWhere(spark, wh, "partition_date",
      "string")(_ == days.head)
    assert(Compaction.flatScanWarnings.get() == mid,
      "listing-pruned reads must not fire the depth guard")
  }

  test("pointered LANDING never disturbs a racing reader of existing partitions") {
    import spark.implicits._
    val (flat, _) = mkFragmented()
    val base = Files.createTempDirectory("graft-pointered-land-race").toString
    Compaction.initPointered(spark, flat, base, "partition_date")
    val land = (0 until 50).map(i => (i.toLong, s"new-$i")).toDF("id", "payload")

    val reader = new RacingReader(() =>
      Compaction.readPointered(spark, base, "partition_date")
        .filter(col("partition_date") === "2024-01-02").count(), 100L)
    reader.race(4) { i =>
      Compaction.landPointered(spark, land, base, "partition_date",
        s"2024-02-0${i + 1}")
    }
    val (failure, reads) = (reader.failure, reader.reads)
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(reads >= 3, s"reader only completed $reads reads — race not exercised")
    assert(Compaction.readPointered(spark, base, "partition_date")
      .count() == 600L) // 4x100 original + 4x50 landed
  }

  test("pointered expiry NEVER disturbs a racing reader of surviving partitions") {
    // VERDICT r14 #8: the retention scaladoc claims list-before-resolve
    // plus the atomic tomb rename make expiry reader-safe — pin it the
    // same way as the compaction race: a reader loops FULL readPointered
    // (so its plan construction lists and resolves the expiring stores
    // too) while expiry repeatedly removes freshly-landed old-day stores.
    val (flat, _) = mkFragmented() // survivors 2024-01-01..04, 100 rows each
    val base = Files.createTempDirectory("graft-pointered-exp-race").toString
    Compaction.initPointered(spark, flat, base, "partition_date")
    import spark.implicits._
    val land = (0 until 50).map(i => (i.toLong, s"old-$i")).toDF("id", "payload")

    val reader = new RacingReader(() =>
      Compaction.readPointered(spark, base, "partition_date")
        .filter(col("partition_date") === "2024-01-03").count(), 100L)
    reader.race(4) { i =>
      val round = i + 1
      // land an already-expired day ATOMICALLY via the library's own
      // hidden-build-then-rename path (a lander that builds in place
      // would itself expose a CURRENT-less store to the reader)
      val value = s"2023-12-0$round"
      Compaction.landPointered(spark, land, base, "partition_date", value)
      val expired = Compaction.expirePointered(spark, base,
        "partition_date", java.time.LocalDate.parse("2024-01-05"),
        retentionDays = 10) // cutoff 2023-12-26: only the landed day goes
      assert(expired == Seq(value), s"round $round: $expired")
    }
    val (failure, reads) = (reader.failure, reader.reads)
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(reads >= 3, s"reader only completed $reads reads — race not exercised")
    // survivors fully intact after the sweeps
    assert(Compaction.readPointered(spark, base, "partition_date").count() == 400L)
  }

  test("schema validation tolerates a benign column REORDER across stores (review r16)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-pointered-reorder").toString
    val df = (0 until 30).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
    Compaction.landPointered(spark, df.select("id", "payload"), base,
      "partition_date", "2024-01-01")
    // same names, same types, opposite order: parquet resolution under the
    // imposed schema is BY NAME, so this store reads identically — the old
    // positional compare failed it with every drift list empty
    Compaction.landPointered(spark, df.select("payload", "id"), base,
      "partition_date", "2024-01-02")
    val out = Compaction.readPointered(spark, base, "partition_date")
    assert(out.count() == 60L)
    assert(out.filter(org.apache.spark.sql.functions.col("id") === 7L)
      .select("payload").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("p7", "p7"), "reordered store must decode by name, not position")
  }

  test("the unattended sweep survives and heals CURRENT-less stores instead of aborting (review r16)") {
    val (flat, _) = mkFragmented()
    val base = Files.createTempDirectory("graft-pointered-shell").toString
    Compaction.initPointered(spark, flat, base, "partition_date")
    // an EMPTY shell: what a crashed sweep leaves after its lock acquisition
    // resurrected a concurrently-expired store (lock creation mkdirs) —
    // breaks readers (dir-without-CURRENT) and blocks relanding, and the
    // old pre-scan sys.error'd on it, aborting the WHOLE sweep
    val shell = s"$base/partition_date=2090-01-01"
    new java.io.File(shell).mkdirs()
    // a NON-empty CURRENT-less remnant (pre-atomic landing): data a human
    // must look at — skipped loudly, never deleted, never an abort
    val remnant = s"$base/partition_date=2091-01-01"
    spark.read.parquet(s"$flat/partition_date=2024-01-01")
      .write.parquet(s"$remnant/v1")
    val report = Compaction.maintainPointered(spark, base, "partition_date",
      targetBytes = 1L << 30, asOf = java.time.LocalDate.parse("2024-03-05"),
      retentionDays = 365)
    assert(report.versionsReaped == Seq("2090-01-01/(empty shell)"), s"$report")
    assert(!new java.io.File(shell).exists(), "empty shell must be healed")
    assert(new java.io.File(s"$remnant/v1").exists(),
      "a remnant with real content must never be auto-deleted")
    // readers still fail LOUD on the preserved remnant (their contract)...
    val e = intercept[RuntimeException] {
      Compaction.readPointered(spark, base, "partition_date").count()
    }
    assert(e.getMessage.contains("no CURRENT pointer"), e.getMessage)
    // ...and after the manual remediation the healed warehouse reads clean
    // (the shell alone would have produced the same loud failure)
    val fsR = new org.apache.hadoop.fs.Path(remnant)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsR.delete(new org.apache.hadoop.fs.Path(remnant), true)
    assert(Compaction.readPointered(spark, base, "partition_date")
      .count() == 400L)
  }

  test("a crash-interrupted landing reap (.reaping- leftover) is finished by the next sweep (review r16)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-pointered-reaping").toString
    val df = (0 until 20).map(i => (i.toLong, s"a$i")).toDF("id", "payload")
    Compaction.landPointered(spark, df, base, "partition_date", "2024-01-01")
    // a prior sweep claimed a stale landing by rename, then died before the
    // delete: already lease-adjudicated, so it is deleted ON SIGHT — the
    // old break-then-delete order instead left a STAMPLESS .landing- dir
    // here, which the lease policy refuses to touch forever
    val claimed = s"$base/.reaping-.landing-partition_date=2024-01-02.feedbeef"
    new java.io.File(claimed).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$claimed/junk.txt"), "partial build")
    val sweep = Compaction.maintainPointered(spark, base, "partition_date",
      targetBytes = 1L << 30, asOf = java.time.LocalDate.parse("2024-03-05"),
      retentionDays = 365,
      staleLockLease = Some(java.time.Duration.ofHours(6)),
      now = () => java.time.Instant.parse("2024-03-05T00:00:00Z"))
    assert(!new java.io.File(claimed).exists(),
      ".reaping- leftovers are already adjudicated and deleted on sight")
    assert(Compaction.readPointered(spark, base, "partition_date")
      .count() == 20L, s"$sweep")
  }

  test("a compaction after a rollback keeps the pre-swap live version and " +
      "reaps the older one (pointered and versioned z-store)") {
    import spark.implicits._
    import graft.jobs.MigrationRunner
    // rollback moves CURRENT without appending to HISTORY, so the live
    // version sits OUTSIDE HISTORY's last three: only the commit's explicit
    // keep of the pre-swap live version saves it — a reader may have just
    // resolved it — while an older superseded version must still go
    def versions(store: String): Set[String] =
      new java.io.File(store).listFiles().filter(_.isDirectory)
        .map(_.getName).toSet
    val df = (0 until 200).map(i => (i.toLong, i.toLong % 16, s"p$i"))
      .toDF("id", "day", "payload")

    val base = Files.createTempDirectory("graft-retention-rollback").toString
    val store = s"$base/partition_date=2024-01-01"
    Seq("v0", "a", "b", "c").foreach { n =>
      df.repartition(8).write.parquet(s"$store/$n")
      MigrationRunner.publish(spark, store, n)
    }
    MigrationRunner.rollback(spark, store, Some("v0"))
    val r = Compaction.compactPointered(spark, base, "partition_date", 1L << 30)
    assert(r.map(_.value) == Seq("2024-01-01"), s"$r")
    val live = MigrationRunner.currentVersion(spark, store).get
    assert(versions(store) == Set("v0", "b", "c", live),
      s"pointered: expected pre-swap v0 kept and a reaped: ${versions(store)}")
    assert(spark.read.parquet(s"$store/v0").count() == 200L)
    assert(Compaction.readPointered(spark, base, "partition_date").count() == 200L)

    val zRoot = Files.createTempDirectory("graft-retention-rollback-z")
      .toString + "/store"
    (0 until 4).foreach(_ => graft.sinks.ZOrderLayout.writeZOrderedVersioned(
      df, zRoot, "id", "day", files = 2))
    MigrationRunner.rollback(spark, zRoot, Some("z"))
    graft.sinks.ZOrderLayout.compactZOrderedVersioned(spark, zRoot, "id", "day",
      files = 2)
    val zLive = MigrationRunner.currentVersion(spark, zRoot).get
    assert(versions(zRoot) == Set("z", "z-2", "z-3", zLive),
      s"z-store: expected pre-swap z kept and z-1 reaped: ${versions(zRoot)}")
    assert(spark.read.parquet(s"$zRoot/z").count() == 200L)
  }
}
