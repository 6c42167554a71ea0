package graft.sinks

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.jobs.MigrationRunner

/** Small-file compaction for the partitioned warehouse layout — the
  * maintenance half of the S10/S11 sink story. The daily pattern
  * (MergeByKey.overwritePartitions per batch, late/corrected days
  * re-landing under dynamic overwrite) accretes files per partition; at
  * 100 TB small files are a first-order tax: driver-side listing grows
  * with file count, every file open pays a round trip, and tiny row
  * groups gut min/max pruning (a 4 MB file's one row group spans its
  * whole value range). The reference never needs this only because its
  * warehouse (BigQuery, sql/bigquery_schema.sql) compacts internally —
  * a Spark-native layout has to own it.
  *
  * Design:
  *
  *   - `stats` is METADATA-ONLY (one FS listing per partition dir) —
  *     bounded by file counts, never row counts; at 100 TB this is the
  *     same listing any scan's planning already pays.
  *   - `plan` picks only partitions whose file count exceeds what their
  *     byte size needs at `targetBytes` — already-compact partitions are
  *     never rewritten, so a re-run is a no-op (idempotence pin).
  *   - `compact` rewrites each picked partition with `coalesce(k)` — a
  *     NARROW dependency, no shuffle: compaction moves bytes, it must not
  *     pay an exchange to do so. Rows are untouched (content pin); the
  *     write goes to a sibling temp dir then swaps in with two renames,
  *     so a reader never sees a half-written partition (see the in-window
  *     caveat at the swap). HOT partitions keep landing via dynamic
  *     overwrite while OTHER partitions compact — the swap touches only
  *     its own directory.
  *
  * Compaction is day-partition-local by construction, so at cluster scale
  * the rewrites parallelize per partition and none of them shuffles. */
object Compaction {

  final case class PartitionStat(value: String, files: Int, bytes: Long)

  final case class Rewrite(value: String, filesBefore: Int, filesAfter: Int)

  /** The data files directly under `dir`: hidden and metadata files
    * (_SUCCESS, .crc) excluded. */
  private def dataFiles(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      .filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
  }

  private def stat(spark: SparkSession, value: String, dir: String): PartitionStat = {
    val files = dataFiles(spark, dir)
    PartitionStat(value, files.size, files.map(_.getLen).sum)
  }

  /** One FS listing per partition: (partition value, data-file count,
    * total bytes). */
  def stats(spark: SparkSession, path: String,
            partitionCol: String): Seq[PartitionStat] =
    partitionStores(spark, path, partitionCol).map { case (value, dir) =>
      stat(spark, value, dir)
    }

  /** The layout rewrite both compactors share: `coalesce(k)` (narrow, no
    * exchange), or with `layoutSort` a range exchange + within-partition
    * sort on those keys (see `compact` for when each applies). */
  private def relayout(frame: DataFrame, k: Int, layoutSort: Seq[Column]): DataFrame =
    if (layoutSort.isEmpty) frame.coalesce(k)
    else frame.repartitionByRange(k, layoutSort: _*)
      .sortWithinPartitions(layoutSort: _*)

  private def rewriteOf(spark: SparkSession, before: Seq[PartitionStat],
                        value: String, dir: String): Rewrite =
    Rewrite(value, before.find(_.value == value).map(_.files).getOrElse(0),
      dataFiles(spark, dir).size)

  /** Partitions worth rewriting at `targetBytes`: those holding more
    * files than ceil(bytes/target). Returns (value, target file count). */
  def plan(stats: Seq[PartitionStat], targetBytes: Long): Seq[(String, Int)] = {
    require(targetBytes > 0, s"targetBytes must be > 0: $targetBytes")
    stats.flatMap { p =>
      val want = math.max(1L, (p.bytes + targetBytes - 1) / targetBytes)
      if (p.files > want) Some(p.value -> want.toInt) else None
    }
  }

  /** Rewrite each planned partition to its target file count. Returns the
    * rewrites performed (empty = layout already compact).
    *
    * `layoutSort` (r13, VERDICT r12 next #6): a bare `coalesce(k)`
    * CONCATENATES input files, so compacting a partition whose files were
    * key-clustered (a CLUSTER BY user_id analog, or any sorted landing)
    * yields full-range files and silently undoes the min/max pruning the
    * layout paid for — and at production row-group sizes (~one group per
    * 128 MB file) sorting WITHIN concatenated files restores nothing,
    * because the pruning unit is effectively the file. Passing the layout
    * keys switches the rewrite to `repartitionByRange(k, keys) +
    * sortWithinPartitions(keys)`: each output file covers a TIGHT key
    * range, so file-level stats prune again (and row-group stats within).
    * The price is one PARTITION-LOCAL range exchange of the partition's
    * bytes (plus the range sampler's extra read of them) — compaction of
    * a clustered layout inherently moves rows between files; concatenation
    * preserving no layout is the only exchange-free option, and stays the
    * default for unclustered warehouses. CompactionSpec pins the pruning
    * parity contrast at the records level. */
  def compact(spark: SparkSession, path: String, partitionCol: String,
              targetBytes: Long,
              layoutSort: Seq[Column] = Nil): Seq[Rewrite] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = stats(spark, path, partitionCol)
    plan(before, targetBytes).map { case (value, k) =>
      val dir = new Path(root, s"$partitionCol=$value")
      // leaf-dir read: partition column lives in the directory name, so
      // the frame carries exactly the data columns and writes back flat
      val tmp = new Path(root, s".compact-tmp-$partitionCol=$value")
      if (fs.exists(tmp)) fs.delete(tmp, true) // stale crash leftover
      relayout(spark.read.parquet(dir.toString), k, layoutSort)
        .write.parquet(tmp.toString)
      // two-rename swap: a racing reader sees the old files or the new,
      // never a mix — though between the renames the partition is briefly
      // ABSENT (dir renames aren't jointly atomic). This variant exists
      // for layouts that must stay readable by a bare
      // spark.read.parquet(root); a warehouse whose readers resolve
      // through the library should use the POINTERED layout below, whose
      // atomic per-partition pointer swing has no absence window at all.
      // A crash never loses data: the old dir survives as .compact-old
      // until the new one is in place
      val old = new Path(root, s".compact-old-$partitionCol=$value")
      require(fs.rename(dir, old), s"compaction swap failed: $dir -> $old")
      require(fs.rename(tmp, dir), s"compaction swap failed: $tmp -> $dir")
      fs.delete(old, true)
      rewriteOf(spark, before, value, dir.toString)
    }
  }

  // ---- pointered partitioned layout: compaction with NO absent window ----
  // Each partition directory is itself a MigrationRunner pointer store
  // (CURRENT + version dirs): compaction writes the rewrite as a NEW
  // version inside the partition's store and swings that partition's
  // pointer atomically — a racing reader resolving through readPointered
  // always lands on a complete directory (CompactionSpec races a reader
  // thread against repeated compactions). Superseded versions are reaped
  // per MigrationRunner.supersededVersions. The trade: the layout is no
  // longer bare-path readable (spark.read.parquet(root) would see nested
  // version dirs) — readers resolve through the library. VERDICT r13 next
  // #4: this is the variant that DELETES the absence caveat instead of
  // hedging it.
  //
  // Layout:   root/<partitionCol>=<value>/{CURRENT, HISTORY, v1, v2, ...}

  private def partitionStores(spark: SparkSession, path: String,
                              partitionCol: String): Seq[(String, String)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val prefix = s"$partitionCol="
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => s.getPath.getName.stripPrefix(prefix) -> s.getPath.toString)
      .sortBy(_._1)
  }

  /** Convert a flat `partitionCol=value` layout into the pointered layout:
    * each partition's data becomes version v1 of its own pointer store.
    * The source is read, not moved. Idempotent over a crash mid-init:
    * already-landed stores are skipped — landPointered only ever exposes a
    * COMPLETE store (atomic rename), so existing-with-CURRENT means done.
    * A store directory WITHOUT a CURRENT pointer cannot be this init's own
    * leftover (atomic exposure can't produce it) — it is a pre-atomic-
    * landing remnant or external corruption, and skipping it would leave a
    * permanently unreadable partition behind a "successful" init (ADVICE
    * r15), so it fails loud with the remediation instead: inspect the
    * remnant, delete it, and re-run (init rebuilds that value from the
    * flat source). */
  def initPointered(spark: SparkSession, flatPath: String,
                    pointeredPath: String, partitionCol: String): Unit = {
    val fs = new Path(pointeredPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    partitionStores(spark, flatPath, partitionCol).foreach {
      case (value, dir) =>
        val store = s"$pointeredPath/$partitionCol=$value"
        if (!fs.exists(new Path(store)))
          landPointered(spark, spark.read.parquet(dir), pointeredPath,
            partitionCol, value)
        else if (MigrationRunner.currentVersion(spark, store).isEmpty)
          sys.error(s"$store exists but has no CURRENT pointer — not a " +
            "landed store (atomic landing cannot leave this state); a " +
            "pre-atomic-landing remnant or external corruption. Inspect " +
            "and delete the directory, then re-run initPointered to " +
            "rebuild that value from the flat source.")
    }
  }

  /** Dot-hidden prefix of every landing build dir; maintainPointered's
    * janitor keys its crashed-lander sweep on it. */
  private[graft] val LandingPrefix = ".landing-"

  /** Race-pin injection point (tests only): runs after the build completes
    * and before the exposure rename — the window in which a doubled lander
    * must lose to the no-clobber rename, never corrupt the winner. */
  private[graft] var beforeExposeHook: () => Unit = () => ()

  /** Land `df` as a NEW partition store ATOMICALLY (r15): the store is
    * built COMPLETE (v1 + CURRENT + HISTORY) under a hidden dot-sibling,
    * then one atomic rename exposes it — a racing reader lists the
    * partition fully present or not at all, never a CURRENT-less store
    * under construction (building in place would expose exactly that,
    * and readers treat dir-without-CURRENT as corruption, loudly). The
    * mirror image of expirePointered's tomb rename: store birth and
    * death are both single renames.
    *
    * Concurrency (r16, ADVICE r15): the hidden build dir is UNIQUE PER
    * ATTEMPT (a nonce suffix), so concurrent landers of the same value
    * never share a build dir and the no-clobber exposure rename is the
    * SOLE arbiter — the r15 deterministic-dir design let a doubled lander
    * re-acquire the shared dir after the winner released its lock but
    * before it renamed, and mode=overwrite then deleted the winner's v1
    * out from under its own exposure. The rename goes through FileContext
    * WITHOUT the OVERWRITE option, which throws if the destination exists
    * — FileSystem.rename on HDFS would instead MOVE the source INSIDE an
    * existing destination directory (POSIX-mv semantics), silently
    * nesting the loser's build into the winner's store. The loser fails
    * loud and deletes its own (private) build dir; the winner's store
    * stands.
    *
    * Ownership spans the exposure: the build dir carries a stamped
    * MAINTENANCE.lock from first write to PAST the rename (the lock rides
    * the rename into the exposed store, then is released delete-if-mine) —
    * so there is no instant at which the store is exposed but unowned, and
    * maintenance sweeps racing a just-landed store see a fresh lock and
    * skip it.
    *
    * Crash recovery, every window: crash-by-exception mid-build deletes
    * its own hidden dir before rethrowing; a HARD-killed lander leaves a
    * uniquely-named hidden dir (invisible to readers, never in any later
    * lander's way — relanding the value just works, with a fresh dir)
    * whose stamped lock lets maintainPointered's janitor reap it once the
    * lease proves it dead; a crash between rename and lock release leaves
    * a complete, readable store holding a stale lock, which the same
    * lease sweep already recovers (it is a visible store). */
  def landPointered(spark: SparkSession, df: DataFrame,
                    pointeredPath: String, partitionCol: String,
                    value: String): Unit = {
    val store = new Path(s"$pointeredPath/$partitionCol=$value")
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(store),
      s"$store already exists — land new data via merge/compaction paths, " +
        "not a second landing")
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val hidden = s"$pointeredPath/$LandingPrefix$partitionCol=$value.$nonce"
    // stamp first, build second: any leftover dir a hard kill can leave
    // carries an adjudicable acquire stamp for the janitor's lease
    val stamp = MigrationRunner.stampMaintenanceLock(spark, hidden,
        s"landPointered $partitionCol=$value")
      .getOrElse(sys.error(s"fresh landing dir $hidden already locked — " +
        "nonce collision, retry the landing"))
    try {
      df.write.mode("overwrite").parquet(s"$hidden/v1")
      MigrationRunner.publish(spark, hidden, "v1")
    } catch {
      case scala.util.control.NonFatal(e) =>
        fs.delete(new Path(hidden), true) // private dir: always safe
        throw e
    }
    beforeExposeHook()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.makeQualified(store).toUri, spark.sparkContext.hadoopConfiguration)
    try fc.rename(fs.makeQualified(new Path(hidden)), fs.makeQualified(store))
    catch {
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.io.FileNotFoundException) =>
        fs.delete(new Path(hidden), true) // the loser reaps its own build
        sys.error(s"landing swap lost a race: $hidden -> $store (" +
          s"${e.getMessage}) — doubled lander, the winner's store stands")
    }
    MigrationRunner.releaseMaintenanceLockIfMine(spark, store.toString, stamp): Unit
  }

  /** Resolve every partition's live version and union them back into one
    * frame with `partitionCol` restored (cast to `partitionType`, e.g.
    * "date" for a p_day layout). A filter on `partitionCol` constant-folds
    * per union branch, so partition pruning still happens — at the plan
    * level instead of the directory listing.
    *
    * `onlyValues` prunes at the LISTING level instead (the Hive-partition-
    * pruning analog): a warehouse with years of day partitions is
    * thousands of stores, and even though constant-folding later discards
    * the cold branches, ANALYZING a thousands-branch union costs driver
    * time per query — a caller that knows its partition values up front
    * (point reads, day slices) should hand them here so the plan is built
    * over just those stores. Unlisted stores are never touched, not even
    * for pointer resolution. EVERY requested value must resolve to a
    * store: a typo'd or expired day in a multi-day slice fails loud
    * naming the missing values instead of silently dropping that day's
    * data from the result (ADVICE r14 — the silent-narrow contract was a
    * correctness trap). Callers that want skip-what's-absent semantics
    * use `readPointeredWhere`, whose predicate form makes the narrowing
    * explicit.
    *
    * Depth guard (r16, VERDICT r15 #4): an UNPRUNED read over more than
    * `FlatScanWarnAt` stores logs a loud warning naming the pruned paths —
    * the flat path's plan analysis measured 27 s for 1000 stores vs
    * 0.11 s pruned (PERF.md r15, "Pointered warehouse: listing-level
    * pruning measured at 1000 stores"), a silent driver tax a caller that
    * forgot `onlyValues`/`readPointeredWhere` on a years-deep warehouse
    * would pay on every query. Full-scan semantics are legitimate
    * (backfills, audits), so the guard warns rather than refuses;
    * `flatScanWarnings` counts the firings for tests and benches.
    *
    * `mergeSchema = false` (default): every store's footer schema must
    * match the first store's — a later partition that gained or retyped a
    * column fails LOUD naming the store and fields, instead of silently
    * null-filling it everywhere the imposed schema lacks it (see
    * unionStores). `mergeSchema = true` opts into evolution: each branch
    * reads with its own schema and the union aligns by name, null-filling
    * columns absent from older partitions — at the documented price of
    * per-branch footer inference at plan time. */
  def readPointered(spark: SparkSession, path: String, partitionCol: String,
                    partitionType: String = "string",
                    onlyValues: Option[Set[String]] = None,
                    mergeSchema: Boolean = false)
      : DataFrame = {
    val stores = partitionStores(spark, path, partitionCol)
      .filter { case (value, _) => onlyValues.forall(_.contains(value)) }
    onlyValues.foreach { req =>
      val missing = req -- stores.map(_._1).toSet
      require(missing.isEmpty,
        s"requested $partitionCol values have no store under $path: " +
          missing.toSeq.sorted.mkString(", "))
    }
    require(stores.nonEmpty, s"no ${onlyValues.fold("")(v =>
      s"selected (of ${v.size} requested) ")}$partitionCol= stores under $path")
    if (onlyValues.isEmpty && stores.size > FlatScanWarnAt) {
      flatScanWarnings.incrementAndGet()
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"readPointered over ALL ${stores.size} $partitionCol= stores under " +
          s"$path: plan analysis over an unpruned union this deep costs " +
          "driver seconds per query (measured ~27 s at 1000 stores). If " +
          "the query targets specific partitions, pass onlyValues or use " +
          "readPointeredWhere to prune at the listing level.")
    }
    // onlyValues callers demanded these exact values — a store expiring
    // between listing and resolution fails loud, same as absent-at-listing
    unionStores(spark, stores, partitionCol, partitionType,
      missingOk = onlyValues.isEmpty, mergeSchema = mergeSchema)
  }

  /** Store count past which an unpruned readPointered logs its depth
    * warning — ~a quarter-year of day partitions; deep enough that plan
    * analysis costs real driver time, shallow enough to fire well before
    * the years-deep regime where it hurts. */
  private[graft] val FlatScanWarnAt = 100
  private[graft] val flatScanWarnings =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Predicate-driven listing-level pruning (VERDICT r14 next #4): derive
    * the store list from `valuePred` over the LISTED partition values
    * BEFORE plan construction, so a day/date-range read over a years-deep
    * warehouse builds its union over just the matching stores instead of
    * paying driver plan-analysis for thousands of branches that constant-
    * folding would only later discard. Partition values are directory
    * names (ISO dates for p_day layouts, so lexicographic compare is date
    * order). Matching zero stores fails loud; values absent from the
    * listing are simply not matched — the predicate form makes that
    * explicit, unlike onlyValues' all-must-resolve contract. */
  def readPointeredWhere(spark: SparkSession, path: String,
                         partitionCol: String, partitionType: String,
                         mergeSchema: Boolean = false)
                        (valuePred: String => Boolean)
      : DataFrame = {
    val stores = partitionStores(spark, path, partitionCol)
      .filter { case (value, _) => valuePred(value) }
    require(stores.nonEmpty,
      s"partition predicate matched no $partitionCol= store under $path")
    unionStores(spark, stores, partitionCol, partitionType, missingOk = true,
      mergeSchema = mergeSchema)
  }

  // footer-schema cache, keyed by the sampled DATA FILE's full path: part
  // file names carry the write's UUID, so the same path never holds
  // different bytes across a store's expire/reland or compaction cycles —
  // the cache is sound for the JVM's lifetime, and repeat reads of a deep
  // warehouse pay the footer parse once per version (measured ~14 ms/store
  // uncached at 1000 stores, PERF.md r16 footer-schema drift row).
  // BOUNDED (review r16): compaction swings mint a new part-file UUID per
  // store per night, so a resident serving JVM over a large warehouse would
  // otherwise pin one dead-path entry per swing forever; at the cap the cache is cleared
  // whole — a full rebuild costs ~14 ms/store once, against unbounded heap
  // growth in exactly the always-on session the cache exists for.
  private val FooterCacheMax = 4096
  private val footerSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, Option[org.apache.spark.sql.types.StructType]]

  /** The Spark schema recorded in ONE data file's footer of `versionDir` —
    * the cheap cross-store schema check: a direct parquet footer open (no
    * DataSource resolution, no multi-file inference), reading the
    * `org.apache.spark.sql.parquet.row.metadata` key every Spark writer
    * stamps. None when the dir holds no data file (an empty version) or a
    * non-Spark writer left no schema key — validation is skipped for that
    * store (name-level drift still surfaces loud at the union). */
  private def footerSchema(spark: SparkSession, versionDir: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(spark, versionDir).sortBy(_.getPath.getName).headOption.flatMap { f =>
      if (footerSchemaCache.size > FooterCacheMax) footerSchemaCache.clear()
      footerSchemaCache.computeIfAbsent(f.getPath.toString, { _ =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try Option(rd.getFooter.getFileMetaData.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata"))
          .flatMap(j => scala.util.Try(
            org.apache.spark.sql.types.DataType.fromJson(j)
              .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption)
        finally rd.close()
      })
    }
  }

  /** `missingOk`: a store whose directory VANISHED between the listing and
    * pointer resolution was expired by a concurrent retention sweep —
    * expiry removes the whole store with one atomic rename (see
    * expirePointered), so "directory gone" is exactly "would not have been
    * listed a moment later" and the branch is skipped. A store whose
    * directory EXISTS but has no CURRENT is corrupt and always fails loud
    * (atomic-rename expiry can never produce that state).
    *
    * Schema contract (r16, VERDICT r15 #3): the default path imposes the
    * FIRST store's schema on every branch — one inference for the whole
    * layout (per-branch inference measured ~2.2 s of the board query's
    * 2.4 s plan build at 30 partitions). Imposition alone is a silent
    * evolution trap: a later partition that gained a column would read it
    * as ABSENT (and a retyped column could mis-decode), so each further
    * store's footer schema is VALIDATED against the imposed one — a direct
    * footer open per store, cheap next to the branch's own file listing —
    * and drift fails loud naming the store, the fields, and the
    * `mergeSchema` escape hatch. `mergeSchema = true` is the explicit
    * evolution mode: per-branch inference + align-by-name union that
    * null-fills columns a branch lacks (incompatible TYPES still fail loud
    * at the union). */
  private def unionStores(spark: SparkSession, stores: Seq[(String, String)],
                          partitionCol: String, partitionType: String,
                          missingOk: Boolean, mergeSchema: Boolean)
      : DataFrame = {
    import org.apache.spark.sql.functions.lit
    var schema: Option[org.apache.spark.sql.types.StructType] = None
    def checkAgainstImposed(value: String, versionDir: String): Unit =
      (schema, footerSchema(spark, versionDir)) match {
        case (Some(imposed), Some(found))
            if !sameFields(imposed, found) =>
          val i = imposed.map(f => f.name -> f.dataType).toMap
          val g = found.map(f => f.name -> f.dataType).toMap
          val missing = imposed.map(_.name).filterNot(g.contains)
          val extra = found.map(_.name).filterNot(i.contains)
          val retyped = found.collect {
            case f if i.get(f.name)
                .exists(_.catalogString != f.dataType.catalogString) =>
              s"${f.name}: ${i(f.name).catalogString} -> ${f.dataType.catalogString}"
          }
          sys.error(s"partition store $partitionCol=$value schema differs " +
            s"from the layout's first store ($versionDir):" +
            (if (missing.nonEmpty) s" missing=[${missing.mkString(", ")}]" else "") +
            (if (extra.nonEmpty) s" extra=[${extra.mkString(", ")}]" else "") +
            (if (retyped.nonEmpty) s" retyped=[${retyped.mkString("; ")}]" else "") +
            " — imposing one schema would silently null-fill or mis-read " +
            "it. Pass mergeSchema = true to align by name (null-filling " +
            "absent columns), or re-land the drifted partition.")
        case _ => () // first store, matching store, or no footer to check
      }
    val parts = stores.flatMap { case (value, store) =>
      MigrationRunner.currentVersion(spark, store) match {
        case None =>
          val storePath = new Path(store)
          val fs = storePath
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (missingOk && !fs.exists(storePath)) None // expired mid-plan
          else sys.error(s"no CURRENT pointer in partition store $store")
        case Some(name) =>
          // the parquet load lists files eagerly, so a store expired
          // between pointer resolution and here surfaces as path-not-
          // found — same race, same resolution: skip iff the store
          // directory is gone, rethrow anything else
          try {
            val df =
              if (mergeSchema) spark.read.parquet(s"$store/$name")
              else schema match {
                case Some(s) =>
                  checkAgainstImposed(value, s"$store/$name")
                  spark.read.schema(s).parquet(s"$store/$name")
                case None =>
                  val d = spark.read.parquet(s"$store/$name")
                  schema = Some(d.schema)
                  d
              }
            Some(df.withColumn(partitionCol, lit(value).cast(partitionType)))
          } catch {
            case scala.util.control.NonFatal(e) =>
              val storePath = new Path(store)
              val fs = storePath
                .getFileSystem(spark.sparkContext.hadoopConfiguration)
              if (missingOk && !fs.exists(storePath)) None
              else throw e
          }
      }
    }
    require(parts.nonEmpty,
      s"every listed $partitionCol= store expired before plan construction")
    parts.reduce(_.unionByName(_, allowMissingColumns = mergeSchema))
  }

  // catalogString comparison: type-equal ignoring nullability flags.
  // ORDER-INSENSITIVE (review r16): parquet column resolution under an
  // imposed schema is BY NAME, so two stores that differ only in column
  // order read identically — a positional compare would fail such a
  // warehouse with an error naming no field at all (every missing/extra/
  // retyped list empty). Sorted-pair compare also keeps duplicate names
  // (pathological but representable) from slipping through a map-based
  // check.
  private def sameFields(a: org.apache.spark.sql.types.StructType,
                         b: org.apache.spark.sql.types.StructType): Boolean =
    a.map(f => f.name -> f.dataType.catalogString).sortBy(_._1) ==
      b.map(f => f.name -> f.dataType.catalogString).sortBy(_._1)

  /** `stats` over the pointered layout: one listing of each partition's
    * LIVE version dir (retained previous generations don't count — they
    * are not what readers scan). A store whose DIRECTORY vanished between
    * the listing and here was expired by a concurrent retention sweep
    * (atomic rename — same race, same resolution as unionStores'
    * missingOk) and is skipped; a dir that EXISTS without CURRENT is
    * corrupt and fails loud — except under `lenient` (the UNATTENDED
    * sweep's mode, review r16): one remnant store must not abort a whole
    * warehouse's maintenance, so it is skipped with a loud warning and
    * left for the manual contract. */
  def statsPointered(spark: SparkSession, path: String,
                     partitionCol: String,
                     lenient: Boolean = false): Seq[PartitionStat] =
    partitionStores(spark, path, partitionCol).flatMap { case (value, store) =>
      val storePath = new Path(store)
      val fs = storePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      MigrationRunner.currentVersion(spark, store) match {
        case None =>
          if (!fs.exists(storePath)) None // expired between listing and here
          else if (lenient) {
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"store $store has no CURRENT pointer — skipping its stats " +
                "(inspect manually; see initPointered on pre-atomic remnants)")
            None
          }
          else sys.error(s"no CURRENT pointer in partition store $store")
        case Some(name) =>
          try Some(stat(spark, value, s"$store/$name"))
          catch {
            case scala.util.control.NonFatal(e) =>
              if (!fs.exists(storePath)) None // expired mid-listing
              else throw e
          }
      }
    }

  /** Retention for the pointered layout — the MergeByKey.expirePartitions
    * analog: drop partition STORES (pointer + every version) whose value
    * parses as a date older than `retentionDays` before the caller-
    * supplied `asOf` anchor (never now(); reproducible runs). A store
    * delete is one recursive directory remove — metadata-only, no data
    * rewrite, and because readers list partition dirs BEFORE resolving
    * pointers, a reader racing the expiry either sees the store (and its
    * still-intact live version — expiry deletes the whole store at once,
    * pointer last would be meaningless here since the partition itself is
    * leaving) or doesn't list it at all. Returns the expired values.
    *
    * Two r15 hardenings (VERDICT/ADVICE r14):
    *
    *   - Expiry is a maintenance WRITER: it must not race a live
    *     compactor on the same store — removing the store would take the
    *     compactor's in-flight version AND its lock file with it, and the
    *     compactor's subsequent publish would recreate CURRENT,
    *     resurrecting a retention-expired partition. Each removal runs
    *     under the store's maintenance lock, acquire-if-free: a store
    *     whose lock is held is SKIPPED this sweep (not reported expired)
    *     and picked up by the next retention run, while the rest of the
    *     sweep proceeds — fail-loud would abort remaining expired days
    *     over one busy store.
    *   - Removal is one ATOMIC RENAME to a hidden tomb (then the tomb is
    *     deleted): a racing reader observes the store fully present or
    *     fully absent, never a half-deleted store (a recursive delete
    *     can drop CURRENT before the directory, which a reader could not
    *     tell from corruption). readPointered treats store-vanished-
    *     mid-plan as not-listed and skips the branch. The remaining
    *     honest caveat: a reader EXECUTING a scan of the expiring
    *     partition's files fails loud (never silent partial rows) —
    *     reading data past its retention cutoff is a policy conflict,
    *     not a race to hide. Crash-leftover tombs are reaped at the next
    *     sweep's start; tombs are dot-hidden, so listings and bare
    *     parquet reads never see them. */
  def expirePointered(spark: SparkSession, path: String, partitionCol: String,
                      asOf: java.time.LocalDate,
                      retentionDays: Int): Seq[String] = {
    val cutoff = asOf.minusDays(retentionDays.toLong)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombPrefix = s".expired-$partitionCol="
    // reap crash leftovers: a sweep that died between rename and tomb
    // delete left a hidden tomb; any later sweep finishes the job
    if (fs.exists(root))
      fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(tombPrefix))
        .foreach(s => fs.delete(s.getPath, true))
    partitionStores(spark, path, partitionCol).flatMap { case (value, store) =>
      scala.util.Try(java.time.LocalDate.parse(value)).toOption
        .filter(_.isBefore(cutoff))
        // report only stores actually removed — a lock held by a live
        // maintainer (skip) or a failed rename must not enter the audit.
        // The exists pre-check skips stores a CONCURRENT sweep already
        // expired: acquiring the lock would resurrect the dir as a shell
        // and rename that shell into the tomb — self-healing but noisy
        // (a false foreign-lock alarm at release; review r16)
        .filter { _ =>
          fs.exists(new Path(store)) &&
          MigrationRunner.withMaintenanceLockIfFree(spark, store,
            s"expirePointered $partitionCol=$value") {
            val tomb = new Path(root, s"$tombPrefix$value")
            if (fs.exists(tomb)) fs.delete(tomb, true)
            val removed = fs.rename(new Path(store), tomb)
            if (removed) fs.delete(tomb, true)
            removed
          }.contains(true)
        }
        .map(_ => value)
    }
  }

  // one pointered events warehouse per source dir per JVM: a JVM-wide map
  // keyed by dir, so it outlives any one session (a later session in the
  // same JVM reuses the warehouse path) and is never invalidated — a
  // rewritten source dir keeps serving the warehouse built from the old
  // events until the JVM exits; scale dirs never alias
  private val pointeredWarehouses =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Day-partitioned POINTERED events warehouse for `dir`, built once per
    * JVM: events land day-partitioned but deliberately FRAGMENTED (a hash
    * repartition makes every writer task hit every day — the small-file
    * accretion a real landing produces), convert to the pointered layout,
    * then one compaction round rewrites every partition user-sorted and
    * SWINGS its pointer — so the adjudicated read path (the
    * warehouse_pointered_day board query) resolves post-swing pointers,
    * the layout as it looks mid-lifecycle, not a pristine v1. */
  def pointeredEventsWarehouse(spark: SparkSession, dir: String): String =
    pointeredWarehouses.computeIfAbsent(dir, { _ =>
      import org.apache.spark.sql.functions.{col, to_date}
      val base = java.nio.file.Files
        .createTempDirectory("graft-pointered-wh").toString
      val ev = graft.core.Tables.events(spark, dir)
        .withColumn("p_day", to_date(col("ts")))
      MergeByKey.overwritePartitions(ev.repartition(4), s"$base/flat", "p_day")
      initPointered(spark, s"$base/flat", s"$base/pointered", "p_day")
      val rewrites = compactPointered(spark, s"$base/pointered", "p_day",
        1L << 30, layoutSort = Seq(col("user_id")))
      require(rewrites.nonEmpty,
        "pointered warehouse fixture failed to fragment — the board query " +
          "would adjudicate a never-compacted layout")
      s"$base/pointered"
    })

  /** Pointered compaction: rewrite each planned partition's live version
    * into a fresh version of the SAME partition store and swing its
    * pointer (MigrationRunner.swapIn) — atomic per partition, no rename
    * dance, no absence. Superseded generations and crash leftovers
    * (versions written but never published) are reaped in the same commit.
    *
    * `skipHeld` (r15): interactive runs keep the default fail-loud-on-
    * contention; an UNATTENDED sweep (maintainPointered) passes true so
    * one store held by another maintainer — or expired out from under the
    * plan by a concurrent sweep — is skipped and left for the next sweep
    * (MigrationRunner.withLiveStoreLockIfFree) instead of aborting the
    * remaining partitions' rewrites. */
  def compactPointered(spark: SparkSession, path: String,
                       partitionCol: String, targetBytes: Long,
                       layoutSort: Seq[Column] = Nil,
                       skipHeld: Boolean = false)
      : Seq[Rewrite] = {
    val before = statsPointered(spark, path, partitionCol, lenient = skipHeld)
    plan(before, targetBytes).flatMap { case (value, k) =>
      val store = s"$path/$partitionCol=$value"
      val owner = s"compactPointered $partitionCol=$value"
      def rewrite: Rewrite = {
        val name = MigrationRunner.swapIn(spark, store, "v1") { dst =>
          relayout(MigrationRunner.current(spark, store), k, layoutSort)
            .write.parquet(dst)
        }
        rewriteOf(spark, before, value, s"$store/$name")
      }
      if (skipHeld) MigrationRunner.withLiveStoreLockIfFree(spark, store, owner)(rewrite)
      else Some(MigrationRunner.withMaintenanceLock(spark, store, owner)(rewrite))
    }
  }

  /** What one unattended maintenance sweep did — every count audited, so
    * a scheduler's logs carry the whole story: `locksBroken` lists stores
    * whose provably-stale lock the lease policy cleared, `rewrites` the
    * compactions performed, `expired` the partitions retention removed,
    * `landingsReaped` the crashed landers' leftover build dirs deleted
    * (dir names), and `versionsReaped` the crash-leftover version dirs
    * (written but never published) removed from stores compaction didn't
    * visit, as `value/version`. Stores skipped because a LIVE maintainer
    * held them simply don't appear (they are next sweep's work). */
  final case class MaintenanceReport(locksBroken: Seq[String],
                                     rewrites: Seq[Rewrite],
                                     expired: Seq[String],
                                     landingsReaped: Seq[String] = Nil,
                                     versionsReaped: Seq[String] = Nil)

  /** The UNATTENDED nightly maintenance entry point (VERDICT r14 next
    * #5): one call = stale-lock recovery (store locks AND crashed landers'
    * leftover build dirs, r16) → retention → crash-leftover version reap
    * (r16) → compaction over a pointered warehouse (retention before
    * compaction: a partition past its cutoff must not be rewritten just
    * to be deleted — at warehouse scale the expiring tail is exactly
    * where small-file debt accumulates), with the liveness policy a
    * scheduler needs and an interactive operator doesn't:
    *
    *   - `staleLockLease` (the policy knob): locks whose acquire stamp is
    *     older than the lease against `now` are broken before the sweep
    *     (a maintainer that crashed without releasing must not wedge the
    *     warehouse until a human runs breakMaintenanceLock). Size it well
    *     above the longest legitimate maintenance run — a SLOW maintainer
    *     past the lease loses its lock (the inherent lease trade, stated
    *     on breakMaintenanceLockIfStale). None = no lease: held stores
    *     are skipped and a human clears leftovers, the interactive
    *     contract.
    *   - compaction runs skipHeld: a store still held (fresh lock, live
    *     maintainer) is left for the next sweep, never aborts the sweep.
    *   - retention (expirePointered) already skips held stores.
    *
    * `now` is caller-supplied (the scheduler's real clock; tests pin it)
    * — wall-clock never enters the data path, only lock adjudication. */
  def maintainPointered(spark: SparkSession, path: String,
                        partitionCol: String, targetBytes: Long,
                        asOf: java.time.LocalDate, retentionDays: Int,
                        layoutSort: Seq[Column] = Nil,
                        staleLockLease: Option[java.time.Duration] = None,
                        now: () => java.time.Instant =
                          () => java.time.Instant.now()): MaintenanceReport = {
    val broken = staleLockLease.fold(Seq.empty[String]) { lease =>
      val instant = now()
      partitionStores(spark, path, partitionCol).collect {
        case (value, store) if MigrationRunner
            .breakMaintenanceLockIfStale(spark, store, lease, instant) => value
      }
    }
    val landings = staleLockLease.fold(Seq.empty[String])(lease =>
      reapStaleLandings(spark, path, lease, now()))
    val expired = expirePointered(spark, path, partitionCol, asOf,
      retentionDays)
    val versions = reapUnpublishedVersions(spark, path, partitionCol)
    val rewrites = compactPointered(spark, path, partitionCol, targetBytes,
      layoutSort, skipHeld = true)
    MaintenanceReport(broken, rewrites, expired, landings, versions)
  }

  // a landing build dir claimed for deletion: renamed OUT of the landing
  // namespace first (atomic), then deleted — a leftover under this prefix
  // is by construction already lease-adjudicated and is deleted on sight
  private[sinks] val ReapingPrefix = ".reaping-"

  /** Crashed-LANDER recovery (r16, VERDICT r15 #1): a hard-killed
    * landPointered leaves its uniquely-named hidden build dir behind —
    * invisible to readers and never in a relanding's way, but disk the
    * warehouse pays for forever if nothing reaps it. Each leftover carries
    * the stamped lock its lander wrote FIRST, so the same lease that
    * adjudicates dead maintainers adjudicates dead landers: a build dir
    * whose stamp is provably past the lease is reaped (it was never
    * exposed, so deletion is always safe); a fresh stamp is a LIVE lander
    * mid-build, skipped; a dir with no readable stamp (a kill inside the
    * stamp write itself) has unverifiable age — left for the manual
    * contract, same as a stampless lock.
    *
    * The reap is CLAIM-BY-RENAME, not break-then-delete (review r16): the
    * staleness check is read-only (maintenanceLockStale), the claim is one
    * atomic rename out of the `.landing-` namespace into `.reaping-`, and
    * only then is the claimed dir deleted. The old two-step (delete the
    * lock, then the dir) manufactured its own garbage on a crash between
    * the steps: a now-STAMPLESS landing dir the lease policy refuses to
    * touch forever. A `.reaping-` leftover, by contrast, is already
    * adjudicated and is deleted on sight at the start of every sweep; two
    * concurrent sweeps race the rename and the loser simply skips.
    * Returns the reaped dir names (original landing names). */
  private def reapStaleLandings(spark: SparkSession, path: String,
                                lease: java.time.Duration,
                                now: java.time.Instant): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    // finish any prior sweep's crash-interrupted reaps first
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(ReapingPrefix))
      .foreach(s => fs.delete(s.getPath, true))
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(LandingPrefix))
      .sortBy(_.getPath.getName)
      .filter { dir =>
        MigrationRunner.maintenanceLockStale(spark, dir.getPath.toString, lease, now) && {
          val claimed = new Path(root, ReapingPrefix + dir.getPath.getName)
          fs.rename(dir.getPath, claimed) && { fs.delete(claimed, true); true }
        }
      }
      .map(_.getPath.getName)
  }

  /** Crash-leftover VERSION reap for stores compaction won't visit (r16,
    * VERDICT r15 #6): compactPointered reaps unpublished versions, but
    * only in partitions it rewrites — a maintainer that crashed between
    * write and publish in an already-compact store leaves its version dir
    * until that store next fragments, which may be never. Sweep every
    * store: under its lock (MigrationRunner.withLiveStoreLockIfFree — a
    * held store is a live maintainer whose in-flight version must NOT be
    * reaped; next sweep's work), delete the versions
    * MigrationRunner.supersededVersions returns. A lock-free pre-scan
    * skips the lock churn on the (typical) all-clean warehouse. */
  private def reapUnpublishedVersions(spark: SparkSession, path: String,
                                      partitionCol: String): Seq[String] =
    partitionStores(spark, path, partitionCol).flatMap { case (value, store) =>
      if (MigrationRunner.currentVersion(spark, store).isEmpty) {
        // no CURRENT pointer (never abort the unattended sweep over one
        // store; review r16). A VANISHED dir was expired by a concurrent
        // sweep — skip silently. A COMPLETELY EMPTY dir is an unambiguous
        // crash leftover (a resurrected shell whose reaping sweep died;
        // its presence breaks readers and blocks relanding) — deleted
        // and audited. A shell still holding a stale lock heals across
        // the same sweep: the stale-lock pass runs first, emptying it.
        // Anything with real content is skipped LOUDLY (the manual
        // pre-atomic-remnant contract).
        val storePath = new Path(store)
        val f = storePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val entries =
          try Some(f.listStatus(storePath))
          catch { case _: java.io.FileNotFoundException => None }
        entries match {
          case Some(es) if es.isEmpty && f.delete(storePath, true) =>
            Seq(s"$value/(empty shell)")
          case Some(_) =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"store $store has no CURRENT pointer — skipping its " +
                "version reap (inspect manually; see initPointered on " +
                "pre-atomic remnants)")
            Nil
          case None => Nil // expired between listing and here
        }
      }
      else if (MigrationRunner.supersededVersions(spark, store).isEmpty) Nil
      else MigrationRunner.withLiveStoreLockIfFree(spark, store,
          s"maintainPointered reap $partitionCol=$value") {
        // re-scanned under the lock: authoritative
        val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
        MigrationRunner.supersededVersions(spark, store).map { p =>
          fs.delete(p, true)
          s"$value/${p.getName}"
        }
      }.getOrElse(Nil)
    }
}
