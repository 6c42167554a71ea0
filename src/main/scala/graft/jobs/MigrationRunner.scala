package graft.jobs

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Migration lifecycle — the engine-side form of src/pipelines/migration.py:
  * 136-214 (validate → copy → count-compare → switchover):
  *
  *   1. pre-validation on the source (dup-PK check, migration.py:287-319),
  *      fused with the row count in ONE aggregation pass,
  *   2. distributed copy (the reference's LIMIT/OFFSET loop,
  *      migration.py:439-448, is a whole-set write in Spark),
  *   3. count + symmetric sample reconciliation (migration_queries.sql:
  *      110-137) — both directions, so extra/duplicated target rows are
  *      caught, not just missing ones,
  *   4. switchover via an atomic pointer rename through the Hadoop
  *      filesystem API, so it works on HDFS/S3A as well as local disk and
  *      readers never observe a torn pointer.
  *
  * Refuses to overwrite the live store (targetName must differ from the
  * CURRENT pointer's value).
  */
object MigrationRunner {

  final case class MigrationReport(
    sourceRows: Long, targetRows: Long, countsMatch: Boolean,
    sampleMismatches: Long, switched: Boolean)

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A small UTF-8 file's whole content, or None if it does not exist. */
  private[graft] def readText(f: FileSystem, p: Path): Option[String] =
    try {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  private def readPointer(spark: SparkSession, root: String): Option[String] =
    readText(fs(spark, root), new Path(s"$root/CURRENT")).map(_.trim)

  /** Write-tmp-then-rename, atomic on every supported scheme: HDFS renames
    * via FileContext Rename.OVERWRITE; for `file://` the local ChecksumFs
    * implements overwrite as delete-then-rename (a reader could catch a
    * missing file for an instant), so the local path instead writes through
    * the RAW filesystem (no .crc sidecar to go stale) and swaps with
    * java.nio `ATOMIC_MOVE` — a true rename(2). Either way a concurrent
    * reader sees the old content or the new, never a torn or absent file. */
  private def writeFileAtomic(spark: SparkSession, root: String,
                              file: String, content: String): Unit = {
    val tmp = new Path(s"$root/$file.tmp")
    val dst = new Path(s"$root/$file")
    val f = fs(spark, root)
    f match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem
          if Option(f.getUri.getScheme).forall(_ == "file") =>
        val raw = c.getRawFileSystem
        val out = raw.create(tmp, true)
        try out.write(content.getBytes("UTF-8")) finally out.close()
        // a .crc from a pre-existing checksummed write would mismatch the
        // swapped-in content; with it gone, ChecksumFs reads verify-free
        raw.delete(c.getChecksumFile(dst), false)
        raw.delete(c.getChecksumFile(tmp), false)
        java.nio.file.Files.move(
          java.nio.file.Paths.get(raw.makeQualified(tmp).toUri.getPath),
          java.nio.file.Paths.get(raw.makeQualified(dst).toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      case _ =>
        val out = f.create(tmp, true)
        try out.write(content.getBytes("UTF-8")) finally out.close()
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          new Path(root).toUri, spark.sparkContext.hadoopConfiguration)
        fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  private def writePointerAtomic(spark: SparkSession, root: String, name: String): Unit =
    writeFileAtomic(spark, root, "CURRENT", name)

  /** Switchover history: one version name per line, appended on every
    * successful switchover, creation-ordered — the lineage rollback() walks
    * backward. Failed migrations never reach it (their directory is deleted
    * before the pointer moves). */
  private def readHistory(spark: SparkSession, root: String): Seq[String] =
    readText(fs(spark, root), new Path(s"$root/HISTORY")).fold(Seq.empty[String])(
      _.split("\n").toSeq.map(_.trim).filter(_.nonEmpty))

  private def appendHistory(spark: SparkSession, root: String, name: String): Unit =
    writeFileAtomic(spark, root, "HISTORY",
      (readHistory(spark, root) :+ name).mkString("", "\n", "\n"))

  /** Deterministic ~1/37 sample keyed by hash — works for any key type
    * (a `key % 37` predicate silently yields an empty sample for strings).
    * pmod alone: it is already non-negative for negative hashes, and an
    * abs() on Int.MinValue would throw under ANSI overflow checking. */
  private def sampled(df: DataFrame, keys: Seq[String]): DataFrame =
    df.filter(pmod(hash(keys.map(col): _*), lit(37)) === 0)

  // ---- per-store maintenance mutex ----
  // WRITERS to a pointer store (migrate's copy+switchover, compaction's
  // rewrite+publish+reap, rollback's pointer move) assume they are the
  // only maintainer: the compaction reap deletes every version directory
  // outside its keep set — which includes a CONCURRENT writer's complete-
  // but-not-yet-published version — and HISTORY appends are read-modify-
  // write, so two concurrent switchovers can lose a lineage line. At
  // cluster scale "two maintainers" is one double-fired scheduler away,
  // so the maintenance entry points serialize on a per-store lock file
  // instead of documenting the hazard. READERS never touch the lock —
  // the atomic pointer is what protects them.
  //
  // The lock is an exclusive-create: atomic on HDFS (server-side create
  // with overwrite=false) and on local disk (java.io.File.createNewFile,
  // a true O_CREAT|O_EXCL — the Hadoop local FS's default createNewFile
  // is a non-atomic exists-then-create, so the file:// scheme goes
  // through java.io directly). Object-store schemes are NOT atomic here —
  // see withMaintenanceLock's scaladoc. Contention and crash leftovers
  // FAIL LOUD by default: the operator verifies no maintainer is live,
  // then clears it with breakMaintenanceLock — the same explicit-recovery
  // contract as z-compaction's unverifiable-state rejection. Unattended
  // schedulers that cannot page a human get the OPT-IN lease policy
  // instead: the lock carries its acquire stamp, and
  // breakMaintenanceLockIfStale breaks only provably-old locks against a
  // caller-supplied clock (wall-clock stays out of the data path — the
  // stamp is operational metadata, like the serving tier's response
  // timestamps).

  private def lockPath(root: String) = new Path(s"$root/MAINTENANCE.lock")

  // schemes whose exclusive-create is known server-side atomic; anything
  // else (s3a and friends implement create(overwrite=false) as a client-
  // side exists-then-put) gets a loud once-per-scheme warning instead of a
  // silently voided mutex
  private val atomicExclusiveCreateSchemes = Set("file", "hdfs", "viewfs")
  private val warnedSchemes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def tryCreateExclusive(f: FileSystem, p: Path,
                                 content: String): Boolean = {
    val scheme = Option(f.getUri.getScheme).getOrElse("file")
    val isLocal = scheme == "file"
    if (!atomicExclusiveCreateSchemes(scheme) && warnedSchemes.add(scheme)) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"maintenance lock on scheme '$scheme': exclusive-create may not " +
          "be atomic there (object stores emulate create(overwrite=false) " +
          "client-side) — two maintainers can both acquire. Use HDFS/local " +
          "for pointer stores, or an external lock service.")
    }
    val created =
      if (isLocal) {
        val raw = f match {
          case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
          case other => other
        }
        val local = new java.io.File(raw.makeQualified(p).toUri.getPath)
        Option(local.getParentFile).foreach(_.mkdirs())
        local.createNewFile()
      } else {
        try { f.create(p, false).close(); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.io.IOException if f.exists(p) => false
        }
      }
    if (created) {
      // the owner+stamp content is advisory (contention message, stale-
      // lease adjudication); existence is the mutex. All-or-nothing: if
      // the content write fails after the exclusive create succeeded, the
      // just-created empty lock is removed before rethrowing — a transient
      // IO error must not leave a lock that blocks all future maintenance
      // until a manual break (ADVICE r14).
      try {
        val out = f.create(p, true)
        try out.write(content.getBytes("UTF-8")) finally out.close()
      } catch {
        case scala.util.control.NonFatal(e) =>
          try f.delete(p, false)
          catch { case scala.util.control.NonFatal(_) => () }
          throw e
      }
    }
    created
  }

  /** Lock content: line 1 the owner tag, line 2 `acquired=<ISO instant>`.
    * The stamp is OPERATIONAL metadata only (lease adjudication for dead
    * maintainers; it never flows into query results, so the no-now()
    * data-path discipline is untouched — same standing as the serving
    * tier's response timestamps). */
  private def lockContent(owner: String): String =
    s"$owner\nacquired=${java.time.Instant.now()}"

  private def readLockRaw(f: FileSystem, p: Path): Option[String] =
    try readText(f, p) catch { case scala.util.control.NonFatal(_) => None }

  private def parseLock(raw: String): (String, Option[java.time.Instant]) = {
    val lines = raw.linesIterator.toSeq
    val stamp = lines.collectFirst {
      case l if l.startsWith("acquired=") =>
        scala.util.Try(java.time.Instant.parse(l.stripPrefix("acquired=")))
          .toOption
    }.flatten
    lines.headOption.getOrElse("").trim -> stamp
  }

  private def readLock(f: FileSystem, p: Path): Option[(String, Option[java.time.Instant])] =
    readLockRaw(f, p).map(parseLock)

  /** Observability counter for the delete-if-mine release: bumped every
    * time a releasing holder finds a FOREIGN lock where its own should be
    * — i.e. its lease was broken and another maintainer took over while it
    * was still running. The loud log at the release site is the holder's
    * you-exceeded-the-lease signal; this counter lets tests pin that the
    * signal fired. */
  private[graft] val foreignLocksAtRelease =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Delete `p` only if its content still equals `expected` — the shared
    * guard under both the delete-if-mine release and the stale-lease break.
    * The re-read immediately before the delete NARROWS (does not eliminate:
    * the filesystem offers no compare-and-delete) the read-then-delete
    * window in which a concurrent lease break plus a fresh acquisition
    * could swap the file under us; with the window down to two adjacent
    * metadata ops, exploiting it takes a second sweep breaking the SAME
    * lease in the same instant — and the delete-if-mine release on the new
    * holder still catches the cascade one step later. Returns whether the
    * lock was deleted. */
  private[graft] def deleteLockIfContentStill(f: FileSystem, p: Path,
                                              expected: String): Boolean =
    readLockRaw(f, p).contains(expected) && f.delete(p, false)

  /** Run `body` as `storeRoot`'s exclusive maintainer. Throws (loud, with
    * the holder's tag and the remediation) if another maintainer holds the
    * lock; always releases on exit, crash-by-exception included.
    *
    * Atomicity scope: the exclusive-create mutex is atomic on HDFS
    * (server-side create with overwrite=false) and local disk (O_CREAT|
    * O_EXCL via java.io). On object stores (s3a, gcs, abfs) the same call
    * is a client-side exists-then-put, so two concurrent maintainers can
    * both "acquire" — exactly where clustered double-fires are likely.
    * Unrecognized schemes get a loud log warning; run pointer-store
    * maintenance from HDFS/local paths, or front it with a real lock
    * service. */
  def withMaintenanceLock[T](spark: SparkSession, storeRoot: String,
                             owner: String)(body: => T): T =
    withMaintenanceLockIfFree(spark, storeRoot, owner)(body).getOrElse {
      val f = fs(spark, storeRoot)
      val p = lockPath(storeRoot)
      val (holder, since) = readLock(f, p).getOrElse("<unreadable>" -> None)
      sys.error(
        s"maintenance lock at $p is held by '$holder'" +
          since.fold("")(s => s" (acquired $s)") +
          s" — refusing to run '$owner' concurrently (a second maintainer " +
          "could reap the holder's in-flight version or lose a HISTORY " +
          "line). If the holder crashed without releasing, verify no " +
          "maintainer is live, then MigrationRunner.breakMaintenanceLock " +
          "(or breakMaintenanceLockIfStale under a lease policy).")
    }

  /** Acquire-if-free variant for sweeping maintainers (retention): runs
    * `body` under the store's lock and returns Some(result), or returns
    * None WITHOUT running it when another maintainer holds the lock — the
    * sweep skips the busy store and retries it next run instead of
    * aborting mid-sweep.
    *
    * Release is OWNERSHIP-CHECKED (r16, VERDICT r15 #2): the holder deletes
    * the lock only if its content is still the exact owner+stamp it wrote.
    * Without the check, a lease break cascades: sweep breaks slow holder
    * A's lock, maintainer B acquires a fresh one, and A's unconditional
    * `finally delete` would then remove B's lock — silently re-opening the
    * store to a third maintainer while B is mid-rewrite. With it, A's
    * release finds a foreign lock, leaves it alone, and logs loudly — that
    * log is A's you-exceeded-the-lease signal (it gets no other). */
  def withMaintenanceLockIfFree[T](spark: SparkSession, storeRoot: String,
                                   owner: String)(body: => T): Option[T] =
    // stampMaintenanceLock owns directory creation — no second fs()/mkdirs
    // round-trip here (review r16)
    stampMaintenanceLock(spark, storeRoot, owner).map { mine =>
      try body
      finally releaseMaintenanceLockIfMine(spark, storeRoot, mine): Unit
    }

  /** Exclusive-create the store's maintenance lock without a scoped body —
    * for maintenance actions whose critical section ends at a RENAME that
    * carries the lock file to a new path (landPointered: the lock rides the
    * hidden build dir into the exposed store, so ownership spans the
    * rename). Returns the exact content written (the release token for
    * releaseMaintenanceLockIfMine), or None if another maintainer holds the
    * lock. Prefer the scoped with* forms everywhere the lock path is
    * stable. */
  def stampMaintenanceLock(spark: SparkSession, storeRoot: String,
                           owner: String): Option[String] = {
    val f = fs(spark, storeRoot)
    f.mkdirs(new Path(storeRoot))
    val content = lockContent(owner)
    if (tryCreateExclusive(f, lockPath(storeRoot), content)) Some(content)
    else None
  }

  /** Delete-if-mine release: removes the store's lock only if its content
    * still equals `mine` (the token stampMaintenanceLock returned). A
    * FOREIGN lock — this holder's lease was broken and another maintainer
    * took over — is left alone and logged loudly; returns whether the lock
    * was ours and released. */
  def releaseMaintenanceLockIfMine(spark: SparkSession, storeRoot: String,
                                   mine: String): Boolean = {
    val f = fs(spark, storeRoot)
    val p = lockPath(storeRoot)
    // one retried attempt: the guard's read swallows transient IO failures
    // as "not mine", and stranding our own still-valid lock wedges the
    // store until a lease break while logging a MISLEADING lease-broken
    // error (review r16). A blip heals on the retry; a genuinely foreign
    // or vanished lock reads the same both times.
    val released = deleteLockIfContentStill(f, p, mine) || {
      Thread.sleep(50)
      deleteLockIfContentStill(f, p, mine)
    }
    if (!released) {
      foreignLocksAtRelease.incrementAndGet()
      val holder = readLock(f, p).map { case (o, s) =>
        s"'$o'" + s.fold("")(i => s" (acquired $i)")
      }.getOrElse("<gone or unreadable>")
      org.slf4j.LoggerFactory.getLogger(getClass).error(
        s"maintenance lock at $p is no longer this holder's " +
          s"('${parseLock(mine)._1}'): the lease was broken mid-run and the " +
          s"lock now belongs to $holder. This maintainer exceeded the lease " +
          "— its work may have overlapped the new holder's; leaving the " +
          "foreign lock in place. (If the holder reads <gone or unreadable> " +
          "and no lease policy is active, the lock may merely be " +
          "unreadable — verify before breaking.)")
    }
    released
  }

  /** Whether the store's lock is provably stale under the lease — the
    * READ-ONLY half of breakMaintenanceLockIfStale, for sweeps that claim
    * a stale resource by RENAME instead of by deleting the lock (the
    * landing-dir janitor: deleting the lock first and the dir second
    * leaves, on a crash between the two, exactly the stampless dir the
    * janitor refuses to touch forever — review r16). Same refusals as the
    * break: fresh, stampless, or absent locks are not stale. */
  def maintenanceLockStale(spark: SparkSession, storeRoot: String,
                           olderThan: java.time.Duration,
                           now: java.time.Instant): Boolean =
    readLock(fs(spark, storeRoot), lockPath(storeRoot)) match {
      case Some((_, Some(stamp))) =>
        java.time.Duration.between(stamp, now).compareTo(olderThan) > 0
      case _ => false
    }

  /** Reap a store-root SHELL this maintainer accidentally resurrected:
    * acquiring a lock recreates the store directory when a concurrent
    * retention sweep expired it between the caller's listing and the
    * acquisition (lock creation makes parent dirs — irreducible without a
    * create-without-parents primitive on every scheme). The leftover empty
    * dir is not benign: readers fail loud on dir-without-CURRENT and a
    * relanding's no-clobber exposure rename refuses the occupied path
    * (review r16). Deletes `storeRoot` iff it contains NOTHING but this
    * holder's own lock (content == `mine`); returns whether the shell was
    * removed — the caller then SKIPS its normal release, the lock died
    * with the shell. A dir with any other content (a real store, a
    * pre-atomic remnant) is left alone: the caller releases and handles
    * it under its own contract. */
  def reapResurrectedShell(spark: SparkSession, storeRoot: String,
                           mine: String): Boolean = {
    val f = fs(spark, storeRoot)
    val root = new Path(storeRoot)
    val entries =
      try f.listStatus(root)
      catch { case _: java.io.FileNotFoundException => return false }
    entries.length == 1 &&
      entries(0).getPath.getName == lockPath(storeRoot).getName &&
      readLockRaw(f, entries(0).getPath).contains(mine) &&
      f.delete(root, true)
  }

  /** The UNATTENDED-sweep lock over a LIVE store: runs `body` under the
    * store's lock and returns Some(result), or returns None without
    * running it when the store's directory is gone (a concurrent sweep
    * expired it; acquiring would resurrect it as a shell), another
    * maintainer holds the lock (next sweep's work), or the store has no
    * CURRENT pointer under the lock. In that last case the store either
    * vanished between the check and the acquisition — the shell the
    * acquisition re-created is reaped (reapResurrectedShell), since an
    * empty dir without CURRENT breaks readers and blocks relanding — or
    * it holds other content (a pre-atomic remnant), which is skipped with
    * a loud warning and left for the manual contract. Interactive callers
    * use withMaintenanceLock, which fails loud instead. */
  def withLiveStoreLockIfFree[T](spark: SparkSession, storeRoot: String,
                                 owner: String)(body: => T): Option[T] =
    if (!fs(spark, storeRoot).exists(new Path(storeRoot))) None
    else stampMaintenanceLock(spark, storeRoot, owner).flatMap { mine =>
      var shellReaped = false
      try {
        if (readPointer(spark, storeRoot).nonEmpty) Some(body)
        else {
          shellReaped = reapResurrectedShell(spark, storeRoot, mine)
          if (!shellReaped)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"store $storeRoot has no CURRENT pointer and is not an empty " +
                s"shell — skipping '$owner' (inspect manually; see " +
                "Compaction.initPointered on pre-atomic remnants)")
          None
        }
      } finally if (!shellReaped)
        releaseMaintenanceLockIfMine(spark, storeRoot, mine): Unit
    }

  /** Explicit recovery from a dead maintainer's leftover lock. Returns
    * whether a lock existed. */
  def breakMaintenanceLock(spark: SparkSession, storeRoot: String): Boolean =
    fs(spark, storeRoot).delete(lockPath(storeRoot), false)

  /** Lease-policy recovery for UNATTENDED schedulers: break the store's
    * lock only if its acquire stamp is older than `olderThan` before
    * `now` (caller-supplied clock — tests pin it; a runner passes its real
    * clock). Returns true iff a lock was broken. Refuses (false) when the
    * lock is fresh, has no parseable stamp (pre-stamp or hand-written
    * locks — age unverifiable, so the manual breakMaintenanceLock contract
    * applies), or doesn't exist.
    *
    * Caveat (same as any lease): a maintainer that is merely SLOW, not
    * dead, loses its lock at the lease boundary — size `olderThan` well
    * above the longest legitimate maintenance run, and keep the manual
    * verify-no-live-maintainer path for anything ambiguous.
    *
    * The break deletes only if the lock's CONTENT is unchanged since the
    * staleness read (ADVICE r15): between reading the stale stamp and the
    * delete, another sweep could break the same lock and a new maintainer
    * acquire a fresh one — an unconditional delete would then remove the
    * FRESH lock, re-opening the store mid-rewrite. The content re-read
    * narrows that window to two adjacent metadata ops (see
    * deleteLockIfContentStill for why it cannot be eliminated here, and
    * why the delete-if-mine release catches the residue). */
  def breakMaintenanceLockIfStale(spark: SparkSession, storeRoot: String,
                                  olderThan: java.time.Duration,
                                  now: java.time.Instant): Boolean = {
    val f = fs(spark, storeRoot)
    val p = lockPath(storeRoot)
    readLockRaw(f, p) match {
      case Some(raw) => parseLock(raw)._2 match {
        case Some(stamp) if java.time.Duration.between(stamp, now)
            .compareTo(olderThan) > 0 => deleteLockIfContentStill(f, p, raw)
        case _ => false
      }
      case None => false
    }
  }

  def migrate(spark: SparkSession, sourceDf: DataFrame, storeRoot: String,
              targetName: String, key: String): MigrationReport =
    migrate(spark, sourceDf, storeRoot, targetName, Seq(key))

  /** Composite-key form: the unique key may be a grain of several columns
    * (e.g. an incremental state table at (user_id, payment_method)). */
  def migrate(spark: SparkSession, sourceDf: DataFrame, storeRoot: String,
              targetName: String, keys: Seq[String]): MigrationReport =
   withMaintenanceLock(spark, storeRoot, s"migrate $targetName") {
    require(keys.nonEmpty, "migrate needs at least one key column")
    readPointer(spark, storeRoot).foreach(live =>
      require(live != targetName,
        s"'$targetName' is the live store — refusing to overwrite it"))

    // 1. one pass: row count + duplicate-key count together
    val pre = sourceDf.groupBy(keys.map(col): _*).count()
      .agg(sum(col("count")).as("rows"),
        count(when(col("count") > 1, 1)).as("dups"))
      .collect()(0)
    val ns = pre.getAs[Long]("rows")
    require(pre.getAs[Long]("dups") == 0,
      s"source has ${pre.getAs[Long]("dups")} duplicate '${keys.mkString(",")}' values — aborting migration")

    // 2. distributed copy
    val targetPath = s"$storeRoot/$targetName"
    sourceDf.write.mode("overwrite").parquet(targetPath)

    // 3. symmetric reconciliation
    val target = spark.read.parquet(targetPath)
    val nt = target.count()
    val (ss, ts) = (sampled(sourceDf, keys), sampled(target, keys))
    val mismatches = ss.exceptAll(ts).count() + ts.exceptAll(ss).count()

    // 4. switchover only on full reconciliation; a FAILED copy is deleted
    // (the reference's rollback-on-failed-validation, migration.py) — it
    // must not linger as a version directory, or a later rollback()'s
    // newest-non-live default would happily re-point CURRENT at data that
    // never passed validation
    val ok = ns == nt && mismatches == 0
    if (ok) {
      writePointerAtomic(spark, storeRoot, targetName)
      appendHistory(spark, storeRoot, targetName)
    } else fs(spark, storeRoot).delete(new Path(targetPath), true)
    MigrationReport(ns, nt, ns == nt, mismatches, ok)
   }

  /** Swing CURRENT at an existing version directory WITHOUT migrate's
    * validation pass — for maintenance rewrites (compaction) whose content
    * checks live with the caller: the rewrite is derived from the live
    * version in the same job, so count+sample reconciliation against it
    * would re-scan what was just written. Appends to HISTORY like any
    * switchover, so rollback lineage stays intact. The pointer write is
    * atomic (see writeFileAtomic): a reader resolving `current` sees the
    * old version or the new, never a torn pointer or an absent table —
    * this is what closes the two-rename swap's brief-absence window for
    * pointered layouts (sinks/Compaction.compactPointered,
    * sinks/ZOrderLayout.compactZOrderedVersioned). Deliberately does NOT
    * take the maintenance lock: publish is the commit step of a larger
    * maintenance action whose caller already holds it (taking it here
    * would deadlock the non-reentrant mutex). */
  def publish(spark: SparkSession, storeRoot: String, name: String): Unit = {
    require(fs(spark, storeRoot).exists(new Path(s"$storeRoot/$name")),
      s"cannot publish '$name': $storeRoot/$name does not exist")
    writePointerAtomic(spark, storeRoot, name)
    appendHistory(spark, storeRoot, name)
  }

  /** First version name of the form base / base-1 / base-2… that is neither
    * the live store nor an existing directory — re-running a batch with the
    * same base (e.g. the same runDate) gets a fresh version instead of
    * tripping the live-store guard. */
  def freshVersionName(spark: SparkSession, storeRoot: String, base: String): String = {
    val live = readPointer(spark, storeRoot)
    val f = fs(spark, storeRoot)
    Iterator.from(0)
      .map(k => if (k == 0) base else s"$base-$k")
      .find(n => !live.contains(n) && !f.exists(new Path(s"$storeRoot/$n")))
      .get
  }

  /** The retention policy of a pointer store, stated once. A version
    * directory is retained iff it is live (CURRENT), among the last three
    * names in the switchover HISTORY, or named in `keep`; every other
    * directory is returned, name-ordered, for the caller to reap.
    *
    * Three: with the pointer at the head of HISTORY that is the live
    * version plus the two most recently superseded, so a reader that
    * resolved the pointer must stall across three swings of the store to
    * lose its version (longer-lived readers need time-based retention, a
    * policy knob, not a correctness gap). `keep`: a committing maintainer
    * passes the version live before its swap, since the pointer need not
    * sit at the head of HISTORY (rollback moves it without appending; a
    * HISTORY may predate its pointer) and a racing reader may just have
    * resolved it. Crash leftovers (written, never published) are in no set
    * and are returned. With no CURRENT pointer, or no store directory, the
    * result is empty. Delete only under the store's maintenance lock: a
    * concurrent writer's unpublished version looks like a crash leftover. */
  def supersededVersions(spark: SparkSession, storeRoot: String,
                         keep: Set[String] = Set.empty): Seq[Path] =
    readPointer(spark, storeRoot).fold(Seq.empty[Path]) { live =>
      val retained = readHistory(spark, storeRoot).takeRight(3).toSet ++ keep + live
      try fs(spark, storeRoot).listStatus(new Path(storeRoot)).toSeq
        .filter(_.isDirectory).map(_.getPath)
        .filterNot(p => retained(p.getName)).sortBy(_.getName)
      catch { case _: java.io.FileNotFoundException => Nil }
    }

  /** The commit of a pointer-store maintenance rewrite: a fresh version
    * name from `base`, the caller's `write` of that version's directory
    * (it receives the path), publish, then reap of every superseded
    * version — the version live before the swap is kept explicitly (see
    * supersededVersions). A crash before publish leaves only an
    * unreferenced directory that a later reap removes; the pointer only
    * ever references complete writes. The caller holds the store's
    * maintenance lock. Returns the new version name. */
  def swapIn(spark: SparkSession, storeRoot: String, base: String)
            (write: String => Unit): String = {
    val prevLive = readPointer(spark, storeRoot)
    val name = freshVersionName(spark, storeRoot, base)
    write(s"$storeRoot/$name")
    publish(spark, storeRoot, name)
    val f = fs(spark, storeRoot)
    supersededVersions(spark, storeRoot, prevLive.toSet).foreach(f.delete(_, true))
    name
  }

  /** Re-point CURRENT at a previous version — the reference's rollback path
    * (src/pipelines/migration.py's failed-validation revert). Switchover
    * never deletes old versions, so rollback is a pure pointer move: readers
    * resolve the old data on their next `current` call. `to` picks the
    * version explicitly; by default the version CREATED before the live one
    * (per the switchover HISTORY log), so repeated rollbacks walk backward
    * deterministically — v3 → v2 → v1 → error — instead of ping-ponging
    * between the two newest directories the way a newest-by-mtime default
    * would. Rollback never appends to the log: the log is creation lineage,
    * not pointer history. Stores predating the log fall back to the
    * newest-non-live-by-mtime heuristic. Returns the version rolled back
    * to. */
  def rollback(spark: SparkSession, storeRoot: String,
               to: Option[String] = None): String =
   withMaintenanceLock(spark, storeRoot,
       s"rollback${to.fold("")(" to " + _)}") {
    val live = readPointer(spark, storeRoot)
      .getOrElse(sys.error(s"no CURRENT pointer under $storeRoot — nothing to roll back"))
    val f = fs(spark, storeRoot)
    val target = to.getOrElse {
      val history = readHistory(spark, storeRoot)
      val prior = history.lastIndexOf(live) match {
        case -1 => None
        case i  => history.take(i).filter(_ != live)
          .findLast(n => f.exists(new Path(s"$storeRoot/$n")))
      }
      prior.getOrElse {
        require(history.isEmpty || !history.contains(live),
          s"'$live' is the oldest surviving version under $storeRoot — nothing earlier to roll back to")
        val candidates = f.listStatus(new Path(storeRoot))
          .filter(_.isDirectory)
          .filter(_.getPath.getName != live)
          .sortBy(-_.getModificationTime)
        require(candidates.nonEmpty, s"no previous version to roll back to under $storeRoot")
        candidates.head.getPath.getName
      }
    }
    require(target != live, s"'$target' is already the live store")
    require(f.exists(new Path(s"$storeRoot/$target")),
      s"rollback target '$target' does not exist under $storeRoot")
    writePointerAtomic(spark, storeRoot, target)
    target
   }

  /** The live version NAME per the CURRENT pointer, if any — the
    * switchover commits it atomically WITH the data, so a caller can use
    * the name itself as an applied-work marker (IncrementalNightlyRunner
    * names the user-family state after the last folded day: a replayed
    * night sees its own day live and skips, turning at-least-once retries
    * into the family's exactly-once contract). */
  def currentVersion(spark: SparkSession, storeRoot: String): Option[String] =
    readPointer(spark, storeRoot)

  /** The switchover creation lineage (every version name that ever went
    * live, in order). Complements currentVersion for applied-work checks:
    * a marker for an EARLIER unit of work is in the history even after
    * later units moved the pointer past it. */
  def versionHistory(spark: SparkSession, storeRoot: String): Seq[String] =
    readHistory(spark, storeRoot)

  /** The live store per the CURRENT pointer (what readers resolve). */
  def current(spark: SparkSession, storeRoot: String): DataFrame = {
    val name = readPointer(spark, storeRoot)
      .getOrElse(sys.error(s"no CURRENT pointer under $storeRoot"))
    spark.read.parquet(s"$storeRoot/$name")
  }
}
