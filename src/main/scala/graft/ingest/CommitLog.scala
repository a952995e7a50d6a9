package graft.ingest

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Transactional metadata-log commit — the 100 TB upgrade over
  * directory-listing commits that `BatchWriter.compact`'s scaladoc
  * promises: readers never list the data directory, so the
  * compaction commit→delete visibility window disappears and the
  * O(files) recursive listing becomes an O(versions) log replay.
  *
  * Shape (a deliberately minimal cousin of Spark's streaming
  * FileStreamSink log / the lakehouse table-format idea, built from
  * public Spark + Hadoop APIs only):
  *
  *   `<outDir>/<topic>/_commitlog/<version>` — one file per committed
  *   version, lines `a|<relPath>` (add) and `r|<relPath>` (remove).
  *   The log stores ONLY paths: offsets, partitions, and ranges all
  *   parse back out of the offset-ranged filenames, the same
  *   filename-as-metadata contract the reference's recovery uses
  *   (`FileUtils.java:106-149`).
  *
  *   - PUBLISH is an atomic rename of a staged uuid temp to the next
  *     version number. Rename-if-absent is the CAS: under the
  *     one-writer-per-topic discipline the reference's task model
  *     implies, a lost race (version exists) retries at the next
  *     number; data files were already idempotently committed, so a
  *     crash between data-rename and publish leaves only invisible
  *     files (healed by `vacuum`).
  *   - SNAPSHOT is replay: versions in order, adds minus removes.
  *     A compaction publishes adds+removes in ONE version file, so
  *     readers atomically flip from sources to their replacement —
  *     no torn view, no overlapping-offset double-read. A
  *     `<version>.ckpt` checkpoint (see [[checkpoint]]) materializes
  *     the live set at that version; replay rebases on the newest one
  *     at or below its pin, so snapshot cost is O(tail), not
  *     O(versions), on long-lived topics.
  *   - VACUUM deletes committed-named files the log doesn't
  *     reference (crashed writers' orphans, compacted sources) —
  *     safe precisely because readers go through the log.
  */
object CommitLog {

  private def logDir(outDir: String, topic: String) =
    new Path(s"$outDir/$topic/_commitlog")

  private[graft] def fs(spark: SparkSession, outDir: String): FileSystem =
    FileSystem.get(new Path(outDir).toUri,
      spark.sparkContext.hadoopConfiguration)

  /** Current log version, or -1 for an empty/absent log. */
  def latestVersion(spark: SparkSession, outDir: String, topic: String): Long = {
    val dir = logDir(outDir, topic)
    val f = fs(spark, outDir)
    if (!f.exists(dir)) return -1L
    f.listStatus(dir).map(_.getPath.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong)
      .foldLeft(-1L)(math.max)
  }

  /** The CAS in [[publish]] is sound ONLY on filesystems whose rename
    * REFUSES an existing destination (HDFS, Hadoop's checksummed
    * LocalFileSystem, the ABFS/GCS committer contracts). On an
    * overwrite-happy FS (POSIX renameTo via RawLocalFileSystem, some
    * object-store shims) a lost race silently REPLACES the winner's
    * commit — the overwritten version's data files are never
    * referenced and vacuum deletes them: silent data loss. Probe each
    * filesystem once and refuse loudly up front instead. */
  private val renameCasOk =
    new java.util.concurrent.ConcurrentHashMap[String, Boolean]()

  private[ingest] def requireRenameCas(f: FileSystem, dir: Path): Unit = {
    // key by implementation class AND uri: RawLocalFileSystem and the
    // checksummed LocalFileSystem share file:/// but differ in rename
    // semantics
    val key = s"${f.getClass.getName}@${f.getUri}"
    val ok = renameCasOk.computeIfAbsent(key, _ => {
      val a = new Path(dir, s".caschk-${UUID.randomUUID()}")
      val b = new Path(dir, s".caschk-${UUID.randomUUID()}")
      try {
        Seq(a, b).foreach { p =>
          val o = f.create(p, false)
          try o.write(1) finally o.close()
        }
        !f.rename(a, b) // must REFUSE the existing destination
      } finally Seq(a, b).foreach(p => f.delete(p, false))
    })
    require(ok,
      s"filesystem ${f.getUri} overwrites an existing rename destination — " +
        "the commit log's rename-CAS would silently drop a concurrent " +
        "commit on it; use a no-overwrite-rename filesystem (HDFS, the " +
        "checksummed LocalFileSystem) for the log")
  }

  /** Atomically publish one version adding `adds` and removing
    * `removes` (topic-relative paths like
    * `partition=3/t+3+0000000000+0000000009.parquet`). Returns the
    * published version. */
  def publish(spark: SparkSession, outDir: String, topic: String,
              adds: Seq[String], removes: Seq[String] = Seq.empty): Long = {
    require(adds.nonEmpty || removes.nonEmpty, "empty commit")
    val dir = logDir(outDir, topic)
    val f = fs(spark, outDir)
    f.mkdirs(dir)
    requireRenameCas(f, dir)
    val body = (adds.sorted.map("a|" + _) ++ removes.sorted.map("r|" + _))
      .mkString("", "\n", "\n")
    val tmp = new Path(dir, s".${UUID.randomUUID()}.tmp")
    try {
      val out = f.create(tmp, false)
      try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
      var v = latestVersion(spark, outDir, topic) + 1
      // rename-if-absent CAS: on a lost race, advance and retry
      while (!f.rename(tmp, new Path(dir, v.toString))) {
        require(f.exists(new Path(dir, v.toString)),
          s"rename to version $v failed without a competing version")
        v += 1
      }
      v
    } finally f.delete(tmp, false) // no-op when the rename won
  }

  /** The (adds, removes) recorded in one version file. */
  def changesAt(spark: SparkSession, outDir: String, topic: String,
                version: Long): (Seq[String], Seq[String]) = {
    val f = fs(spark, outDir)
    val p = new Path(logDir(outDir, topic), version.toString)
    val in = f.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      buf.toString(StandardCharsets.UTF_8.name())
    } finally in.close()
    val adds = Seq.newBuilder[String]
    val removes = Seq.newBuilder[String]
    text.linesIterator.filter(_.nonEmpty).foreach { line =>
      if (line.length < 3 || line.charAt(1) != '|' ||
        (line.charAt(0) != 'a' && line.charAt(0) != 'r'))
        throw new IllegalStateException(s"corrupt log line: $line")
      if (line.charAt(0) == 'a') adds += line.substring(2)
      else removes += line.substring(2)
    }
    (adds.result(), removes.result())
  }

  /** Replay the log: the set of live topic-relative paths — at
    * `asOf` (inclusive) for time travel, or the full log by default.
    * Versions are immutable once published, so a pinned `asOf`
    * snapshot is reproducible forever (modulo vacuum of its files —
    * retain what you pin).
    *
    * Replay starts from the newest [[checkpoint]] at or below `asOf`
    * when one exists — O(tail-since-checkpoint) version reads instead
    * of O(versions), the difference between a constant-time metadata
    * op and an unbounded walk on a year-old streaming topic. */
  def snapshot(spark: SparkSession, outDir: String, topic: String,
               asOf: Long = Long.MaxValue): Seq[String] = {
    val dir = logDir(outDir, topic)
    val f = fs(spark, outDir)
    if (!f.exists(dir)) return Seq.empty
    val names = f.listStatus(dir).map(_.getPath.getName)
    val allCkpts = names.filter(_.endsWith(CkptSuffix))
      .map(_.stripSuffix(CkptSuffix))
      .filter(_.forall(_.isDigit)).map(_.toLong)
    val ckptV = allCkpts.filter(_ <= asOf).foldLeft(-1L)(math.max)
    val allVers = names.filter(_.forall(_.isDigit)).map(_.toLong)
    // no checkpoint at or below the pin AND the version prefix is
    // gone ([[truncateLog]]) — an un-based replay would silently
    // return a WRONG (partial or empty) snapshot; fail loudly instead
    if (ckptV < 0 &&
      ((allVers.nonEmpty && allVers.min > 0) ||
        (allVers.isEmpty && allCkpts.nonEmpty)))
      throw new IllegalStateException(
        s"history of '$topic' below version ${allCkpts.minOption
          .getOrElse(0L)} was truncated — asOf=$asOf is not replayable " +
          "(retain what you pin: checkpoint/truncate above your pins)")
    val versions = allVers
      .filter(v => v > ckptV && v <= asOf).sorted
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    if (ckptV >= 0)
      live ++= readLines(f, new Path(dir, s"$ckptV$CkptSuffix"))
        .map { line =>
          require(line.length >= 3 && line.startsWith("a|"),
            s"corrupt checkpoint line: $line")
          line.substring(2)
        }
    versions.foreach { v =>
      val (adds, removes) = changesAt(spark, outDir, topic, v)
      live ++= adds
      live --= removes
    }
    live.toSeq.sorted
  }

  private val CkptSuffix = ".ckpt"

  /** Materialize the live set AT an existing version into
    * `<version>.ckpt`, so later [[snapshot]]s replay only the tail
    * published after it — the log's own compaction (version files are
    * untouched; time travel below the checkpoint still replays them).
    * Idempotent and crash-safe: content is a pure function of the
    * immutable log prefix, staged to a temp and renamed, and a
    * pre-existing checkpoint is left alone. Returns the checkpointed
    * version (the latest, or -1 on an empty log). */
  def checkpoint(spark: SparkSession, outDir: String, topic: String): Long = {
    val v = latestVersion(spark, outDir, topic)
    if (v < 0) return -1L
    val f = fs(spark, outDir)
    val dest = new Path(logDir(outDir, topic), s"$v$CkptSuffix")
    if (f.exists(dest)) return v
    // snapshot() itself rides any OLDER checkpoint, so re-checkpointing
    // a long log is O(tail) too
    val live = snapshot(spark, outDir, topic, asOf = v)
    val body = live.map("a|" + _).mkString("", "\n", "\n")
    val tmp = new Path(logDir(outDir, topic), s".${UUID.randomUUID()}.tmp")
    // the same try/finally discipline as publish(): a crash or write
    // failure must not leak .tmp staging files into _commitlog, which
    // vacuum deliberately never touches
    try {
      val out = f.create(tmp, false)
      try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
      if (!f.rename(tmp, dest)) {
        // a concurrent checkpointer won; identical content by immutability
        require(f.exists(dest), s"rename failed installing checkpoint $v")
      }
      v
    } finally f.delete(tmp, false) // no-op when the rename won
  }

  /** The newest checkpoint at or below `asOf` and its live set:
    * `(version, lines)`, or `(-1, empty)` when none exists. The
    * replay BASE — callers that already hold the retained versions'
    * changes (restart schema recovery) fold them on top of this
    * instead of paying [[snapshot]]'s second O(tail) re-read. */
  def checkpointBase(spark: SparkSession, outDir: String, topic: String,
                     asOf: Long = Long.MaxValue): (Long, Seq[String]) = {
    val dir = logDir(outDir, topic)
    val f = fs(spark, outDir)
    if (!f.exists(dir)) return (-1L, Seq.empty)
    val ckptV = f.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(CkptSuffix)).map(_.stripSuffix(CkptSuffix))
      .filter(_.forall(_.isDigit)).map(_.toLong)
      .filter(_ <= asOf).foldLeft(-1L)(math.max)
    if (ckptV < 0) return (-1L, Seq.empty)
    (ckptV, readLines(f, new Path(dir, s"$ckptV$CkptSuffix")).map { line =>
      require(line.length >= 3 && line.startsWith("a|"),
        s"corrupt checkpoint line: $line")
      line.substring(2)
    })
  }

  /** The version FILES currently present, sorted — equals
    * `0..latestVersion` until [[truncateLog]] has run, the retained
    * suffix after. */
  def versions(spark: SparkSession, outDir: String, topic: String): Seq[Long] = {
    val dir = logDir(outDir, topic)
    val f = fs(spark, outDir)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).map(_.getPath.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).sorted.toSeq
  }

  /** Bound the LOG itself — the WAL-truncation analog the checkpoint
    * makes safe: delete version files strictly below
    * min(newest checkpoint, newest APPEND version), plus checkpoints
    * the newest one supersedes. Everything the running system needs
    * survives by construction:
    *
    *   - HEAD snapshots rebase on the retained checkpoint (the floor
    *     never exceeds it),
    *   - publish numbering is monotone (the floor's own version file
    *     is retained, so [[latestVersion]] is unchanged),
    *   - restart schema recovery keeps its exact carrier (the newest
    *     append version file is retained — the floor never exceeds it
    *     either),
    *   - offset recovery reads the snapshot, not the prefix.
    *
    * What is GIVEN UP is replay below the floor: time travel and
    * incremental feeds pinned there now fail loudly (the snapshot
    * guard) instead of answering wrong — the same "retain what you
    * pin" retention contract as [[vacuum]]. Returns the deleted
    * version numbers; a crash mid-delete converges on re-run. */
  def truncateLog(spark: SparkSession, outDir: String, topic: String): Seq[Long] = {
    val dir = logDir(outDir, topic)
    val f = fs(spark, outDir)
    if (!f.exists(dir)) return Seq.empty
    val names = f.listStatus(dir).map(_.getPath.getName)
    val ckpts = names.filter(_.endsWith(CkptSuffix))
      .map(_.stripSuffix(CkptSuffix))
      .filter(_.forall(_.isDigit)).map(_.toLong)
    if (ckpts.isEmpty) return Seq.empty // nothing to rebase replay on
    val vers = names.filter(_.forall(_.isDigit)).map(_.toLong).sorted
    // newest APPEND (adds-only) version — usually the first probe on a
    // live topic; swaps-only retained tails cannot happen below it
    val newestAppend = vers.reverseIterator.find { v =>
      changesAt(spark, outDir, topic, v)._2.isEmpty
    }.getOrElse(-1L)
    val floor = math.min(ckpts.max, newestAppend)
    val doomed = vers.filter(_ < floor)
    // delete ASCENDING, and stop on the first failure: the sweep then
    // only ever leaves a missing PREFIX, which the snapshot guard
    // detects (min version > 0) — a skipped-over survivor (or a
    // descending sweep crash) could leave version 0 present with a
    // hole behind it, and an un-based replay would silently return a
    // partial set
    doomed.foreach { v =>
      val p = new Path(dir, v.toString)
      if (!f.delete(p, false) && f.exists(p))
        throw new java.io.IOException(s"could not delete log version $v")
    }
    ckpts.filter(_ < ckpts.max).foreach(c =>
      f.delete(new Path(dir, s"$c$CkptSuffix"), false))
    doomed.toSeq
  }

  private def readLines(f: FileSystem, p: Path): Seq[String] = {
    val in = f.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      buf.toString(StandardCharsets.UTF_8.name())
    } finally in.close()
    text.linesIterator.filter(_.nonEmpty).toSeq
  }

  /** Read the logged snapshot as a DataFrame — the exact live file
    * list, never a directory scan, so concurrent compaction can never
    * tear or double-read a query. `asOf` pins a historical version
    * (time travel): training runs record the version they read and
    * replay the identical corpus later. */
  def read(spark: SparkSession, outDir: String, topic: String,
           format: String = "parquet",
           asOf: Long = Long.MaxValue): DataFrame = {
    // consumers routinely persist-and-threshold what they read here —
    // guard their session against the NaN-dropping cached-batch
    // pruning (see SessionSafety) without requiring builder config
    SessionSafety.disableNaNDroppingCachePruning(spark)
    val files = snapshot(spark, outDir, topic, asOf)
    require(files.nonEmpty, s"empty commit log for $topic")
    readFiles(spark, outDir, topic, files, format)
  }

  /** Read an explicit topic-relative file list (e.g. a pinned snapshot
    * a caller already holds) in the stream shape — the one
    * rel-path-to-reader mapping [[read]]/[[readAddedSince]] and the
    * streaming dedup gate share. */
  def readFiles(spark: SparkSession, outDir: String, topic: String,
                rels: Seq[String], format: String = "parquet"): DataFrame = {
    // fail fast with the cause — zero paths would surface as an
    // unrelated UNABLE_TO_INFER_SCHEMA deep inside the reader
    require(rels.nonEmpty, s"empty file list for $topic")
    BatchWriter.loadCommitted(spark, s"$outDir/$topic", format,
      rels.map(rel => s"$outDir/$topic/$rel"))
  }

  /** The incremental feed: rows in files ADDED after `sinceVersion`
    * (exclusive), skipping compaction rewrites. Detection rests on the
    * protocol's commit-kind invariant: every version is either an
    * APPEND (adds only — writeLogged / the streaming committer) or a
    * compaction SWAP (adds AND removes, whose added files only rewrite
    * offsets that were already live). A version carrying removes is
    * therefore never new data, regardless of which offsets its
    * replacement happens to span. This is what a downstream
    * incremental job (e.g. batch-vs-corpus dedup of just the new
    * arrivals) consumes between its own checkpoints. A caught-up
    * consumer (no appends past `sinceVersion`) gets an empty frame at
    * the topic's live schema — polling is not an error.
    *
    * Retention caveat (same contract as time travel): a swap makes the
    * pending appends' ORIGINAL files unreferenced, so a consumer must
    * catch up within the vacuum grace window of any compaction that
    * overlaps its backlog — retain what your consumers still need. */
  /** Relative paths added by APPEND versions in `(from, to]` — the
    * commit-kind delta scan shared by the change feed and the
    * materialized-view refresh (a version carrying removes is a
    * compaction/DML rewrite of already-live offsets, never new data). */
  def addedRelsBetween(spark: SparkSession, outDir: String, topic: String,
                       from: Long, to: Long): Seq[String] =
    ((from + 1) to to).flatMap { v =>
      val (adds, removes) = changesAt(spark, outDir, topic, v)
      if (removes.isEmpty) adds else Seq.empty // swaps rewrite, appends add
    }.distinct

  def readAddedSince(spark: SparkSession, outDir: String, topic: String,
                     sinceVersion: Long,
                     format: String = "parquet"): DataFrame = {
    val latest = latestVersion(spark, outDir, topic)
    val fresh = addedRelsBetween(spark, outDir, topic, sinceVersion, latest)
    // an idle poll (caught-up consumer, or only compaction swaps since
    // the checkpoint) is a legitimate production call — empty frame at
    // the topic's live schema, not a crash. A poll BEFORE the
    // producer's first publish is equally legitimate (the consumer
    // started first): there is no schema to carry yet, so it gets the
    // zero-column empty frame rather than an 'empty commit log' crash
    if (fresh.isEmpty) {
      if (latest < 0) spark.emptyDataFrame
      else read(spark, outDir, topic, format, asOf = latest).limit(0)
    } else readFiles(spark, outDir, topic, fresh, format)
  }

  /** File-level churn between two pinned versions: (files only in
    * `to`, files only in `from`). Compaction rewrites show here —
    * this is the physical view ("what do I re-fetch"), [[diffRows]]
    * the logical one ("what data actually changed"). */
  def diffFiles(spark: SparkSession, outDir: String, topic: String,
                from: Long, to: Long): (Seq[String], Seq[String]) = {
    require(from <= to, s"diff range reversed: $from > $to")
    val a = snapshot(spark, outDir, topic, asOf = from).toSet
    val b = snapshot(spark, outDir, topic, asOf = to).toSet
    ((b -- a).toSeq.sorted, (a -- b).toSeq.sorted)
  }

  /** ROW-level change set between two pinned versions: (rows added,
    * rows removed), bag semantics. Computed over the CHURNED FILES
    * ONLY — files live in both snapshots contribute identical rows to
    * both sides and never need scanning, so a compaction that merely
    * rewrote N small files into one costs the diff those N+1 files,
    * not the corpus, and contributes ZERO rows (swaps preserve every
    * row — that invariance is exactly what makes this the logical
    * change feed a downstream incremental job wants where
    * [[readAddedSince]]'s append feed does not apply, e.g. across a
    * branch point or between two historical pins).
    *
    * Same retention contract as every pinned read: both versions'
    * files must still be live or within vacuum grace. */
  def diffRows(spark: SparkSession, outDir: String, topic: String,
               from: Long, to: Long, format: String = "parquet")
      : (DataFrame, DataFrame) = {
    val (toOnly, fromOnly) = diffFiles(spark, outDir, topic, from, to)
    if (toOnly.isEmpty && fromOnly.isEmpty) {
      val empty = readFiles(spark, outDir, topic,
        snapshot(spark, outDir, topic, asOf = to), format).limit(0)
      return (empty, empty)
    }
    // schema from the other side when one side has no churned files
    // (a pure-append diff has no removed files, but the frame must
    // still except against something of the right shape)
    def readOrEmpty(rels: Seq[String], like: Seq[String]): DataFrame =
      if (rels.nonEmpty) readFiles(spark, outDir, topic, rels, format)
      else readFiles(spark, outDir, topic, like, format).limit(0)
    val newer = readOrEmpty(toOnly, fromOnly)
    val older = readOrEmpty(fromOnly, toOnly)
    // a diff spanning a schema EVOLUTION reads different column sets
    // on the two sides — align both to the typed union (null-fill via
    // zero-row unionByName, then one canonical column order) so
    // exceptAll compares rows, not shapes: an unchanged row still
    // cancels, and an evolved row's change is visible
    val (na, oa) =
      if (newer.columns.toSeq == older.columns.toSeq) (newer, older)
      else {
        val n2 = newer.unionByName(older.limit(0), allowMissingColumns = true)
        val o2 = older.unionByName(newer.limit(0), allowMissingColumns = true)
        val cols = n2.columns.sorted.map(col).toSeq
        (n2.select(cols: _*), o2.select(cols: _*))
      }
    (na.exceptAll(oa), oa.exceptAll(na))
  }

  /** Offset restore from the log alone (the filename-as-metadata
    * contract): max committed end offset per partition. */
  def maxOffsets(spark: SparkSession, outDir: String, topic: String): Map[Long, Long] = {
    val re = FileNaming.CommittedFilenameRegex.r
    snapshot(spark, outDir, topic).flatMap { rel =>
      rel.split('/').last match {
        case re(t, p, _, e, _) if t == topic => Some(p.toLong -> e.toLong)
        case _ => None
      }
    }.groupMapReduce(_._1)(_._2)(math.max)
  }

  /** Write + publish: stage and rename through [[BatchWriter]]'s
    * idempotent protocol, then make the files visible in one log
    * version. */
  def writeLogged(df: DataFrame, outDir: String, topic: String,
                  flushSize: Int,
                  pad: Int = FileNaming.DefaultZeroPadWidth,
                  format: String = "parquet",
                  statsCols: Seq[String] = Nil,
                  bloomCols: Seq[String] = Nil): Long = {
    // same charset gate as cloneTopic: names written under a topic the
    // regex cannot re-parse would break offset restore silently
    require(FileNaming.isValidTopicName(topic),
      s"topic '$topic' is outside the committed-filename charset " +
        "[a-zA-Z0-9._-]+")
    val committed = BatchWriter.write(df, outDir, topic, flushSize, pad, format)
    val rels =
      committed.map(c => s"partition=${c.partition}/${new Path(c.path).getName}")
    val v = publish(df.sparkSession, outDir, topic, rels)
    // commit-time data-skipping coverage for the just-published files
    // (see [[FileStats]]; stats are advisory — a crash between publish
    // and install just leaves these files conservatively unpruned)
    if (statsCols.nonEmpty)
      FileStats.installFor(df.sparkSession, outDir, topic, statsCols,
        v, rels, format)
    if (bloomCols.nonEmpty)
      FileBloom.installFor(df.sparkSession, outDir, topic, bloomCols,
        v, rels, format = format)
    v
  }

  /** Row-level DELETE on a logged topic — the erasure primitive
    * (right-to-be-forgotten, retraction of contaminated or recalled
    * content) the ingest-time blocklist gate cannot serve for
    * already-committed data. Rows matching `predicate` are removed by
    * rewriting ONLY the files that contain them (one pushdown scan
    * finds those files; untouched files are never read again) and
    * publishing ONE atomic swap version: rewrites added, originals
    * removed. Readers flip between versions, never see a torn file;
    * `diffRows` across the delete reports exactly the erased rows as
    * removed; `readAddedSince` correctly skips the swap (a delete is
    * never new data). PHYSICAL bytes survive under the old version
    * until [[vacuum]] — erasure completes at vacuum, the same
    * two-phase contract real lakehouse deletes have.
    *
    * Offset-resume safety — the part filename-based recovery makes
    * interesting: committed names are COVERAGE claims (gappy ranges
    * are already the norm for compacted topics), and a streaming
    * resume drops everything at or below each partition's max
    * committed END. Deleting rows must therefore never SHRINK that
    * max, or a crash-replay would re-ingest the erased offsets. Two
    * mechanisms guarantee it: (a) a rewrite whose survivors span both
    * original endpoints splits into two files (names stay inside the
    * original range but can never collide with the still-live
    * original), and (b) when a partition's max end would still shrink
    * (its max file lost its top rows), an EMPTY schema-only keeper
    * file named `[oldMax, oldMax]` pins the coverage. The one
    * irreducible corner — the partition-max file spans a single
    * offset and loses its only row, so the keeper's name would
    * collide with the still-live original — refuses loudly with the
    * remediation (compact first to widen the range). */
  def deleteWhere(spark: SparkSession, outDir: String, topic: String,
                  predicate: Column,
                  pad: Int = FileNaming.DefaultZeroPadWidth,
                  format: String = "parquet"): Long = {
    require(BatchWriter.SelfDescribing(format),
      s"deleteWhere needs a self-describing format retaining off, got: $format")
    val (snap, files) = parsedSnapshot(spark, outDir, topic, "deletable")
    // skipping-plane pruning first — range stats ([[FileStats]]) then
    // Bloom point filters ([[FileBloom]]; no plane = no prune): a
    // selective erasure opens only files that can hold matches. One
    // pushdown scan over the survivors then confirms actual rows
    val candidates = FileBloom.pruneRels(spark, outDir, topic, predicate,
      FileStats.pruneRels(spark, outDir, topic, predicate, snap, format),
      format)
    if (candidates.isEmpty) return latestVersion(spark, outDir, topic)
    val affectedNames = readFiles(spark, outDir, topic, candidates, format)
      .filter(predicate).select(srcFileName.as("n")).distinct()
      .collect().map(_.getString(0)).toSet
    if (affectedNames.isEmpty) return latestVersion(spark, outDir, topic)
    val affected = files.filter(f => affectedNames.contains(f._2))
    // survivors of the affected files only — keep rows where the
    // predicate is NOT TRUE (false OR null), matching SQL DELETE:
    // !predicate alone would turn a NULL predicate into NULL and drop
    // unrelated rows that merely share a file with a match
    val sv = readFiles(spark, outDir, topic, affected.map(_._1), format)
      .withColumn("__n", srcFileName)
      .filter(!coalesce(predicate, lit(false)))
    eraseSwap(spark, outDir, topic, files, affectedNames, sv, pad, format)
  }

  /** Kafka log compaction, MATERIALIZED: retain only each
    * (partition, key)'s row with the highest offset, rewriting the
    * files that hold superseded rows through the same atomic-swap /
    * coverage-keeper machinery as [[deleteWhere]]. This is the
    * physical counterpart of the logical latest-per-key read
    * (`compact_latest_by_key`): a changelog topic's storage shrinks
    * to its live keyset. One full pass (map-side-combined
    * (part, key) max-offset aggregate) decides survivorship; files
    * made only of latest rows are never rewritten. Tombstones are
    * keys like any other — retract them afterwards with
    * [[deleteWhere]] on the tombstone marker. */
  def compactByKey(spark: SparkSession, outDir: String, topic: String,
                   key: Column,
                   pad: Int = FileNaming.DefaultZeroPadWidth,
                   format: String = "parquet"): Long = {
    require(BatchWriter.SelfDescribing(format),
      s"compactByKey needs a self-describing format retaining off, got: $format")
    val (snap, files) = parsedSnapshot(spark, outDir, topic, "key-compactable")
    // NULL keys are EXEMPT from compaction (always retained): the
    // survivorship equi-join can never match a NULL key, so treating
    // them as compactable would silently erase every NULL-key row that
    // shares a file with a superseded row. Kafka itself rejects
    // null-key records on compacted topics; we keep them verbatim.
    val full = readFiles(spark, outDir, topic, snap, format)
      .withColumn("__n", srcFileName).withColumn("__k", key)
    val keyed = full.filter(col("__k").isNotNull)
    val latest = keyed.groupBy(col("part"), col("__k"))
      .agg(max(col("off")).as("__keep"))
    val affectedNames = keyed.join(latest, Seq("part", "__k"))
      .filter(col("off") < col("__keep"))
      .select(col("__n").as("n")).distinct()
      .collect().map(_.getString(0)).toSet
    if (affectedNames.isEmpty) return latestVersion(spark, outDir, topic)
    val affected = files.filter(f => affectedNames.contains(f._2))
    // survivors: rows of affected files that ARE their key's latest
    // (survivorship is GLOBAL — a row here may be superseded by a row
    // in an untouched file), plus every NULL-key row verbatim
    val svBase = readFiles(spark, outDir, topic, affected.map(_._1), format)
      .withColumn("__n", srcFileName).withColumn("__k", key)
    val sv = svBase.filter(col("__k").isNull).drop("__k")
      .unionByName(svBase.filter(col("__k").isNotNull)
        .join(latest, Seq("part", "__k"))
        .filter(col("off") === col("__keep"))
        .drop("__k", "__keep"))
    eraseSwap(spark, outDir, topic, files, affectedNames, sv, pad, format)
  }

  /** Derived topics: incrementally relay `srcTopic`'s NEW rows through
    * a row-local `transform` into `dstTopic` — the topic-to-topic
    * pipeline step (cleaned/redacted/enriched derivatives of a raw
    * corpus) built entirely from the engine's filename-recovery
    * contract, with NO sidecar state:
    *
    *   - progress = the destination's own `maxOffsets` (per-partition
    *     max committed end, from names alone) — the same source of
    *     truth a crashed stream resumes from;
    *   - the source files to read = snapshot files whose name range
    *     ends above the destination's progress (file-level pruning:
    *     caught-up partitions' files are never opened);
    *   - replay safety = the resume filter on (part, off): `transform`
    *     must preserve those columns, so a crash between the
    *     destination write and nothing (there is nothing else) simply
    *     re-relays rows the filter then drops.
    *
    * Each call is one incremental step (run it per cron tick or after
    * each source publish); an already-caught-up call is a no-op.
    * Source DML does NOT propagate through this append feed (a
    * delete/update swap rewrites offsets the destination already
    * consumed) — cascade it with [[relayDml]] over the swap's version
    * range. A FILTERING transform stays correct
    * (dropped rows are deterministically re-dropped on replay) but
    * offsets it drops never advance the destination's progress, so a
    * dropped tail re-scans on every call — keep tombstone rows (and
    * `deleteWhere` them downstream) if the filtered fraction of the
    * stream tail matters. */
  def relay(spark: SparkSession, outDir: String, srcTopic: String,
            dstTopic: String, transform: DataFrame => DataFrame,
            flushSize: Int,
            pad: Int = FileNaming.DefaultZeroPadWidth,
            format: String = "parquet"): Long = {
    val done = maxOffsets(spark, outDir, dstTopic)
    val (_, files) = parsedSnapshot(spark, outDir, srcTopic, "relayable")
    val fresh = files.filter { case (_, _, p, _, e) =>
      e > done.getOrElse(p, -1L)
    }
    val current = latestVersion(spark, outDir, dstTopic)
    if (fresh.isEmpty) return current
    val rows = BatchWriter.resumeFrom(
      readFiles(spark, outDir, srcTopic, fresh.map(_._1), format),
      Map(dstTopic -> done))
    val out = transform(rows)
    Seq("part", "off").foreach(c => require(out.columns.contains(c),
      s"relay transforms must preserve the ($c) envelope column — " +
        "replay safety rides on (part, off) identity"))
    if (out.isEmpty) return current // everything new was filtered out
    writeLogged(out, outDir, dstTopic, flushSize, pad, format)
  }

  /** Cascade SOURCE DML into a [[relay]] derivative — the step a
    * right-to-be-forgotten pipeline must not leave manual: a
    * `deleteWhere`/`updateWhere`/`compactByKey` swap on the source
    * rewrites offsets the destination already consumed, so [[relay]]
    * (an append feed) never re-delivers them. This applies the SAME
    * change to the destination in ONE atomic swap version:
    *
    *   - the change set is `diffRows(src, fromVersion, toVersion)` —
    *     removed (part, off) keys erase from the destination; keys
    *     re-added at the same (part, off) (an update's new content)
    *     REPLACE the destination row with `transform` of the new row;
    *   - destination files to rewrite are found by probing removed
    *     keys against the snapshot's FILENAME ranges first (file-level
    *     pruning — untouched files are never opened), then confirming
    *     against actual rows, exactly deleteWhere's only-files-holding-
    *     matches contract;
    *   - a FILTERING transform composes: a replacement the filter
    *     drops becomes a destination delete; an update to a row the
    *     destination never held is skipped (its offset is already
    *     inside consumed coverage — late-adding it would violate the
    *     append-feed invariant);
    *   - coverage can never shrink (eraseSwap's split/keeper
    *     machinery), so destination resume and further relays stay
    *     safe across the cascade.
    *
    * Re-running the same cascade is content-idempotent: a pure-delete
    * cascade finds no matching rows and no-ops; an update cascade
    * re-applies the identical replacement (a new version of equal
    * content). `transform` must be the relay's own row-local,
    * (part, off)-preserving transform. */
  def relayDml(spark: SparkSession, outDir: String, srcTopic: String,
               dstTopic: String, transform: DataFrame => DataFrame,
               fromVersion: Long, toVersion: Long,
               pad: Int = FileNaming.DefaultZeroPadWidth,
               format: String = "parquet"): Long = {
    require(BatchWriter.SelfDescribing(format),
      s"relayDml needs a self-describing format retaining off, got: $format")
    val current = latestVersion(spark, outDir, dstTopic)
    if (fromVersion >= toVersion) return current
    val (added, removed) =
      diffRows(spark, outDir, srcTopic, fromVersion, toVersion, format)
    val remKeys0 = removed.select(col("part"), col("off")).distinct()
    // replacements: re-transform the UPDATED keys' new source content
    val upd = added.join(remKeys0, Seq("part", "off"), "left_semi")
    val out = transform(upd)
    Seq("part", "off").foreach(c => require(out.columns.contains(c),
      s"relay transforms must preserve the ($c) envelope column — " +
        "DML cascade rides on (part, off) identity"))
    cascadeRows(spark, outDir, dstTopic, out, removed, pad, format)
  }

  /** The destination-side swap shared by [[relayDml]] (incremental
    * diff cascade) and [[reconcileDerived]] (full-state fallback):
    * erase `removed`'s (part, off) keys from the destination and land
    * each row of `out` (ALREADY transformed) in the file that held
    * its old row, as one atomic version. */
  private def cascadeRows(spark: SparkSession, outDir: String,
                          dstTopic: String, out: DataFrame,
                          removed: DataFrame, pad: Int,
                          format: String): Long = {
    val current = latestVersion(spark, outDir, dstTopic)
    val remKeys = removed.select(col("part"), col("off")).distinct()
    val (_, files) = parsedSnapshot(spark, outDir, dstTopic, "dml-relayable")
    // candidate destination files from NAMES alone: a file can hold a
    // removed key only if its committed range covers the offset
    import spark.implicits._
    val ranges = broadcast(files.map { case (_, n, p, s, e) => (n, p, s, e) }
      .toDF("__rn", "__p", "__s", "__e"))
    val candNames = remKeys.join(ranges,
        col("part") === col("__p") &&
          col("off").between(col("__s"), col("__e")))
      .select(col("__rn")).distinct().collect().map(_.getString(0)).toSet
    if (candNames.isEmpty) return current
    val cand = files.filter(f => candNames.contains(f._2))
    val candRows = readFiles(spark, outDir, dstTopic, cand.map(_._1), format)
      .withColumn("__n", srcFileName)
    // confirm against actual rows: gappy coverage means a name range
    // can claim an offset no row carries
    val affectedNames = candRows
      .join(remKeys, Seq("part", "off"), "left_semi")
      .select(col("__n")).distinct().collect().map(_.getString(0)).toSet
    if (affectedNames.isEmpty) return current
    val affected = cand.filter(f => affectedNames.contains(f._2))
    // re-scan exactly the affected files by PATH (deleteWhere's
    // pattern) — never an isin over file names, which at a 100k-file
    // topic would be a giant In expression in the plan
    val old = readFiles(spark, outDir, dstTopic, affected.map(_._1), format)
      .withColumn("__n", srcFileName)
    val kept = old.join(remKeys, Seq("part", "off"), "left_anti")
    // each replacement lands in the file that held its old row; the
    // inner join drops replacements for rows the destination never
    // held (a filtering transform's previously-dropped keys)
    val keyFile = old.join(remKeys, Seq("part", "off"), "left_semi")
      .select(col("part"), col("off"), col("__n"))
    val replN = out.join(keyFile, Seq("part", "off"))
    // single-offset refusal ONLY for files receiving a REPLACEMENT:
    // their rewrite keeps the same offset span and would collide with
    // the still-live original. Pure-delete single-offset files flow to
    // eraseSwap unharmed (clean removal, or its keeper-corner refusal
    // when the file pins the partition max). Fires BEFORE any write.
    if (affected.exists { case (_, _, _, s, e) => s == e }) {
      val replNames = replN.select(col("__n")).distinct()
        .collect().map(_.getString(0)).toSet
      affected.foreach { case (_, n, _, s, e) =>
        require(s != e || !replNames.contains(n),
          s"single-offset destination file $n cannot split for an " +
            "update cascade (its rewrite would collide with the " +
            "still-live original) — compact the destination first " +
            "to widen the range")
      }
    }
    val sv = kept.unionByName(replN)
    eraseSwap(spark, outDir, dstTopic, files, affectedNames, sv, pad, format)
  }

  /** Whether [[snapshot]]`(asOf)` can still replay — false once
    * [[truncateLog]] has deleted the version prefix below `asOf`
    * without leaving a checkpoint at or below it. Mirrors snapshot's
    * own truncation guard, as a non-throwing probe. */
  private[ingest] def replayableAt(spark: SparkSession, outDir: String,
                                   topic: String, asOf: Long): Boolean = {
    val dir = logDir(outDir, topic)
    val f = fs(spark, outDir)
    if (!f.exists(dir)) return true // empty log: snapshot returns empty
    val names = f.listStatus(dir).map(_.getPath.getName)
    val allCkpts = names.filter(_.endsWith(CkptSuffix))
      .map(_.stripSuffix(CkptSuffix))
      .filter(_.forall(_.isDigit)).map(_.toLong)
    val ckptV = allCkpts.filter(_ <= asOf).foldLeft(-1L)(math.max)
    val allVers = names.filter(_.forall(_.isDigit)).map(_.toLong)
    !(ckptV < 0 &&
      ((allVers.nonEmpty && allVers.min > 0) ||
        (allVers.isEmpty && allCkpts.nonEmpty)))
  }

  /** Full-state repair for a relay derivative whose cascade watermark
    * is no longer replayable (source log truncated below it): bag-diff
    * `transform(live source)` against the live destination and apply
    * the difference as ONE atomic swap — expensive (two full scans)
    * but always available, converting the truncated-watermark corner
    * from a permanent refusal into a converging tick. New source rows
    * are [[relay]]'s job (call it first, as [[maintainDerived]] does);
    * added rows whose keys the destination never held are dropped by
    * the same inner join as [[relayDml]]. */
  def reconcileDerived(spark: SparkSession, outDir: String, srcTopic: String,
                       dstTopic: String, transform: DataFrame => DataFrame,
                       pad: Int = FileNaming.DefaultZeroPadWidth,
                       format: String = "parquet"): Long = {
    val srcT = transform(read(spark, outDir, srcTopic, format = format))
    Seq("part", "off").foreach(c => require(srcT.columns.contains(c),
      s"relay transforms must preserve the ($c) envelope column — " +
        "DML cascade rides on (part, off) identity"))
    val dst = read(spark, outDir, dstTopic, format = format)
    require(srcT.columns.toSet == dst.columns.toSet,
      s"reconcile needs matching columns, got " +
        s"${srcT.columns.toSeq.sorted} vs ${dst.columns.toSeq.sorted}")
    val aligned = srcT.select(dst.columns.map(col).toIndexedSeq: _*)
    val added = aligned.exceptAll(dst)
    val removed = dst.exceptAll(aligned)
    if (removed.isEmpty) return latestVersion(spark, outDir, dstTopic)
    cascadeRows(spark, outDir, dstTopic, added, removed, pad, format)
  }

  /** ONE maintenance tick for a relay derivative — the call a cron
    * schedules instead of hand-sequencing [[relay]] and [[relayDml]]:
    * forward the source's NEW rows, then cascade any source DML since
    * the last tick. The cascade watermark (highest source version
    * already cascaded) rides the engine's filename-as-metadata
    * contract: a companion logged topic `<dst>__cascade` whose single
    * committed offset IS the watermark — recovered from names alone,
    * no sidecar state, no operator bookkeeping, and [[maintainAll]]
    * sweeps it like any topic without disturbing its max offset.
    *
    * Crash ordering: cascade FIRST, marker second. A crash between
    * them re-runs the same cascade next tick — content-idempotent by
    * [[relayDml]]'s contract — and a crash before the cascade simply
    * retries. A fresh destination bootstraps its watermark at the
    * CURRENT source version (the initial relay reads live, post-DML
    * data, so there is nothing older to cascade); a pre-existing
    * destination without a marker conservatively cascades from
    * version 0 once (idempotent, converges). Retention: tick at least
    * as often as source log truncation for cheap incremental ticks;
    * when truncation HAS outrun the watermark (the source's
    * [[maintain]] knows nothing of derived pins), the tick detects
    * the unreplayable range and degrades to [[reconcileDerived]] —
    * a full-scan repair instead of the permanent refusal a pinned
    * read would hit. */
  def maintainDerived(spark: SparkSession, outDir: String, srcTopic: String,
                      dstTopic: String, transform: DataFrame => DataFrame,
                      flushSize: Int,
                      pad: Int = FileNaming.DefaultZeroPadWidth,
                      format: String = "parquet"): Long = {
    val marker = s"${dstTopic}__cascade"
    val cur = latestVersion(spark, outDir, srcTopic)
    val fresh = latestVersion(spark, outDir, dstTopic) < 0
    relay(spark, outDir, srcTopic, dstTopic, transform, flushSize, pad,
      format)
    val w = maxOffsets(spark, outDir, marker)
      .getOrElse(0L, if (fresh) cur else 0L)
    if (cur > w) {
      // a watermark the source log can no longer replay (truncation
      // outran the derived tick) would wedge the cascade forever —
      // diffRows needs snapshot(asOf = w) — so degrade to the
      // full-state reconcile instead of refusing every future tick
      if (replayableAt(spark, outDir, srcTopic, w))
        relayDml(spark, outDir, srcTopic, dstTopic, transform, w, cur, pad,
          format)
      else {
        // observable, not silent: a tick that degrades EVERY time
        // (retention misconfigured below the tick cadence) is paying
        // two full scans per tick while producing correct output
        MaintenanceMetrics.derivedReconcile(outDir, dstTopic)
        reconcileDerived(spark, outDir, srcTopic, dstTopic, transform, pad,
          format)
      }
      import spark.implicits._
      writeLogged(Seq((0L, cur)).toDF("part", "off"), outDir, marker,
        flushSize = 1, pad, format)
    } else if (fresh && cur >= 0)
      { // pin the bootstrap watermark so the first DML-less ticks
        // don't fall back to a full-history cascade later
        import spark.implicits._
        writeLogged(Seq((0L, cur)).toDF("part", "off"), outDir, marker,
          flushSize = 1, pad, format)
      }
    latestVersion(spark, outDir, dstTopic)
  }

  /** Hidden-metadata source file name — valid only directly over a
    * file scan, before any reprojection. */
  private def srcFileName: Column =
    element_at(split(col("_metadata.file_path"), "/"), -1)

  /** Parse + layout-guard the live snapshot for the row-rewrite
    * operations: (rel, name, part, start, end) per file. */
  private def parsedSnapshot(spark: SparkSession, outDir: String,
                             topic: String, verb: String)
      : (Seq[String], Seq[(String, String, Long, Long, Long)]) = {
    val re = FileNaming.CommittedFilenameRegex.r
    val snap = snapshot(spark, outDir, topic)
    val files = snap.map { rel =>
      rel.split('/').last match {
        case n @ re(t, p, s, e, _) if t == topic =>
          require(rel == s"partition=$p/$n",
            s"'$rel' is not in the default partition=<p> layout — " +
              s"encoded-partition topics are not $verb")
          (rel, n, p.toLong, s.toLong, e.toLong)
        case other => throw new IllegalStateException(
          s"non-committed name '$other' in a log snapshot")
      }
    }
    (snap, files)
  }

  /** The shared erase-swap tail of [[deleteWhere]] / [[compactByKey]]:
    * rewrite the affected files' survivor rows (`sv` carries a `__n`
    * source-file-name column), pin resume coverage with keepers, and
    * publish one atomic swap.
    *
    * Two orderings matter for crash/refusal safety:
    *   - Every refusal fires BEFORE any byte is written (the keeper
    *     feasibility check runs on pre-flight survivor stats), so a
    *     refused operation leaves zero state behind.
    *   - Planned output names are computed EXACTLY up front, and any
    *     same-named file not in the live snapshot — an unpublished
    *     orphan from a crashed predecessor — is purged before the
    *     write. Without this, [[BatchWriter]]'s idempotent-redo rename
    *     (skip existing) could adopt a stale orphan written by a
    *     DIFFERENT earlier operation that happened to produce the same
    *     survivor range. Purging only non-live files is safe precisely
    *     because unpublished files can have no readers. */
  private def eraseSwap(spark: SparkSession, outDir: String, topic: String,
                        files: Seq[(String, String, Long, Long, Long)],
                        affectedNames: Set[String], sv: DataFrame,
                        pad: Int, format: String): Long = {
    val affected = files.filter(f => affectedNames.contains(f._2))
    val liveNames = files.map(_._2).toSet
    // pre-flight survivor stats PER HALF (split point derives from the
    // file's NAME range, so it is known before any aggregate): enough
    // to compute every planned output name exactly
    val mids = affected.map { case (_, n, _, s, e) =>
      (n, s + (e - s) / 2)
    }.toMap
    import spark.implicits._
    val midDf = broadcast(mids.toSeq.toDF("__n", "__mid"))
    val halfStats = sv.join(midDf, Seq("__n"))
      .groupBy(col("__n").as("n"), (col("off") <= col("__mid")).as("lo"))
      .agg(min(col("off")).as("mn"), max(col("off")).as("mx"))
      .collect()
      .map(r => (r.getString(0), r.getBoolean(1)) ->
        (r.getLong(2), r.getLong(3)))
      .toMap
    // planned output files per affected source: (file_idx, start, end)
    val ext = BatchWriter.Formats(format)
    val plans: Seq[(String, Long, Seq[(Long, Long, Long)])] =
      affected.zipWithIndex.map { case ((_, n, p, s, e), i) =>
        val lo = halfStats.get((n, true))
        val hi = halfStats.get((n, false))
        val spans = lo.exists(_._1 == s) && hi.exists(_._2 == e)
        val groups = (lo, hi) match {
          case (None, None) => Seq.empty // no survivors: pure remove
          case _ if spans => // split: neither name equals the original
            Seq(lo, hi).flatten.zipWithIndex.map { case ((mn, mx), h) =>
              (2L * i + h, mn, mx)
            }
          case _ => // survivors missed an endpoint: one file, new name
            val mn = Seq(lo, hi).flatten.map(_._1).min
            val mx = Seq(lo, hi).flatten.map(_._2).max
            Seq((2L * i, mn, mx))
        }
        (n, p, groups)
      }
    // keeper feasibility + need, BEFORE any write
    val oldMax = files.groupMapReduce(_._3)(_._5)(math.max)
    val newMax = (files.filterNot(f => affectedNames.contains(f._2))
        .map(f => (f._3, f._5)) ++
      plans.flatMap { case (_, p, gs) => gs.map(g => (p, g._3)) })
      .groupMapReduce(_._1)(_._2)(math.max)
    val keeperPlan = oldMax.toSeq.sorted.flatMap { case (p, e) =>
      if (newMax.get(p).exists(_ >= e)) None
      else {
        val name = FileNaming.encodeName(topic, p.toInt, e, e, ext, pad)
        require(!affectedNames.contains(name),
          s"deleting the only row of single-offset partition-max file " +
            s"$name would shrink resume coverage with no keeper name " +
            "available — compact the topic first to widen the range")
        Some((p, e, name))
      }
    }
    // purge colliding unpublished orphans at every planned destination
    val f = fs(spark, outDir)
    val plannedNames = plans.flatMap { case (_, p, gs) =>
      gs.map { case (_, mn, mx) =>
        (p, FileNaming.encodeName(topic, p.toInt, mn, mx, ext, pad))
      }
    } ++ keeperPlan.map { case (p, _, name) => (p, name) }
    plannedNames.foreach { case (p, name) =>
      if (!liveNames.contains(name))
        f.delete(new Path(s"$outDir/$topic/partition=$p/$name"), false)
    }
    // data write (routing mirrors the plan exactly)
    val committed =
      if (plans.forall(_._3.isEmpty)) Seq.empty[BatchWriter.CommittedFile]
      else {
        val routing = affected.zipWithIndex.map { case ((_, n, _, s, e), i) =>
          val spans = plans.find(_._1 == n).exists(_._3.size == 2)
          (n, 2L * i, if (spans) mids(n) else Long.MaxValue)
        }.toDF("__n", "__base", "__mid")
        val assigned = sv
          .join(broadcast(routing), Seq("__n"))
          .withColumn("file_idx",
            when(col("off") <= col("__mid"), col("__base"))
              .otherwise(col("__base") + 1L))
          .drop("__n", "__base", "__mid")
        BatchWriter.writeAssigned(assigned, outDir, topic, pad, format)
      }
    // keepers: empty schema-only files pinning shrunk partition maxima
    val keeperRels = keeperPlan.map { case (p, e, name) =>
      val dest = new Path(s"$outDir/$topic/partition=$p/$name")
      val staged = new Path(s"$outDir/+tmp/$topic/.keeper-$p-$e")
      try {
        sv.drop("part", "__n").limit(0).coalesce(1)
          .write.mode("overwrite").format(format).save(staged.toString)
        val part = f.listStatus(staged).map(_.getPath)
          .find(_.getName.startsWith("part-"))
          .getOrElse(throw new java.io.IOException(
            s"empty keeper write produced no part file under $staged"))
        // idempotent redo: a crashed predecessor's keeper is the
        // same deterministic (empty) content
        if (!f.exists(dest) && !f.rename(part, dest))
          throw new java.io.IOException(s"rename failed installing $name")
      } finally { f.delete(staged, true); () }
      s"partition=$p/$name"
    }
    val v = publish(spark, outDir, topic,
      adds = committed.map(c =>
        s"partition=${c.partition}/${new Path(c.path).getName}") ++ keeperRels,
      removes = affected.map(_._1))
    checkpoint(spark, outDir, topic)
    v
  }

  /** Row-level UPDATE on a logged topic — [[deleteWhere]]'s in-place
    * twin: rows matching `predicate` have the `assignments` columns
    * replaced (non-matching rows in the same files ride along
    * unchanged), again by rewriting ONLY the files that hold matches
    * and publishing one atomic swap. The redaction primitive:
    * scrubbing PII or recalled content out of committed documents
    * WITHOUT changing their offsets — so resume recovery, incremental
    * checkpoints and downstream joins on (part, off) are all
    * untouched, and no coverage keepers are ever needed. Offsets (and
    * `part`) must not be assigned. Because the rewrite spans exactly
    * the original offsets, every affected file splits in two (the
    * names can never collide with the live original); a single-offset
    * file cannot split and refuses loudly (compact first — the same
    * corner as the delete). Updated rows reach incremental consumers
    * through the LOGICAL change feed (`diffRows`: old rows removed,
    * new rows added), not `readAddedSince` — a swap is never
    * append-fed, by the protocol's two-kind invariant. Physical old
    * bytes survive until [[vacuum]], the two-phase contract. */
  def updateWhere(spark: SparkSession, outDir: String, topic: String,
                  predicate: Column, assignments: Map[String, Column],
                  pad: Int = FileNaming.DefaultZeroPadWidth,
                  format: String = "parquet"): Long = {
    require(BatchWriter.SelfDescribing(format),
      s"updateWhere needs a self-describing format retaining off, got: $format")
    require(assignments.nonEmpty, "no assignment columns")
    require(!assignments.contains("off") && !assignments.contains("part"),
      "offsets and partitions are immutable — updates rewrite content only")
    val (snap, files) = parsedSnapshot(spark, outDir, topic, "row-updatable")
    // same skipping-plane pruning as deleteWhere before the confirm scan
    val candidates = FileBloom.pruneRels(spark, outDir, topic, predicate,
      FileStats.pruneRels(spark, outDir, topic, predicate, snap, format),
      format)
    if (candidates.isEmpty) return latestVersion(spark, outDir, topic)
    val affectedNames = readFiles(spark, outDir, topic, candidates, format)
      .filter(predicate).select(srcFileName.as("n")).distinct()
      .collect().map(_.getString(0)).toSet
    if (affectedNames.isEmpty) return latestVersion(spark, outDir, topic)
    val affected = files.filter(f => affectedNames.contains(f._2))
    affected.foreach { case (_, n, _, s, e) =>
      require(s != e,
        s"single-offset file $n cannot split for an in-place rewrite " +
          "(its replacement would collide with the still-live " +
          "original) — compact the topic first to widen the range")
    }
    // pin the source file name BEFORE the assignment projections — the
    // hidden _metadata column does not survive arbitrary reprojection
    val src = readFiles(spark, outDir, topic, affected.map(_._1), format)
      .withColumn("__n", srcFileName)
    val updated = assignments.foldLeft(src) { case (df, (c, v)) =>
      require(src.columns.contains(c), s"no such column to assign: $c")
      df.withColumn(c, when(predicate, v).otherwise(col(c)))
    }
    import spark.implicits._
    // purge colliding unpublished orphans before writing: an update's
    // output names are deterministic per source file (the rows keep
    // their offsets), so a crashed predecessor's unpublished rewrite —
    // possibly with DIFFERENT assignments — at the same name would be
    // adopted by the idempotent-redo rename; per-half min/max of the
    // unchanged offsets gives every planned name exactly
    val liveNames = files.map(_._2).toSet
    val midsDf = broadcast(affected.map { case (_, n, _, s, e) =>
      (n, s + (e - s) / 2)
    }.toDF("__n", "__mid"))
    val ext = BatchWriter.Formats(format)
    val f = fs(spark, outDir)
    src.join(midsDf, Seq("__n"))
      .groupBy(col("__n").as("n"), (col("off") <= col("__mid")).as("lo"))
      .agg(min(col("off")).as("mn"), max(col("off")).as("mx"))
      .collect().foreach { r =>
        val p = affected.find(_._2 == r.getString(0)).get._3
        val name = FileNaming.encodeName(topic, p.toInt, r.getLong(2),
          r.getLong(3), ext, pad)
        if (!liveNames.contains(name))
          f.delete(new Path(s"$outDir/$topic/partition=$p/$name"), false)
      }
    // every file spans its original range — always split at midpoint
    val routing = affected.zipWithIndex.map { case ((_, n, _, s, e), i) =>
      (n, 2L * i, s + (e - s) / 2)
    }.toDF("__n", "__base", "__mid")
    val assigned = updated
      .join(broadcast(routing), Seq("__n"))
      .withColumn("file_idx",
        when(col("off") <= col("__mid"), col("__base"))
          .otherwise(col("__base") + 1L))
      .drop("__n", "__base", "__mid")
    val committed = BatchWriter.writeAssigned(assigned, outDir, topic, pad,
      format)
    val v = publish(spark, outDir, topic,
      adds = committed.map(c =>
        s"partition=${c.partition}/${new Path(c.path).getName}"),
      removes = affected.map(_._1))
    checkpoint(spark, outDir, topic)
    v
  }

  /** Log-based compaction: plan over the SNAPSHOT (not the
    * directory), rewrite multi-file groups through the standard
    * protocol, then swap sources for replacements in ONE atomic
    * version. Readers never observe sources and replacement together;
    * physical deletion is deferred to [[vacuum]]. Re-running after a
    * crash at any point converges: pre-publish, the replacement
    * renames are idempotently skipped and the publish redone;
    * post-publish, the plan sees only replacements and no multi-file
    * groups remain. */
  def compactLogged(spark: SparkSession, outDir: String, topic: String,
                    targetRecords: Long,
                    pad: Int = FileNaming.DefaultZeroPadWidth,
                    format: String = "parquet",
                    graceMs: Long = 15 * 60 * 1000L): Long = {
    require(BatchWriter.SelfDescribing(format),
      s"compact needs a self-describing format retaining off, got: $format")
    val re = FileNaming.CommittedFilenameRegex.r
    val listed = snapshot(spark, outDir, topic).flatMap { rel =>
      rel.split('/').last match {
        case n @ re(t, p, s, e, _) if t == topic =>
          // same default-layout guard as BatchWriter.compact: the
          // rewrite reconstructs partition=<p> source paths, so a
          // logged encoded-layout path must refuse up front, not fail
          // opaquely mid-rewrite
          require(rel == s"partition=$p/$n",
            s"'$rel' is not in the default partition=<p> layout — " +
              "encoded-partition topics are not compactable")
          Some(BatchWriter.CompactFile(p.toLong, s.toLong, e.toLong, n))
        case _ => None
      }
    }
    // a log snapshot never holds overlapping ranges (swaps are atomic)
    // — ANY overlap, partial or containment, means the log is corrupt.
    // Checked with the log's own diagnostic BEFORE planCompaction,
    // whose layout-guard wording (and containment "healing") would
    // misread corruption as an encoded layout / crashed compaction.
    // This makes every overlap unreachable for the planner, so no
    // second subsumed check is needed after it.
    listed.groupBy(_.partition).foreach { case (p, files) =>
      files.sortBy(_.start).sliding(2).foreach {
        case Seq(a, b) =>
          require(b.start > a.end,
            s"overlapping ranges in a log snapshot (corrupt log?): " +
              s"partition $p [${a.start}..${a.end}] vs [${b.start}..${b.end}]")
        case _ =>
      }
    }
    val plan = BatchWriter.planCompaction(listed, targetRecords)
    val multi = plan.groups.filter(_.files.size > 1)
    if (multi.isEmpty) return latestVersion(spark, outDir, topic)
    // Collision safety against NON-LIVE files still on disk: a merged
    // group's output is NAMED by the group's span (so a zero-row
    // erasure keeper in the group widens the name instead of letting
    // the output collide with a live input — see rewriteGroups) — and
    // the idempotent-redo rename would silently ADOPT any same-named
    // file within that span. Two distinct cases:
    //   - a crashed predecessor's UNPUBLISHED staging (referenced by
    //     no retained version): no reader can hold it — PURGE it, so
    //     the redo rewrites fresh instead of adopting bytes that may
    //     predate an intervening row-level DML;
    //   - a file RETAINED for old pins (e.g. the pre-split original
    //     after deleteWhere split [0,9] into [0,4]+[6,9] — merging
    //     them back plans exactly the name [0,9]): neither purge
    //     (pinned readers) nor adopt (would RESURRECT erased rows) is
    //     safe — SKIP any group whose span overlaps it this cycle;
    //     vacuum/truncate clears it and a later maintain merges.
    val liveRels = snapshot(spark, outDir, topic).toSet
    val nonLive = BatchWriter.listCommittedRel(spark, outDir, topic)
      .filterNot(liveRels.contains)
    val safe = if (nonLive.isEmpty) multi else {
      val referenced = (versions(spark, outDir, topic)
        .flatMap(v => changesAt(spark, outDir, topic, v)._1) ++
        checkpointBase(spark, outDir, topic)._2).toSet
      val (retained, orphans) = nonLive.partition(referenced.contains)
      val f = fs(spark, outDir)
      // vacuum's grace contract applies HERE too: a writer between its
      // data-rename and publish looks exactly like an orphan, and
      // purging it would make the imminent publish reference missing
      // bytes. Orphans younger than graceMs are neither purged nor
      // adoptable — they join the group-skip set below; a later
      // maintain (after grace) purges and merges.
      val cutoff = System.currentTimeMillis() - graceMs
      val (young, stale) = orphans.partition { rel =>
        val p = new Path(s"$outDir/$topic/$rel")
        try f.getFileStatus(p).getModificationTime >= cutoff
        catch { case _: java.io.FileNotFoundException => false }
      }
      stale.foreach(rel =>
        f.delete(new Path(s"$outDir/$topic/$rel"), false))
      val staleByPart = (retained ++ young).flatMap { rel =>
        rel.split('/').last match {
          case re(t, p, s, e, _) if t == topic =>
            Some((p.toLong, s.toLong, e.toLong))
          case _ => None
        }
      }.groupBy(_._1)
      multi.filter { g =>
        !staleByPart.getOrElse(g.partition, Nil).exists { case (_, s, e) =>
          s <= g.end && e >= g.start
        }
      }
    }
    if (safe.isEmpty) return latestVersion(spark, outDir, topic)

    val committed =
      BatchWriter.rewriteGroups(spark, outDir, topic, safe, pad, format)

    val v = publish(spark, outDir, topic,
      adds = committed.map(c => s"partition=${c.partition}/${new Path(c.path).getName}"),
      removes = safe.flatMap(g => g.files.map(n => s"partition=${g.partition}/$n")))
    // the swap just rewrote the live set wholesale — the natural moment
    // to rebase snapshot replay on a checkpoint (idempotent on redo)
    checkpoint(spark, outDir, topic)
    v
  }

  /** Topics under `outDir` that own a commit log — the store's topic
    * roster, discovered from the layout itself (one listing of the
    * store root, metadata-scale). */
  def topics(spark: SparkSession, outDir: String): Seq[String] = {
    val f = fs(spark, outDir)
    val root = new Path(outDir)
    if (!f.exists(root)) return Seq.empty
    f.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_.startsWith("+"))
      .filter(t => f.exists(logDir(outDir, t)))
      .toSeq.sorted
  }

  /** [[compactLogged]] across every logged topic in the store — the
    * maintenance sweep a multi-topic ingest (`StreamIngest.
    * startLoggedMulti`) pairs with. Each topic compacts and publishes
    * independently (its own atomicity domain); a crash mid-sweep
    * leaves completed topics compacted and the rest untouched, and a
    * re-run converges. Returns each topic's resulting log version. */
  def compactAllLogged(spark: SparkSession, outDir: String,
                       targetRecords: Long,
                       pad: Int = FileNaming.DefaultZeroPadWidth,
                       format: String = "parquet",
                       graceMs: Long = 15 * 60 * 1000L): Map[String, Long] =
    topics(spark, outDir).map { t =>
      t -> compactLogged(spark, outDir, t, targetRecords, pad, format,
        graceMs)
    }.toMap

  /** Clone `srcTopic`'s snapshot (optionally at `asOf` — time-travel
    * branching) into a NEW topic: the live files copy byte-for-byte
    * and publish as the clone's version 0. The clone is a fully
    * independent logged topic — vacuum or compaction of the source
    * can never reach into it (paths are topic-relative, so true
    * zero-copy sharing is impossible by design; the copy IS the
    * isolation). Use cases: a frozen training snapshot that outlives
    * source retention, a scratch branch for a destructive migration,
    * a dev copy of a production topic. Fails if the clone topic
    * already has a log (clones are create-only — an append would
    * interleave two histories).
    *
    * Filenames are RE-ENCODED to embed `dstTopic` (offsets, partition,
    * padding, extension survive verbatim): every offset/compaction
    * scan in the engine filters on the filename-embedded topic
    * (`maxOffsets`, `compactLogged`, `BatchWriter.maxCommittedOffsets`),
    * so a clone that inherited source-topic names would restart
    * ingestion at offset 0 and be invisible to compaction/vacuum —
    * exactly the writable-branch use case this exists for. */
  def cloneTopic(spark: SparkSession, outDir: String, srcTopic: String,
                 dstTopic: String, asOf: Long = Long.MaxValue): Long = {
    val f = fs(spark, outDir)
    // a dst outside the filename charset would re-encode into names
    // CommittedFilenameRegex cannot parse — offset resume on the clone
    // would restart at 0 (the duplicate-ingestion failure the
    // re-encoding exists to prevent); reject it before touching disk
    require(FileNaming.isValidTopicName(dstTopic),
      s"clone target '$dstTopic' is outside the committed-filename " +
        "charset [a-zA-Z0-9._-]+")
    require(latestVersion(spark, outDir, dstTopic) < 0,
      s"clone target '$dstTopic' already has a commit log")
    val rels = snapshot(spark, outDir, srcTopic, asOf)
    require(rels.nonEmpty, s"empty snapshot for $srcTopic at $asOf")
    val re = FileNaming.CommittedFilenameRegex.r
    val renamed = rels.map { rel =>
      val (dir, name) = rel.lastIndexOf('/') match {
        case -1 => ("", rel)
        case i => (rel.substring(0, i + 1), rel.substring(i + 1))
      }
      name match {
        case re(t, p, s, e, ext) if t == srcTopic =>
          // keep the digit strings verbatim — padding width is part of
          // the topic's on-disk contract and must survive the branch
          rel -> s"$dir$dstTopic+$p+$s+$e${Option(ext).getOrElse("")}"
        case _ => throw new IllegalStateException(
          s"snapshot of '$srcTopic' holds a file not committed under " +
            s"that topic name: '$rel' — refusing to clone a corrupt log")
      }
    }
    val conf = spark.sparkContext.hadoopConfiguration
    renamed.foreach { case (srcRel, dstRel) =>
      val from = new Path(s"$outDir/$srcTopic/$srcRel")
      val to = new Path(s"$outDir/$dstTopic/$dstRel")
      f.mkdirs(to.getParent)
      // copy + rename: a crashed clone leaves only .tmp litter and an
      // absent log — rerunning converges, readers never saw anything
      val tmp = new Path(to.getParent, s".${to.getName}.tmp")
      org.apache.hadoop.fs.FileUtil.copy(f, from, f, tmp, false, conf)
      if (f.exists(to)) f.delete(to, false)
      if (!f.rename(tmp, to))
        throw new java.io.IOException(s"rename failed installing $dstRel")
    }
    publish(spark, outDir, dstTopic, renamed.map(_._2))
  }

  /** One topic's full maintenance pass, in dependency order:
    * compact small files (publishes a swap + auto-checkpoint),
    * truncate the log below the new checkpoint, vacuum unreferenced
    * data files. Each step is independently idempotent and
    * crash-convergent, so the sweep is too. */
  final case class Maintenance(version: Long, truncated: Seq[Long],
                               vacuumed: Seq[String])
  def maintain(spark: SparkSession, outDir: String, topic: String,
               targetRecords: Long,
               graceMs: Long = 15 * 60 * 1000L,
               pad: Int = FileNaming.DefaultZeroPadWidth,
               format: String = "parquet"): Maintenance = {
    val v = compactLogged(spark, outDir, topic, targetRecords, pad, format,
      graceMs)
    checkpoint(spark, outDir, topic) // no-op when compaction already did
    // an indexed topic re-covers its rewritten/appended files here —
    // between sweeps the planes are merely conservative (new files scan)
    FileStats.refresh(spark, outDir, topic, format)
    FileBloom.refresh(spark, outDir, topic, format)
    Maintenance(v, truncateLog(spark, outDir, topic),
      vacuum(spark, outDir, topic, graceMs))
  }

  /** [[maintain]] across every logged topic in the store — the
    * nightly job a 100 TB deployment schedules. Per-topic atomicity:
    * a crash mid-sweep leaves completed topics maintained and the
    * rest untouched; the re-run converges. */
  def maintainAll(spark: SparkSession, outDir: String,
                  targetRecords: Long,
                  graceMs: Long = 15 * 60 * 1000L,
                  pad: Int = FileNaming.DefaultZeroPadWidth,
                  format: String = "parquet"): Map[String, Maintenance] =
    topics(spark, outDir).map { t =>
      t -> maintain(spark, outDir, t, targetRecords, graceMs, pad, format)
    }.toMap

  /** Delete committed-named data files the log does not reference:
    * compacted sources and crashed writers' orphans. Only
    * committed-named files are touched — staging and log internals are
    * not its business. Returns the deleted relative paths.
    *
    * `graceMs` is the retention window that keeps vacuum safe against
    * the two racers that legitimately hold unreferenced files: a
    * reader whose snapshot was resolved before a compaction swap (it
    * may still be scanning the swapped-out sources) and a writer
    * between data-rename and publish. Files younger than `graceMs`
    * are kept; size it above the longest query runtime + commit
    * latency (the default is deliberately conservative). Pass 0 only
    * when the topic is known quiescent (as tests do). */
  def vacuum(spark: SparkSession, outDir: String, topic: String,
             graceMs: Long = 15 * 60 * 1000L): Seq[String] = {
    val f = fs(spark, outDir)
    val live = snapshot(spark, outDir, topic).toSet
    // qualified root prefix → TRUE topic-relative paths at any nesting
    // depth (a one-level getParent.getName shortcut would compute the
    // wrong rel for nested layouts and vacuum the wrong files)
    val root = f.makeQualified(new Path(s"$outDir/$topic"))
    if (!f.exists(root)) return Seq.empty
    val rootUri = root.toUri.getPath
    val cutoff = System.currentTimeMillis() - graceMs
    val out = BatchWriter.walkFiles(f, root).collect {
      case st if st.getPath.getName.matches(FileNaming.CommittedFilenameRegex) &&
          st.getModificationTime <= cutoff =>
        st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
    }.filterNot(live.contains)
    out.foreach(rel => f.delete(new Path(root, rel), false))
    out
  }
}
