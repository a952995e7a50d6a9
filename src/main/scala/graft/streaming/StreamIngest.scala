package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.catalog.TableCatalog
import graft.ingest.{AvroSink, BatchWriter, CommitLog, FileNaming, GraftConfig, Retry, Rotation}
import graft.schema.SchemaEvolution

/** Streaming ingest (SURVEY §7 M5): the reference's continuously-running
  * exactly-once pipeline (`HdfsSinkTask.put` → buffer → rotate → WAL →
  * rename, `TopicPartitionWriter.java:313-433`) as Structured Streaming.
  *
  * Spark-native replacements for the reference machinery:
  *  - consumer offset tracking / rewind  → checkpoint `offsets/`
  *  - WAL append/apply/truncate (A16-18) → checkpoint + idempotent
  *    micro-batch commit below
  *  - retry w/ backoff (A22)             → batch replay from checkpoint
  *  - rebalance open/close (A23)         → Spark scheduler internal
  *
  * ONE commit loop serves every `start*` entry point of this package,
  * as the reference's one `TopicPartitionWriter` state machine serves
  * every partition `DataWriter.write` demultiplexes to
  * (`DataWriter.java:347-353`). It is keyed by (topic, part): a
  * single-topic stream is the constant-topic case, a multi-topic
  * stream carries a `topic` column. Per micro-batch it runs, each step
  * once: one payload exchange by the key and the batch-local offset
  * dedup → the resume filter (drop offsets at or below the committed
  * maximum) → the admission filter, if any → the caller's writer (the
  * atomic-rename commit) → for each topic in the manifest, the log
  * publish, with a log checkpoint every 64 versions, then the
  * admission's side-plane install under the published version, then
  * post-publish hooks (views, Hive partitions) → the in-memory offset
  * advance. A replayed batch after a crash re-filters to nothing — the
  * same idempotent-redo contract as `FSWAL.apply`.
  *
  * Offsets are recovered once, at query start: from the commit log
  * (logged loops), or from committed FILENAMES — the reference's own
  * source of truth, `FileUtils.java:106-149` — for the unlogged
  * [[start]], which publishes nothing.
  *
  * An admission filter (the `DedupIngest`, `QualityGate` and
  * `CardinalityMonitor` gates) must be deterministic in the record, so
  * a replayed record meets the same verdict. It should keep the batch's
  * partitioning — filters, projections and broadcast joins — because
  * the writer reads that from the admitted frame's plan: a clustered
  * frame is rotated and staged where it lies, and one a filter
  * re-shuffled costs the writer one more exchange, never correctness.
  * Pinning follows one rule: neither the loop nor the writer pins
  * anything (the writer reads its input once, in the staging write,
  * which reports each file's offset range itself), and a filter that
  * reads its input or its admitted frame in more than one action (a
  * probe it collects, a side-plane install) pins that frame itself and
  * hands it back for release.
  */
object StreamIngest {

  /** Start the commit pipeline on a stream shaped (part, off, ...).
    *
    * Committed offsets are recovered from filenames ONCE at query
    * start (the reference's recover-on-start, `HdfsSinkTask.java:145-149`)
    * and then maintained incrementally from each batch's commit
    * manifest — the recursive directory listing does not re-run per
    * micro-batch, so its cost no longer grows with total file count.
    * A restart re-lists, which is exactly the crash-recovery contract.
    *
    * @param trigger the commit cadence. A processing-time trigger is
    *   A13's wallclock scheduled rotation (`rotate.schedule.interval.ms`,
    *   `TopicPartitionWriter.java:297-310`): a micro-batch holding
    *   FEWER than `flushSize` records still commits its file when the
    *   schedule fires — the partial-file flush of
    *   `DataWriterAvroTest.java:356-403`. Day alignment: Spark's
    *   ProcessingTime trigger fires at epoch-aligned multiples of the
    *   period; the epoch is anchored at UTC midnight, so for periods
    *   dividing 24h these are exactly the reference's midnight-anchored
    *   fire times (`Rotation.nextTimeAdjustedByDay` — equivalence
    *   property-tested in RotationSpec). Periods that do not divide a
    *   day re-anchor at each midnight in the reference; pick a divisor
    *   period (the reference's own default configs do) to keep the
    *   contracts equal. The logged entry points take the same trigger. */
  def start(stream: DataFrame, outDir: String, topic: String, flushSize: Int,
            checkpoint: String, trigger: Option[Trigger] = None,
            format: String = "parquet",
            avroCodec: String = "null"): StreamingQuery =
    commitLoop(stream, checkpoint, trigger, outDir, Left(topic),
      writerFor(outDir, topic, flushSize, format, avroCodec),
      logged = false)

  /** The per-batch committer for a (format, codec) choice — B1's Avro
    * writes through [[AvroSink]] (the reference's default on-disk
    * format in its core streaming loop,
    * `avro/AvroRecordWriterProvider.java:51-103`), everything else
    * through [[BatchWriter]]. */
  private[streaming] def writerFor(outDir: String, topic: String, flushSize: Int,
                        format: String, avroCodec: String,
                        pad: Int = FileNaming.DefaultZeroPadWidth)
      : DataFrame => Seq[BatchWriter.CommittedFile] =
    if (format == "avro")
      b => AvroSink.write(b, outDir, topic, flushSize, pad, avroCodec)
    else
      b => BatchWriter.write(b, outDir, topic, flushSize, pad, format)

  /** A committed file's topic-relative path (what [[CommitLog]]
    * stores) — works for the default `partition=<p>` layout and any
    * encoded-partition layout, at any nesting depth. */
  private[streaming] def relPath(outDir: String, topic: String, path: String): String = {
    val root = new org.apache.hadoop.fs.Path(s"$outDir/$topic").toUri.getPath
    val p = new org.apache.hadoop.fs.Path(path).toUri.getPath
    require(p.startsWith(root), s"committed file $p outside topic root $root")
    p.stripPrefix(root).stripPrefix("/")
  }

  /** The log-checkpoint cadence, in versions, of every logged loop. */
  private val LogCheckpointEvery = 64

  /** Publish one batch's committed files as a log version, then rebase
    * snapshot replay on a [[CommitLog.checkpoint]] every
    * [[LogCheckpointEvery]] versions, so a year-old topic's reads and
    * restarts stay O(tail), not O(every version ever published).
    * Returns the published version. */
  private def publishBatch(spark: SparkSession, outDir: String, topic: String,
                           rels: Seq[String]): Long = {
    val v = CommitLog.publish(spark, outDir, topic, rels)
    if (v > 0 && v % LogCheckpointEvery == 0) CommitLog.checkpoint(spark, outDir, topic)
    v
  }

  /** An admission filter's verdict on one micro-batch: the frame to
    * write; the side-plane record to install under the log version the
    * batch's publish returned (a fingerprint file, MinHash signatures,
    * a KMV sketch — run only when the batch published); and the frames
    * the filter pinned, released once the batch is done. */
  private[streaming] final case class Admission(
      admitted: DataFrame,
      install: Long => Unit = _ => (),
      pinned: Seq[DataFrame] = Nil)

  /** The one micro-batch commit loop (see the object scaladoc).
    *
    * `topic` keys the stream: `Left(t)` is one constant topic (the
    * frame carries no routing column — a payload column named `topic`
    * is content); `Right(prepare)` routes by the frame's `topic`
    * column after `prepare` ran on the raw batch, which may assign it
    * (SMT routers, dead-letter routing, tiering) and must then be
    * deterministic in the record: replay correctness hangs on a
    * replayed record re-routing to the topic whose log already holds
    * it. `write` commits the admitted frame under `root` and returns
    * the manifest; `logged = false` (the constant-topic [[start]]
    * only) recovers from filenames and publishes nothing.
    * `afterPublish` runs per topic after its publish and install. */
  private[streaming] def commitLoop(stream: DataFrame, checkpoint: String,
                         trigger: Option[Trigger], root: String,
                         topic: Either[String, DataFrame => DataFrame],
                         write: DataFrame => Seq[BatchWriter.CommittedFile],
                         logged: Boolean = true,
                         admit: DataFrame => Admission = Admission(_),
                         afterPublish: (String, Seq[BatchWriter.CommittedFile]) => Unit =
                           (_, _) => ()): StreamingQuery = {
    require(logged || topic.isLeft, "multi-topic streams commit through the log")
    val spark = stream.sparkSession
    // recover-on-start: every logged topic under the root for a routed
    // stream — a topic with no log starts empty and advances from its
    // manifests below. The one-writer-per-topic discipline is what
    // makes this exact: no other writer grows a topic's log behind the
    // running query.
    var committed: Map[String, Map[Long, Long]] = topic match {
      case Left(t) if logged => Map(t -> CommitLog.maxOffsets(spark, root, t))
      case Left(t) => Map(t -> BatchWriter.maxCommittedOffsets(spark, root, t))
      case Right(_) => CommitLog.topics(spark, root)
        .map(t => t -> CommitLog.maxOffsets(spark, root, t)).toMap
    }
    val keys = if (topic.isLeft) Seq("part") else Seq("topic", "part")
    val prepare = topic.fold(_ => identity[DataFrame] _, p => p)
    val writer = stream.writeStream.option("checkpointLocation", checkpoint)
    trigger.foreach(writer.trigger)
    writer.foreachBatch { (batch: DataFrame, _: Long) =>
      // ONE payload exchange per micro-batch (r18): hash the batch by
      // the key up front, then every downstream step rides that
      // clustering — the offset dedup (keyed ⊇ the key), the resume
      // filter, the admission filter, the rotation's first offset and
      // the staging write (the writers find the clustering in the
      // admitted frame's plan and skip their own exchange), whose tasks
      // also report the manifest. The per-partition serialization this
      // implies is the reference's own model: one TopicPartitionWriter
      // per Kafka partition. The batch-local dedup catches an at-least-once
      // upstream handing the SAME offset twice within one micro-batch,
      // which the committed-offset filter alone cannot. The partition
      // count is explicit: adaptive execution may coalesce a by-column
      // repartition's partitions, and the staging write that rides this
      // exchange would then run on fewer tasks than there are shuffle
      // partitions (a 20k-row demux batch staged on 2 tasks, not 4).
      val fresh = BatchWriter.resumeFrom(
        prepare(batch).repartition(
          spark.conf.get("spark.sql.shuffle.partitions").toInt, keys.map(col): _*)
          .dropDuplicates(keys :+ "off"),
        committed, byTopic = topic.isRight)
      val gate = admit(fresh)
      try {
        // no isEmpty pre-probe (r17): an all-replayed or all-rejected
        // batch stages nothing and yields an empty manifest, so no
        // topic group below runs — no publish, no install, no hook
        write(gate.admitted).groupBy(_.topic).toSeq.sortBy(_._1)
          .foreach { case (t, files) =>
            if (logged)
              gate.install(publishBatch(spark, root, t,
                files.map(c => relPath(root, t, c.path))))
            afterPublish(t, files)
            committed = committed.updated(t,
              files.foldLeft(committed.getOrElse(t, Map.empty[Long, Long])) {
                (m, f) => m.updated(f.partition,
                  math.max(m.getOrElse(f.partition, -1L), f.endOffset))
              })
          }
      } finally gate.pinned.foreach(_.unpersist())
    }.start()
  }

  /** [[start]] with the transactional metadata-log commit: each
    * micro-batch's files publish as ONE atomic `CommitLog` version and
    * resume offsets come from the log snapshot, not a directory
    * listing. Exactly-once survives a crash BETWEEN data-rename and
    * publish: the restarted stream resumes from the log (which never
    * saw the orphaned batch) and re-ingests those offsets. Where the
    * replay reproduces a file boundary, the rename is idempotently
    * skipped and the redone publish adopts the orphan; where new
    * offsets shift the tail grouping, the stale partial file simply
    * stays unreferenced — log readers can never see it next to its
    * overlapping replacement (the double-read a directory lister WOULD
    * hit), and `vacuum` reclaims it at leisure. */
  def startLogged(stream: DataFrame, outDir: String, topic: String,
                  flushSize: Int, checkpoint: String,
                  trigger: Option[Trigger] = None,
                  format: String = "parquet",
                  avroCodec: String = "null"): StreamingQuery =
    commitLoop(stream, checkpoint, trigger, outDir, Left(topic),
      writerFor(outDir, topic, flushSize, format, avroCodec))

  /** [[startLogged]] plus the reference's LIVE Hive sync
    * (`DataWriter.java:383-420` bootstrap + the first-write
    * `addHivePartition` hook, `TopicPartitionWriter.java:787-800`):
    * the external table is created from the first committed batch's
    * schema, and every newly-seen kafka partition registers in the
    * catalog right after the publish that made its files visible —
    * SQL users see data the same micro-batch it commits, without an
    * MSCK sweep. Catalog registration is driver-side metadata AFTER
    * the data commit, so a crash leaves the catalog at most one batch
    * stale and the redo converges (CREATE and ADD PARTITION are both
    * IF NOT EXISTS; a restart re-registers partitions from the log's
    * offset map). */
  def startLoggedHive(stream: DataFrame, outDir: String, topic: String,
                      flushSize: Int, checkpoint: String, table: String,
                      database: Option[String] = None,
                      trigger: Option[Trigger] = None,
                      format: String = "parquet"): StreamingQuery = {
    val spark = stream.sparkSession
    var tableReady = false
    // partitions already in the catalog: everything the log already
    // covers (restart path — their dirs exist), then grow per batch
    val registered = scala.collection.mutable.Set.empty[Long] ++
      CommitLog.maxOffsets(spark, outDir, topic).keys
    val commit = writerFor(outDir, topic, flushSize, format, "null")
    commitLoop(stream, checkpoint, trigger, outDir, Left(topic),
      write = batch => {
        if (!tableReady) {
          database.foreach(TableCatalog.createDatabase(spark, _))
          TableCatalog.createExternalTable(spark, table, s"$outDir/$topic",
            dataSchema = org.apache.spark.sql.types.StructType(
              batch.schema.filterNot(_.name == "part")),
            partitionCols = Seq("partition" -> "BIGINT"),
            database = database)
          if (registered.nonEmpty) // restart over an existing topic:
            TableCatalog.syncPartitions(spark, table, database)
          tableReady = true
        }
        commit(batch)
      },
      afterPublish = (_, files) =>
        files.map(_.partition).distinct.filterNot(registered).foreach { p =>
          TableCatalog.addPartition(spark, table, Map("partition" -> p),
            database)
          registered += p
          ()
        })
  }

  /** [[startLogged]] plus always-fresh materialized views: after each
    * micro-batch's publish, every registered [[MaterializedAgg.ViewDef]]
    * folds the batch's appends forward off the log. Ordering is the
    * consistency story — the data publish happens FIRST, so a crash
    * mid-refresh leaves views merely stale (each catches up exactly,
    * never double-counted, on the next batch via its filename
    * watermark), and a view registered on a long-lived topic back-fills
    * itself on its first refresh. */
  def startLoggedWithViews(stream: DataFrame, outDir: String, topic: String,
                           flushSize: Int, checkpoint: String,
                           views: Seq[graft.ingest.MaterializedAgg.ViewDef],
                           trigger: Option[Trigger] = None,
                           format: String = "parquet",
                           avroCodec: String = "null"): StreamingQuery =
    commitLoop(stream, checkpoint, trigger, outDir, Left(topic),
      writerFor(outDir, topic, flushSize, format, avroCodec),
      afterPublish = (_, _) => graft.ingest.MaterializedAgg.refreshAll(
        stream.sparkSession, outDir, topic, views, format))

  /** Restart schema re-inference — the reference's recover-time
    * re-read of the current schema from the latest committed file
    * (`TopicPartitionWriter.java:334-350`, which reads each
    * partition's max-offset file because every partition has its own
    * writer). A stream has ONE schema across partitions, and offsets
    * are per-partition sequences — comparing them across partitions
    * would let an idle high-offset partition's stale pre-evolution
    * file win — so "latest" here is by COMMIT ORDER: the newest
    * append version in the log names the newest committed record, and
    * the LIVE file covering that record's offset is read (the file
    * itself when still present, its compaction rewrite otherwise).
    * The content schema is returned in the stream shape (`part`
    * re-prepended where the layout encodes it into directories).
    * Parquet/orc read their footer, json infers, avro decodes the
    * container header writer schema
    * ([[AvroSink.readSchemaOf]]/[[AvroSink.structTypeFor]]); text/csv
    * carry no schema — their recovery is offsets-only (None). None
    * also for a fresh topic. */
  def committedSchema(spark: SparkSession, outDir: String, topic: String,
                      format: String = "parquet"): Option[StructType] = {
    if (format != "avro" && !Set("parquet", "orc", "json")(format)) return None
    // the PRESENT version files (the full log until a truncation, the
    // retained suffix after — truncateLog keeps the newest append
    // version, so the schema carrier's version is always readable)
    val avail = CommitLog.versions(spark, outDir, topic)
    if (avail.isEmpty) return None
    // LAZY per-version reads, shared by the live fold and the
    // newest-record tail scan below: the fold touches only versions
    // above the checkpoint and the tail scan stops at the newest
    // append, so a restart costs O(post-checkpoint + tail) version
    // file opens — not one per retained version, which on a year-old
    // topic that never truncated is tens of thousands of reads whose
    // contents would mostly be discarded
    val changeCache =
      scala.collection.mutable.Map.empty[Long, (Seq[String], Seq[String])]
    def changeAt(v: Long): (Seq[String], Seq[String]) =
      changeCache.getOrElseUpdate(v,
        CommitLog.changesAt(spark, outDir, topic, v))
    // live set = newest checkpoint's contents + a fold of the
    // POST-CHECKPOINT changes. The base covers everything below a
    // truncation; only post-checkpoint changes fold on top. A
    // truncated log with no checkpoint cannot be replayed from the
    // retained suffix alone — route that (never produced by
    // truncateLog, which requires a checkpoint) through snapshot(),
    // which reports it loudly.
    val (ckptV, base) = CommitLog.checkpointBase(spark, outDir, topic)
    val live: Seq[String] =
      if (ckptV < 0 && avail.min > 0) CommitLog.snapshot(spark, outDir, topic)
      else {
        val l = scala.collection.mutable.LinkedHashSet.empty[String]
        l ++= base
        avail.filter(_ > ckptV).foreach { v =>
          val (adds, removes) = changeAt(v)
          l ++= adds
          l --= removes
        }
        l.toSeq
      }
    val re = FileNaming.CommittedFilenameRegex.r
    def parse(rel: String): Option[(Long, Long, Long)] =
      rel.split('/').last match {
        case re(t, p, s, e, _) if t == topic => Some((p.toLong, s.toLong, e.toLong))
        case _ => None
      }
    // The newest committed RECORD names the schema carrier, located by
    // OFFSET, not by file liveness: the newest append's file NAMES
    // survive in the log even after a compaction swap removed (and
    // vacuum deleted) the files, and version order among appends IS
    // data order — where liveness order is not (an old single-file
    // partition stays live forever while newer appends get rewritten
    // into swaps; preferring "newest live append" would regress the
    // recovered schema to that stale file's).
    val newestRec = avail.reverseIterator.map(changeAt)
      .collectFirst { case (adds, removes)
          if removes.isEmpty && adds.flatMap(parse).nonEmpty =>
        adds.flatMap(parse).maxBy(t => (t._3, t._1)) }
    if (newestRec.isEmpty) return None
    val (recPart, _, recEnd) = newestRec.get
    // the LIVE file holding that record: same partition, range covers
    // it — the newest append's own file when still live, else the
    // compaction rewrite that absorbed it (swaps preserve every row,
    // and a rewrite's merged read carries a schema at least as new as
    // any file it replaced). Ranges never overlap within a partition
    // (log invariant), so the carrier is unique.
    val newestAppend = live.find(rel => parse(rel).exists {
      case (p, s, e) => p == recPart && s <= recEnd && recEnd <= e
    })
    if (newestAppend.isEmpty) return None
    val path = s"$outDir/$topic/${newestAppend.get}"
    val content =
      if (format == "avro")
        AvroSink.structTypeFor(AvroSink.readSchemaOf(spark, path))
      else spark.read.format(format).load(path).schema
    Some(
      if (content.fieldNames.contains("part")) content
      else StructType(StructField("part", LongType, nullable = false) +:
        content.fields))
  }

  /** The per-batch schema policy a config-driven restart applies —
    * `schema.compatibility` over the recovered [[committedSchema]],
    * resolved ONCE at query start (the reference's recover-on-start).
    * A stream has one static schema where the reference sees per-record
    * schema versions, so "newer" is inferred structurally: a stream
    * that ADDS columns over the committed schema is an evolution.
    *
    *  - NONE: no re-inference (the reference skips recovery under NONE,
    *    `TopicPartitionWriter.java:335`); the stream's schema is
    *    adopted as-is.
    *  - BACKWARD/FULL: an evolved (column-adding) stream adopts its
    *    new schema — new files carry it, the catalog widens via
    *    ADD COLUMNS; otherwise the stream projects UP onto the
    *    committed schema (missing nullable fields null-filled).
    *  - FORWARD: the committed schema stays current — the stream
    *    always projects onto it (new columns dropped, the reference's
    *    down-projection). */
  private def recoveryProjector(spark: SparkSession, outDir: String,
                                topic: String,
                                cfg: GraftConfig): DataFrame => DataFrame =
    if (cfg.schemaCompatibility == "NONE") identity
    else committedSchema(spark, outDir, topic, cfg.format) match {
      case None => identity
      case Some(cur) => batch => {
        val adds = batch.columns.exists(c => !cur.fieldNames.contains(c))
        if (adds && cfg.schemaCompatibility != "FORWARD") {
          // adopting means new files carry the stream's schema — a
          // stream that ALSO drops committed columns is a rename or
          // deletion masquerading as an addition, and adopting it
          // would silently vanish a column mid-topic (the reference's
          // projector fails such records instead)
          val drops = cur.fieldNames.filterNot(batch.columns.contains)
          if (drops.nonEmpty)
            throw new SchemaEvolution.SchemaProjectionException(
              s"stream schema adds columns but also drops committed " +
                s"column(s) ${drops.mkString(", ")} — not a " +
                s"${cfg.schemaCompatibility}-compatible evolution; " +
                "project explicitly or use schema.compatibility=NONE")
          batch
        } else SchemaEvolution.project(batch, cur)
      }
    }

  private def cfgTrigger(cfg: GraftConfig): Option[Trigger] =
    if (cfg.rotateScheduleIntervalMs > 0)
      Some(Trigger.ProcessingTime(cfg.rotateScheduleIntervalMs))
    else None

  /** [[startLogged]] driven by a validated [[GraftConfig]] — the
    * micro-batch write IS [[GraftConfig.write]], so EVERY write-plane
    * knob is consumed: format/codec (including Avro, the reference's
    * default on-disk format, streaming end-to-end), `topics.dir`
    * (files and log land under `<outDir>/<topics.dir>/<topic>` — read
    * back via `cfg.topicsRoot(outDir)`), the partitioner family,
    * `rotate.interval.ms` record-time splits, the zero-pad width,
    * `retry.backoff.ms` (one backoff-retry of a failed batch write —
    * safe because the commit protocol is idempotent redo), and
    * `rotate.schedule.interval.ms` as the processing-time trigger.
    *
    * Encoded (non-default-partitioner) layouts keep exactly-once here
    * even though recovery is offset-filtering: unlike a directory
    * listing, the log publishes each batch ATOMICALLY, so its
    * per-partition max offset can never straddle a torn commit — the
    * caveat on `BatchWriter.writeAssignedEncoded` applies to
    * listing-based resume, not to the log. */
  def startLogged(stream: DataFrame, outDir: String, topic: String,
                  cfg: GraftConfig, checkpoint: String): StreamingQuery = {
    require(cfg.smts.forall(!_.routesTopic),
      "router SMTs (RegexRouter/TimestampRouter) rewrite the topic " +
        "column — run them through the multi-topic startLoggedMulti(cfg) " +
        "overload")
    val spark = stream.sparkSession
    val root = cfg.topicsRoot(outDir)
    val reproject = recoveryProjector(spark, root, topic, cfg)
    // SMTs run FIRST (the Connect runtime applies transforms before
    // the sink), then schema recovery projects the transformed shape
    commitLoop(stream, checkpoint, cfgTrigger(cfg), root, Left(topic),
      b => Retry.withBackoff(2, cfg.retryBackoffMs)(
        cfg.write(reproject(cfg.applySmts(b, includeRouters = false)),
          outDir, topic)))
  }

  /** [[startLogged]] against the configured store root — the streaming
    * consumer of `store.url`/`hdfs.url` (same precedence as
    * `GraftConfig.write(df, topic)`). */
  def startLogged(stream: DataFrame, topic: String, cfg: GraftConfig,
                  checkpoint: String): StreamingQuery =
    startLogged(stream, cfg.storeUrl.getOrElse(
      throw new IllegalArgumentException(
        "no store root configured: set store.url (or hdfs.url), or " +
          "call startLogged(stream, outDir, topic, cfg, checkpoint)")),
      topic, cfg, checkpoint)

  /** [[startLoggedMulti]] driven by a validated [[GraftConfig]]:
    * flush size, format (including Avro with its codec, via the
    * per-topic AvroSink fan-out), zero-pad width, `topics.dir` root,
    * `retry.backoff.ms`, `rotate.interval.ms` (all four formats: the
    * BatchWriter formats split in the ONE staging job, avro through
    * its per-topic fan-out, text dropping the routing timestamp after
    * the split) and the schedule trigger are consumed; the knobs the
    * multi-topic committer does not support (encoded partitioners,
    * rotation combined with FORWARD recovery) fail fast here instead
    * of being silently ignored — run those topics through the
    * single-topic [[startLogged]] config overload. */
  def startLoggedMulti(stream: DataFrame, outDir: String, cfg: GraftConfig,
                       checkpoint: String): StreamingQuery = {
    require(cfg.partitioner == "default",
      "multi-topic streaming supports the default layout; run " +
        "encoded-partitioner topics through the single-topic " +
        "startLogged(cfg) overload")
    require(cfg.schemaCompatibility == "NONE" ||
        cfg.schemaCompatibility == "FORWARD",
      "multi-topic streaming runs restart schema recovery only under " +
        "FORWARD (pure per-topic down-projection); BACKWARD/FULL " +
        "adoption is per-topic schema state — run those topics " +
        "through the single-topic startLogged(cfg) overload")
    require(cfg.schemaCompatibility == "NONE" || cfg.rotateIntervalMs <= 0,
      "FORWARD recovery writes per-topic (no rotation); combine " +
        "rotation with schema recovery via the single-topic overload")
    // rotate.interval.ms in the demux plane: the reference rotates per
    // TopicPartitionWriter regardless of how many topics one consumer
    // carries (TopicPartitionWriter.java:516-519); the bucket reads
    // record time through the configured timestamp extractor, exactly
    // like the single-topic cfg.write path
    val bucket =
      if (cfg.rotateIntervalMs > 0)
        Some(Rotation.longDiv(
          org.apache.spark.sql.functions.unix_millis(cfg.recordTime(col)),
          org.apache.spark.sql.functions.lit(cfg.rotateIntervalMs)))
      else scala.None
    // FORWARD: each topic's projector resolves from ITS committed
    // files at first sighting (the reference's per-writer recovery,
    // TopicPartitionWriter.java:334-350) and is cached for the
    // stream's life — the single-topic resolve-once contract, per
    // topic
    val root = cfg.topicsRoot(outDir)
    val projection: Option[String => DataFrame => DataFrame] =
      if (cfg.schemaCompatibility == "FORWARD") Some {
        val cache =
          scala.collection.mutable.Map.empty[String, DataFrame => DataFrame]
        (t: String) => cache.getOrElseUpdate(t,
          recoveryProjector(stream.sparkSession, root, t, cfg))
      } else scala.None
    startLoggedMulti(stream, root, cfg.flushSize,
      checkpoint, trigger = cfgTrigger(cfg), format = cfg.format,
      pad = cfg.zeroPadWidth, writeRetries = 2,
      retryBackoffMs = cfg.retryBackoffMs, avroCodec = cfg.avroCodec,
      rotationBucket = bucket,
      // text payloads are single-column: the record-time source the
      // bucket expression read is dropped after the split, exactly as
      // in the single-topic cfg.write path
      rotationDrop =
        if (cfg.format == "text") cfg.rotationDropColumns else Nil,
      // the Connect runtime's record transforms, routers included —
      // a routed topic IS the directory here, as record.topic() is
      // in Connect
      prepare = cfg.applySmts(_, includeRouters = true),
      perTopicProjection = projection)
  }

  /** Stop a streaming query within the configured shutdown budget —
    * the consumer of `shutdown.timeout.ms` (the reference bounds its
    * writer-close on task stop, `DataWriter.java:close`). The budget
    * is enforced through Spark's own `spark.sql.streaming.stopTimeout`
    * (a bare `stop()` under the default 0 waits indefinitely for the
    * execution thread, so an awaitTermination afterwards could never
    * time out). Returns whether the query terminated inside the
    * budget; a `false` leaves the query draining in the background. */
  def stop(query: StreamingQuery, cfg: GraftConfig): Boolean =
    // serialized: the budget travels through the SESSION-scoped
    // stopTimeout conf (Spark offers no per-call form), so two
    // concurrent stops with different budgets would race on the
    // set/restore pair and could leave the conf at a transient value
    synchronized {
      val conf = query.sparkSession.conf
      val key = "spark.sql.streaming.stopTimeout"
      val prev = conf.getOption(key)
      // Spark reads stopTimeout 0 as WAIT INDEFINITELY — the inverse of
      // a zero budget; clamp to the smallest finite wait instead
      conf.set(key, math.max(1L, cfg.shutdownTimeoutMs).toString)
      try { query.stop(); true }
      catch { case _: java.util.concurrent.TimeoutException => false }
      finally prev match {
        case Some(v) => conf.set(key, v)
        case scala.None => conf.unset(key)
      }
    }

  /** Multi-topic orchestration — the reference's `DataWriter.write`
    * demultiplexes one record stream across every topic's writers in a
    * single consumer pass (`DataWriter.java:347-353`: group records by
    * TopicPartition, buffer into each partition's
    * `TopicPartitionWriter`). The Spark-native equivalent: ONE
    * streaming query through the one commit loop, keyed (topic, part)
    * — N topics never mean N source scans or N concurrent queries, and
    * the stream checkpoint advances all topics together.
    *
    * Per-topic isolation matches the reference's
    * writer-per-TopicPartition model: each topic keeps its OWN commit
    * log (atomic version publish) and its own committed-offset map. A
    * crash between topic A's publish and topic B's publish replays the
    * batch; A's resume filter drops its already-committed offsets
    * (idempotent redo), B ingests as if the crash never happened —
    * exactly-once per topic, no cross-topic coupling.
    *
    * Offset recovery happens ONCE, at query start, for every logged
    * topic under `outDir` ([[CommitLog.topics]] + [[CommitLog.maxOffsets]],
    * metadata only — the reference's recover-on-start,
    * `HdfsSinkTask.java:145-149`). A topic with a log that reappears
    * later in the stream is filtered against that recovered map; a
    * topic with no log starts empty, and every topic advances from
    * its own publish manifests after that. The one-writer-per-topic
    * discipline is what makes this exact: no other writer grows a
    * topic's log behind the running query.
    *
    * `stream` is shaped (topic, part, off, payload...); the `topic`
    * column routes and becomes the directory
    * (`<outDir>/<topic>/partition=<p>/`), never file content.
    * Pair with `KafkaSource.fromTopics` + `normalize` in production.
    *
    * Scale shape: job count per micro-batch is O(1) in topic count,
    * 3 jobs — the map stage of ONE payload exchange keyed (topic, part)
    * that the dedup, the (topic, part)-keyed resume filter (broadcast
    * join over the recovered offset maps, metadata-scale, its own job
    * alongside the map stage once anything is committed), the
    * first-offset / rotation windows (computed inside each task, see
    * [[Rotation]]) and the staging write all ride; and ONE staging job
    * dynamic-partitioned by (topic, part, file_idx)
    * (`BatchWriter.writeMulti`), whose tasks also report each file's
    * offset range. Nothing is pinned and no per-batch topic roster is
    * collected.
    * Only the COMMIT stays per-topic — each topic's log is its own
    * atomicity domain, and those publishes are driver-side metadata
    * ops.
    *
    * Avro and per-topic schema projection are the exception to O(1):
    * the avro-core sink cannot join the dynamic-partitioned staging
    * job, and projected slices are structurally different frames, so
    * those configurations pin the resume-filtered batch, collect its
    * topic roster, and commit each topic's slice on its own — O(topics)
    * jobs per micro-batch over the CACHED batch (no source re-scan),
    * the same per-writer fan-out the reference's demux runs.
    * Commit/replay semantics are identical. `rotationBucket` rotates
    * every format: the BatchWriter formats inside the one staging job
    * (keyed per (topic, part)), avro inside its fan-out slices;
    * `rotationDrop` removes routing-only columns (text's record-time
    * source) after the split read them. */
  def startLoggedMulti(stream: DataFrame, outDir: String, flushSize: Int,
                       checkpoint: String, trigger: Option[Trigger] = None,
                       format: String = "parquet",
                       pad: Int = FileNaming.DefaultZeroPadWidth,
                       writeRetries: Int = 1,
                       retryBackoffMs: Long = 0L,
                       avroCodec: String = "null",
                       prepare: DataFrame => DataFrame = identity,
                       rotationBucket: Option[org.apache.spark.sql.Column] =
                         scala.None,
                       rotationDrop: Seq[String] = Nil,
                       perTopicProjection:
                         Option[String => DataFrame => DataFrame] =
                           scala.None,
                       views: Map[String,
                         Seq[graft.ingest.MaterializedAgg.ViewDef]] =
                           Map.empty)
      : StreamingQuery = {
    require(rotationBucket.isEmpty || perTopicProjection.isEmpty,
      "per-topic schema projection writes through the per-topic " +
        "fan-out, which does not rotate; run rotated+projected topics " +
        "through the single-topic overload")
    def retried(w: => Seq[BatchWriter.CommittedFile]) =
      Retry.withBackoff(writeRetries, retryBackoffMs)(w)
    // avro cannot join the dynamic-partitioned staging job; per-topic
    // schema projection makes slices structurally DIFFERENT frames —
    // both take the per-topic fan-out, which reads the batch once per
    // topic: it pins the batch and collects its topic roster. Every
    // rostered topic has rows and projection never filters, so no
    // slice is probed for emptiness.
    val write: DataFrame => Seq[BatchWriter.CommittedFile] =
      if (format == "avro" || perTopicProjection.isDefined) fresh => {
        val pinned = fresh.persist()
        try {
          val topics = pinned.select("topic").distinct()
            .collect().map(_.getString(0)).sorted.toSeq
          retried(topics.flatMap { t =>
            val slice0 = pinned.filter(col("topic") === t).drop("topic")
            val slice = perTopicProjection
              .map(p => p(t)(slice0)).getOrElse(slice0)
            if (format == "avro")
              // rotation rides the per-topic fan-out: the bucket
              // expression reads the slice's record-time column
              // (still present — only `topic` was dropped)
              AvroSink.write(slice, outDir, t, flushSize, pad,
                avroCodec, rotationBucket)
            else
              BatchWriter.write(slice, outDir, t, flushSize, pad, format)
          })
        } finally { pinned.unpersist(); () }
      } else fresh => retried(
        BatchWriter.writeMulti(fresh, outDir, flushSize, pad, format,
          rotationBucket, rotationDrop))
    // per-topic materialized views refresh AFTER that topic's data
    // publish (the startLoggedWithViews ordering contract — a crash
    // mid-refresh leaves the view stale, and its filename watermark
    // back-fills it exactly on the topic's next batch)
    commitLoop(stream, checkpoint, trigger, outDir, Right(prepare), write,
      afterPublish = (t, _) => views.get(t).foreach(vs =>
        graft.ingest.MaterializedAgg.refreshAll(
          stream.sparkSession, outDir, t, vs, format)))
  }

  /** Dead-letter routing — the Kafka Connect runtime's
    * `errors.tolerance=all` + `errors.deadletterqueue.topic.name`
    * contract around the reference connector: records failing the
    * caller's validity predicate are not dropped and do not poison
    * the stream; they land in `<topic>.dlq` with the same
    * exactly-once commit guarantees as the main topic, for later
    * inspection/repair/replay. Both routes ride the multi-topic
    * plane: per-topic transactional logs, ONE staging job per
    * micro-batch, independent offset recovery — a crash between the
    * main and DLQ publishes replays the batch and each side's resume
    * filter drops only its own committed offsets.
    *
    * `isValid` must be deterministic in the record (the router
    * family's replay contract): a replayed record re-routes to the
    * side whose log already holds it. */
  def startLoggedDlq(stream: DataFrame, outDir: String, topic: String,
                     isValid: org.apache.spark.sql.Column, flushSize: Int,
                     checkpoint: String,
                     trigger: Option[Trigger] = None,
                     format: String = "parquet",
                     pad: Int = FileNaming.DefaultZeroPadWidth)
      : StreamingQuery = {
    require(!stream.columns.contains("topic"),
      "dead-letter routing assigns `topic` itself — drop the stream's column")
    startLoggedMulti(stream, outDir, flushSize, checkpoint, trigger,
      format, pad,
      prepare = _.withColumn("topic",
        when(isValid, lit(topic)).otherwise(lit(s"$topic.dlq"))))
  }

  /** Event-time bucketing with late-data handling (A12's semantics:
    * a time bucket closes only once a later record advances the clock —
    * exactly the watermark contract, `TopicPartitionWriterTest.java:404`). */
  def windowedCounts(events: DataFrame, tsCol: String, windowDur: String,
                     watermarkDelay: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("bucket_start"), col("n"))

  /** Gap-based sessionization on the live stream: Spark's native
    * `session_window` keeps per-key session state and emits a session
    * once the watermark passes its close — the streaming twin of the
    * batch `sessionize_events` query (same 30-minute-gap semantics,
    * state bounded by the watermark instead of a sort). */
  def sessionCounts(events: DataFrame, tsCol: String, gap: String,
                    watermarkDelay: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(col("user_id"), session_window(col(tsCol), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Offset-keyed dedup across the stream (at-least-once source →
    * exactly-once records), bounded by the watermark.
    * `dropDuplicatesWithinWatermark`, not `dropDuplicates`: with a
    * key subset that omits the event-time column, plain
    * dropDuplicates never applies the watermark to its state — one
    * entry per distinct (part, off) accumulates for the life of the
    * stream. The WithinWatermark variant evicts state once the
    * watermark passes, which is exactly the bound an at-least-once
    * source needs (a redelivery after the delay is out of contract). */
  def dedupOffsets(events: DataFrame, tsCol: String, watermarkDelay: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("part", "off")

  /** Stream-stream enrichment join: each left event picks up right
    * events with the same `key` whose timestamp falls in
    * `[left.ts - lookback, left.ts]` — the streaming twin of the batch
    * `range_join_signup_hour` interval join. Both sides carry
    * watermarks AND the join condition bounds event-time range, which
    * is what lets Spark expire join state instead of buffering both
    * streams forever — state per key is O(lookback), not O(stream).
    *
    * The result keeps BOTH sides' `key`/timestamp columns under the
    * `l` and `r` aliases — select them qualified (`col("l.user")`),
    * an unqualified `col("user")` is ambiguous. */
  def enrichWithinLookback(left: DataFrame, right: DataFrame, key: String,
                           leftTs: String, rightTs: String,
                           watermarkDelay: String, lookback: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTs, watermarkDelay).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $lookback") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs"))
  }
}
