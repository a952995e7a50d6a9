package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.functions.{DedupFunctions => DF, NativeExpressions, SimilarityFunctions => SF, TextFunctions => TF}
import graft.ingest.{AvroSink, BatchWriter, CommitLog}

/** Content-exact dedup at the ingestion gate: [[StreamIngest.startLogged]]
  * plus an admission filter that drops any record whose PAYLOAD was
  * already committed — the streaming twin of the `dedup_incremental`
  * batch query, run before data ever lands (the shape a training-data
  * pipeline wants: never store the duplicate, instead of re-deduping
  * the corpus later).
  *
  * Scale shape per micro-batch: the corpus is represented by a
  * fingerprint INDEX (16-byte md5 per committed record, parquet files
  * under `_fp/` — fingerprints shuffle, documents never do). The
  * batch's fingerprints BROADCAST into a semi-join against the index
  * (the index never shuffles; its scan is the only corpus-sized read),
  * the resulting known-set broadcasts back into an anti-join against
  * the batch, and only novel records reach the committer.
  *
  * Index consistency composes with exactly-once through WATERMARK
  * naming: a file `v<N>.parquet` asserts the index covers every commit
  * version ≤ N, and each batch installs its novel fingerprints under
  * the version its data publish returned. A crash between publish and
  * install leaves versions above the watermark —
  * [[reconcileFingerprints]] (run at every start) rebuilds them from
  * their committed files, falling back to one full-snapshot rebuild
  * when compaction+vacuum already reclaimed those files. The `_fp`
  * directory never collides with the data plane: underscore-prefixed,
  * so partition discovery, compaction, vacuum, and max-offset listings
  * all ignore it.
  */
object DedupIngest {

  /** Content fingerprint: the 16-byte md5 of the canonical JSON of
    * every column EXCEPT the stream envelope (`part`, `off`), in name
    * order — the same payload at a different offset is a duplicate.
    * Matches the committed files' content on read-back: parquet/orc
    * encode `part` into the directory layout, avro keeps it in
    * content; both sides exclude the envelope.
    *
    * Timestamp columns canonicalize to epoch MICROSECONDS first:
    * to_json renders timestamps at millisecond precision in the
    * SESSION time zone, which would (a) collide records distinct only
    * in microseconds and (b) make a crash-window rebuild in a session
    * with a different zone mismatch every gate-time fingerprint.
    * Null-valued fields are omitted from the JSON (Spark's default),
    * which is what keeps fingerprints stable across column-adding
    * schema evolution: a pre-evolution row and its post-evolution
    * (extra = null) read-back serialize identically. */
  def fingerprint(df: DataFrame): Column = {
    val payload = df.columns.filterNot(Set("part", "off")).sorted
    require(payload.nonEmpty, "no payload columns to fingerprint")
    val schema = df.schema
    val canon = payload.map { name =>
      schema(name).dataType match {
        case org.apache.spark.sql.types.TimestampType =>
          unix_micros(col(name)).as(name)
        case _ => col(name)
      }
    }
    unhex(md5(to_json(struct(canon.toIndexedSeq: _*)).cast("binary")))
  }

  /** Formats whose committed files round-trip EXACTLY — csv/text
    * rename columns on read-back (`_c0`, `value`) and json re-infers
    * types (a decimal payload comes back double), so a crash-window
    * rebuild would index fingerprints that never match the gate's and
    * silently re-admit duplicates. */
  private[streaming] def requireRereadable(
      format: String, purpose: String = "content dedup"): Unit =
    require(format == "avro" || format == "parquet" || format == "orc",
      s"$purpose needs an exactly-round-tripping format " +
        s"(parquet/orc/avro) for crash-window index rebuilds, got: $format")

  private def fpDirPath(outDir: String, topic: String) =
    new Path(s"$outDir/$topic/_fp")

  private[graft] def hfs(spark: SparkSession, outDir: String): FileSystem =
    CommitLog.fs(spark, outDir) // ONE FS-resolution idiom, not three

  private val FpSchema =
    StructType(Seq(StructField("fp", org.apache.spark.sql.types.BinaryType)))
  private val FpName = "v(\\d+)\\.parquet".r

  private[graft] def fpFiles(f: FileSystem, dir: Path): Seq[(Long, Path)] =
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.flatMap(s => s.getPath.getName match {
      case FpName(v) => Some((v.toLong, s.getPath))
      case _ => None
    })

  /** The committed-corpus fingerprint set (column `fp`) — empty frame
    * when nothing has been committed yet. May carry duplicate rows
    * after a full-snapshot rebuild; the gate's semi-join is
    * insensitive to that. */
  def fingerprintIndex(spark: SparkSession, outDir: String,
                       topic: String): DataFrame = {
    // explicit FILE paths, not the directory root: `_fp` is
    // underscore-prefixed so the data plane's discovery skips it, but
    // handing it to a reader as the root makes Spark log a spurious
    // "all paths were ignored" warning on every micro-batch
    val files = fpFiles(hfs(spark, outDir), fpDirPath(outDir, topic))
      .map(_._2.toString)
    if (files.nonEmpty)
      spark.read.schema(FpSchema).parquet(files: _*).select(col("fp"))
    else
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], FpSchema)
  }

  /** Materialize the pre-shaped (projected + deduped) frame as ONE
    * parquet part file under a hidden temp dir; returns the part's
    * path. The single subtle stage-and-locate dance, shared by the
    * per-version installs and the index merges of BOTH index planes. */
  private def stageSingleParquet(f: FileSystem, tmp: Path,
                                 shaped: DataFrame): Path = {
    shaped.distinct().coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    f.listStatus(tmp).map(_.getPath)
      .find(_.getName.startsWith("part-"))
      .getOrElse(throw new java.io.IOException(s"no parquet part under $tmp"))
  }

  /** Atomically install one watermark file into an index plane
    * directory (idempotent — a replayed batch that reproduces the
    * version skips the write; a stale temp dir from a crash
    * mid-install is reclaimed either way). */
  private[graft] def installVersionFile(f: FileSystem, dir: Path,
                                 version: Long, shaped: DataFrame): Unit = {
    val dest = new Path(dir, s"v$version.parquet")
    val tmp = new Path(dir, s".tmp-v$version")
    if (f.exists(dest)) { f.delete(tmp, true); return }
    val part = stageSingleParquet(f, tmp, shaped)
    if (!f.exists(dest) && !f.rename(part, dest))
      throw new java.io.IOException(s"rename failed: $part -> $dest")
    f.delete(tmp, true)
    ()
  }

  private def writeFpFile(spark: SparkSession, outDir: String, topic: String,
                          version: Long, fps: DataFrame): Unit =
    installVersionFile(hfs(spark, outDir), fpDirPath(outDir, topic), version,
      fps.select(col("fp")))

  /** Fingerprints of a committed-file set — the per-version and
    * full-snapshot rebuild reader. Must reproduce GATE-TIME
    * fingerprints even when the file set spans a schema evolution:
    * parquet/orc read under the MERGED schema (old rows null-fill the
    * added columns, which to_json omits — identical serialization to
    * their own era); avro decodes each file with its OWN writer schema
    * and fingerprints per file, so no single-schema read can drop a
    * wide file's columns. Fingerprinting excludes the envelope, so
    * layout differences (`partition=` vs encoded dirs) cannot skew the
    * rebuilt index — hence a plain content read, NOT
    * BatchWriter.loadCommitted (which adds the envelope's `part`). */
  private[streaming] def fingerprintsOf(spark: SparkSession, outDir: String,
                             topic: String, format: String,
                             rels: Seq[String]): DataFrame = {
    val paths = rels.map(rel => s"$outDir/$topic/$rel")
    format match {
      case "avro" =>
        paths.map { p =>
          val df = AvroSink.readDataFrame(spark, p,
            AvroSink.structTypeFor(AvroSink.readSchemaOf(spark, p)))
          df.select(fingerprint(df).as("fp"))
        }.reduce(_.union(_))
      case _ =>
        val df = spark.read.option("mergeSchema", "true")
          .format(format).load(paths: _*)
        df.select(fingerprint(df).as("fp"))
    }
  }

  /** Advance the index watermark to the commit log's latest version,
    * rebuilding whatever is missing (the crash-repair between data
    * publish and index install, and the upgrade path for a topic
    * written without the gate). Versions above the watermark rebuild
    * per-version from their own committed files; if compaction+vacuum
    * already reclaimed any of those, ONE full-snapshot rebuild covers
    * everything instead (swaps preserve every row, so the live
    * snapshot's fingerprints are exactly the committed content's).
    * Swap versions carry no new content and need no file — a trailing
    * swap simply leaves the watermark below `latest` with nothing to
    * do. Returns the versions whose fingerprints were (re)built. */
  def reconcileFingerprints(spark: SparkSession, outDir: String,
                            topic: String,
                            format: String = "parquet"): Seq[Long] = {
    requireRereadable(format)
    reconcileIndex(spark, outDir, topic, fpDirPath(outDir, topic), FpSchema,
      rels => fingerprintsOf(spark, outDir, topic, format, rels))
  }

  /** The ONE watermark-reconcile skeleton both index planes (`_fp`
    * fingerprints, `_mh` MinHash signatures) run — any fix to the
    * crash-repair logic lands in both by construction. Versions above
    * the watermark rebuild per-version via `rebuild` on their own
    * committed files; a format-era mismatch on the on-disk schema
    * wipes the plane (silently admitting every duplicate is the
    * failure mode a wipe+rebuild avoids). */
  private[streaming] def reconcileIndex(spark: SparkSession, outDir: String,
                             topic: String, dir: Path, schema: StructType,
                             rebuild: Seq[String] => DataFrame): Seq[Long] = {
    val latest = CommitLog.latestVersion(spark, outDir, topic)
    if (latest < 0) return Seq.empty
    val f = hfs(spark, outDir)
    // index-format guard: an index written by an older scheme (hex
    // strings, scalar sigs) would read back silently under the current
    // schema and never match the gate's values — wipe it and rebuild
    // rather than admit every duplicate
    fpFiles(f, dir).headOption.foreach { case (_, p) =>
      val onDisk = spark.read.parquet(p.toString).schema
      if (onDisk.fields.headOption.exists(_.dataType != schema.head.dataType))
        fpFiles(f, dir).foreach { case (_, fp) => f.delete(fp, false) }
    }
    val watermark = (fpFiles(f, dir).map(_._1) :+ -1L).max
    val missing = ((watermark + 1) to latest).flatMap { v =>
      val (adds, removes) = CommitLog.changesAt(spark, outDir, topic, v)
      if (removes.isEmpty && adds.nonEmpty) Some(v -> adds) else None
    }
    if (missing.isEmpty) return Seq.empty
    val live = CommitLog.snapshot(spark, outDir, topic).toSet
    // per-version rebuild suits the normal crash window (1-2 missing
    // versions, read only their files); a LARGE backlog — the pre-gate
    // upgrade path — is one snapshot read + one file instead of a
    // Spark job and a tiny index file per historical micro-batch
    if (missing.size <= 4 &&
      missing.forall { case (_, adds) => adds.forall(live) }) {
      missing.map { case (v, adds) =>
        installVersionFile(f, dir, v, rebuild(adds))
        v
      }
    } else {
      val rows =
        if (live.isEmpty) // remove-only history: nothing committed survives
          spark.createDataFrame(spark.sparkContext
            .emptyRDD[org.apache.spark.sql.Row], schema)
        else rebuild(live.toSeq.sorted)
      installVersionFile(f, dir, latest, rows)
      missing.map(_._1)
    }
  }

  /** Index maintenance (the `_fp` twin of the data plane's small-files
    * compaction): merge every per-version file into ONE at the current
    * watermark. A long-lived stream otherwise accumulates a tiny file
    * per micro-batch and the gate's per-batch index scan degrades with
    * stream age. Crash mid-merge is repaired by the next
    * [[reconcileFingerprints]] (worst case: one full-snapshot
    * rebuild). Run offline or between batches — not concurrently with
    * an active gate. */
  def compactFingerprints(spark: SparkSession, outDir: String,
                          topic: String): Long =
    compactIndex(spark, outDir, fpDirPath(outDir, topic),
      fingerprintIndex(spark, outDir, topic))

  /** Rebuild the `_fp` plane from the CURRENT live snapshot — the
    * post-ERASURE hook. The admission index is deliberately
    * append-only-conservative under the watermark contract (extra
    * fingerprints only cause drops, never false admits), so content
    * removed by [[graft.ingest.CommitLog.deleteWhere]] would still be
    * rejected as a duplicate if legitimately resubmitted. Call this
    * after an erasure whose content must become re-admissible: one
    * snapshot read, the plane replaced by ONE exact file at the
    * current log version through the compaction skeleton's
    * crash-ordered sequencing (any crash point either keeps the
    * conservative old coverage or regresses the watermark, which
    * `reconcileFingerprints` repairs at next gate start — no state
    * admits a true duplicate). */
  def rebuildFingerprints(spark: SparkSession, outDir: String,
                          topic: String,
                          format: String = "parquet"): Unit = {
    requireRereadable(format)
    rebuildIndexFromSnapshot(spark, outDir, topic,
      fpDirPath(outDir, topic), FpSchema,
      rels => fingerprintsOf(spark, outDir, topic, format, rels))
  }

  /** [[rebuildFingerprints]] for the `_mh` signature plane — the
    * near-dup gate's post-erasure hook. */
  def rebuildSignatures(spark: SparkSession, outDir: String,
                        topic: String, textCol: String,
                        format: String = "parquet"): Unit = {
    requireRereadable(format)
    NativeExpressions.register(spark)
    rebuildIndexFromSnapshot(spark, outDir, topic,
      mhDirPath(outDir, topic), MhSchema,
      rels => sigsOf(spark, outDir, topic, format, textCol, rels))
  }

  private[graft] def rebuildIndexFromSnapshot(spark: SparkSession, outDir: String,
                                       topic: String, dir: Path,
                                       schema: StructType,
                                       rebuild: Seq[String] => DataFrame)
      : Unit = {
    val latest = CommitLog.latestVersion(spark, outDir, topic)
    if (latest < 0) return
    val f = hfs(spark, outDir)
    val live = CommitLog.snapshot(spark, outDir, topic)
    val rows =
      if (live.isEmpty)
        spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], schema)
      else rebuild(live.sorted)
    val part = stageSingleParquet(f, new Path(dir, ".tmp-rebuild"), rows)
    // same descending-delete discipline as compactIndex: the watermark
    // file goes first, so no crash point leaves a stranded max-version
    // file asserting coverage its content lacks
    fpFiles(f, dir).sortBy(-_._1).foreach { case (_, p) => f.delete(p, false) }
    if (!f.rename(part, new Path(dir, s"v$latest.parquet")))
      throw new java.io.IOException(s"rename failed installing v$latest")
    f.delete(new Path(dir, ".tmp-rebuild"), true)
    ()
  }

  /** The ONE index-merge skeleton both planes run. */
  private[streaming] def compactIndex(spark: SparkSession, outDir: String,
                           dir: Path, frame: => DataFrame): Long = {
    val f = hfs(spark, outDir)
    val files = fpFiles(f, dir)
    if (files.size <= 1) return files.size
    val watermark = files.map(_._1).max
    val part = stageSingleParquet(f, new Path(dir, ".tmp-compact"), frame)
    // delete DESCENDING — the watermark file goes first, so every
    // crash point leaves the surviving max-version file with index
    // coverage at least up to its own number: either the merged file
    // is installed (full coverage) or the watermark has regressed and
    // reconcile rebuilds the tail. Ascending would strand the old
    // watermark file alone, asserting coverage its content lacks.
    files.sortBy(-_._1).foreach { case (_, p) => f.delete(p, false) }
    if (!f.rename(part, new Path(dir, s"v$watermark.parquet")))
      throw new java.io.IOException(s"rename failed installing v$watermark")
    f.delete(new Path(dir, ".tmp-compact"), true)
    1L
  }

  // ===== MinHash NEAR-dup admission gate =====================================

  private def mhDirPath(outDir: String, topic: String) =
    new Path(s"$outDir/$topic/_mh")

  private val MhSchema = StructType(Seq(StructField("sig",
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType))))

  /** The committed-corpus MinHash signature index (column `sig`, one
    * `numMinhashes`-slot array per distinct committed signature) —
    * empty frame when nothing has been committed yet. ~16 longs per
    * doc: corpus-scale but orders of magnitude smaller than re-reading
    * and re-shingling committed TEXT every micro-batch. */
  def minhashIndex(spark: SparkSession, outDir: String,
                   topic: String): DataFrame = {
    val files = fpFiles(hfs(spark, outDir), mhDirPath(outDir, topic))
      .map(_._2.toString)
    if (files.nonEmpty)
      spark.read.schema(MhSchema).parquet(files: _*).select(col("sig"))
    else
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], MhSchema)
  }

  /** Per-record MinHash signature over 3-gram token shingles, keyed by
    * `keyCols`: one native md5 per shingle, map-side-combined `min` per
    * slot (the batch pipeline's scale shape — never 16 digests per
    * shingle). Records with FEWER THAN 3 TOKENS have no shingles and
    * are ABSENT from the result — they bypass the near-dup gate (the
    * exact gate is the right tool for degenerate payloads) and index
    * nothing. */
  private[graft] def sigOf(df: DataFrame, textCol: String,
                           keyCols: Seq[String]): DataFrame = {
    val ks = keyCols.map(col)
    val h = call_function("hash60_md5",
      col("__s").cast("binary")) % DF.MinhashPrime
    df.select(ks :+ explode(
        TF.shingles(TF.tokens(col(textCol)), 3)).as("__s"): _*)
      .select(ks :+ h.as("__h"): _*)
      .groupBy(ks: _*)
      .agg(DF.minhashAggExprs(col("__h")).head,
        DF.minhashAggExprs(col("__h")).tail: _*)
      .select(ks :+ array((0 until DF.numMinhashes)
        .map(i => col(s"sig$i")): _*).as("sig"): _*)
  }

  /** Signatures of a committed-file set — the per-version and
    * full-snapshot rebuild reader (the `_mh` twin of
    * [[fingerprintsOf]]; same per-file avro / merged-schema parquet
    * discipline, but only `textCol` is ever decoded). */
  private def sigsOf(spark: SparkSession, outDir: String, topic: String,
                     format: String, textCol: String,
                     rels: Seq[String]): DataFrame = {
    val paths = rels.map(rel => s"$outDir/$topic/$rel")
    val texts = format match {
      case "avro" =>
        paths.map { p =>
          AvroSink.readDataFrame(spark, p,
            AvroSink.structTypeFor(AvroSink.readSchemaOf(spark, p)))
            .select(col(textCol))
        }.reduce(_.union(_))
      case _ =>
        spark.read.option("mergeSchema", "true").format(format)
          .load(paths: _*).select(col(textCol))
    }
    sigOf(texts.withColumn("__rid", monotonically_increasing_id()),
      textCol, Seq("__rid")).select(col("sig"))
  }

  /** The near-dup admission PROBE every consumer of the `_mh` plane
    * runs — the streaming gate per micro-batch and the batch
    * incremental-curation query per daily batch, so the two admission
    * paths cannot drift: incoming signatures (`keyCols` + `sig`)
    * band-probe the committed signature index, and a row is a
    * duplicate iff SOME committed signature shares an LSH band key
    * with it AND agrees on at least `minAgree` of the
    * [[graft.functions.DedupFunctions.numMinhashes]] slots. The
    * incoming side BROADCASTS into the index — the corpus never
    * shuffles, the scale contract of every gate. `capIndex` lets the
    * batch caller cap hot index bands before the probe (a band shared
    * by hundreds of committed docs is signal-free boilerplate); the
    * streaming gate, whose batches are micro, passes identity.
    * Returns the distinct `keyCols` of duplicate rows. */
  private[graft] def dupAgainstIndex(spark: SparkSession, outDir: String,
                                     topic: String, sigs: DataFrame,
                                     keyCols: Seq[String], minAgree: Int,
                                     rowsPerBand: Int,
                                     capIndex: DataFrame => DataFrame = identity)
      : DataFrame = {
    val sigSlots = (0 until DF.numMinhashes).map(i => col("sig")(i))
    val nb = sigs
      .withColumn("band", explode(DF.bandKeys(sigSlots, rowsPerBand)))
      .select(keyCols.map(col) :+ col("sig").as("nsig") :+ col("band"): _*)
    val ib = capIndex(minhashIndex(spark, outDir, topic)
      .withColumn("band", explode(DF.bandKeys(sigSlots, rowsPerBand))))
    val agree = aggregate(
      zip_with(col("nsig"), col("sig"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    ib.join(broadcast(nb), Seq("band"))
      .select(keyCols.map(col) :+ col("nsig") :+ col("sig"): _*).distinct()
      .filter(agree >= minAgree)
      .select(keyCols.map(col): _*).distinct()
  }

  /** Advance the `_mh` watermark to the commit log's latest version —
    * the signature plane's [[reconcileFingerprints]]: per-version
    * rebuild from committed files for the normal 1–2-version crash
    * window, one full-snapshot rebuild for large backlogs or when
    * compaction+vacuum reclaimed the per-version source files. An
    * index whose on-disk schema predates the signature scheme is wiped
    * and rebuilt rather than silently admitting every near-dup. */
  def reconcileSignatures(spark: SparkSession, outDir: String,
                          topic: String, textCol: String,
                          format: String = "parquet"): Seq[Long] = {
    requireRereadable(format)
    NativeExpressions.register(spark)
    reconcileIndex(spark, outDir, topic, mhDirPath(outDir, topic), MhSchema,
      rels => sigsOf(spark, outDir, topic, format, textCol, rels))
  }

  /** `_mh` index maintenance — [[compactFingerprints]] for the
    * signature plane: merge every per-version file into ONE at the
    * current watermark, same descending-delete crash discipline. */
  def compactSignatures(spark: SparkSession, outDir: String,
                        topic: String): Long =
    compactIndex(spark, outDir, mhDirPath(outDir, topic),
      minhashIndex(spark, outDir, topic))

  /** Textual NEAR-dup admission gate — the fuzzy twin of
    * [[startLoggedDeduped]] (which only stops byte-identical payloads):
    * drop any record whose `textCol` is MinHash-similar to a COMMITTED
    * record, before it ever lands. The committed corpus is represented
    * by the `_mh` signature INDEX (16 longs per doc — signatures
    * shuffle, documents never do, and committed text is never re-read
    * at gate time), maintained under the same watermark/reconcile/
    * compaction contract as the fingerprint index.
    *
    * Per batch: the batch's band keys BROADCAST into the index's band
    * keys (the index never shuffles; candidates are banding-blocked,
    * never all-pairs), and a candidate is a duplicate when ≥ `minAgree`
    * of the `numMinhashes` signature slots agree — the standard
    * signature estimate of Jaccard (minAgree/16 ≈ the Jaccard
    * threshold; 8 ≈ the batch pipeline's 0.5 verify), decided entirely
    * from the index with no text round-trip. Like the batch
    * `dedup_minhash_lsh`, recall is banding-bounded: a near-dup
    * sharing no band key is admitted (tune `rowsPerBand` down for
    * higher recall). Batch-internal near-dups land together (the gate
    * checks the COMMITTED corpus — same contract as the embedding
    * gate); records with fewer than 3 tokens bypass the gate entirely.
    * Replays are idempotent via the offset resume filter; the crash
    * window between data publish and index install is repaired by
    * [[reconcileSignatures]] at every start. */
  def startLoggedMinhashDeduped(stream: DataFrame, outDir: String,
                                topic: String, flushSize: Int,
                                checkpoint: String, textCol: String,
                                minAgree: Int = 8, rowsPerBand: Int = 4,
                                format: String = "parquet",
                                avroCodec: String = "null",
                                trigger: Option[Trigger] = None): StreamingQuery = {
    require(minAgree >= 1 && minAgree <= DF.numMinhashes,
      s"minAgree must be in [1, ${DF.numMinhashes}], got $minAgree")
    require(rowsPerBand >= 1 && DF.numMinhashes % rowsPerBand == 0,
      s"rowsPerBand must divide ${DF.numMinhashes}, got $rowsPerBand")
    requireRereadable(format)
    val spark = stream.sparkSession
    NativeExpressions.register(spark)
    reconcileSignatures(spark, outDir, topic, textCol, format)
    StreamIngest.commitLoop(stream, checkpoint, trigger, outDir, Left(topic),
      StreamIngest.writerFor(outDir, topic, flushSize, format, avroCodec),
      admit = fresh => {
        val dup = dupAgainstIndex(spark, outDir, topic,
          sigOf(fresh, textCol, Seq("part", "off")), Seq("part", "off"),
          minAgree, rowsPerBand)
        // a BROADCAST anti-join keeps the loop's partitioning (r18). The
        // write and the signature install both read the admitted frame:
        // pin it, so the install does not re-run the index probe
        val admitted = fresh
          .join(broadcast(dup), Seq("part", "off"), "left_anti").persist()
        StreamIngest.Admission(admitted,
          install = v => installVersionFile(hfs(spark, outDir),
            mhDirPath(outDir, topic), v,
            sigOf(admitted, textCol, Seq("part", "off")).select(col("sig"))),
          pinned = Seq(admitted))
      })
  }

  /** Embedding NEAR-dup admission gate — the streaming twin of the
    * `dedup_embedding_incremental` batch query: drop any record whose
    * vector has cosine ≥ `threshold` against a COMMITTED vector, before
    * it ever lands. Unlike the exact gate there is no side index: the
    * committed vectors ARE the data, read back per batch through the
    * commit log's live snapshot with every other column pruned — the
    * same corpus-scan cost class as the fingerprint index (bigger
    * constant: d quantized longs vs 16 bytes), with no extra crash
    * window because the log's atomic publish is the only state.
    *
    * Per batch: band width derives from the CURRENT corpus size (the
    * module's sizing rule — both sides key at the same width, so the
    * widening corpus can never go quadratic), the batch's band keys
    * BROADCAST into the corpus keys (the corpus never shuffles), and
    * exact quantized cosine verifies candidates only (`dot ≥ τ·|a||b|`
    * compared multiplicatively — no division). Batch-internal
    * near-dups land together (the batch checks against the COMMITTED
    * corpus — the documented `dedup_embedding_incremental` contract);
    * replays are idempotent via the offset resume filter. Parquet
    * only (the vector column round-trips exactly). */
  def startLoggedEmbDeduped(stream: DataFrame, outDir: String, topic: String,
                            flushSize: Int, checkpoint: String,
                            vecCol: String, dims: Int,
                            threshold: Double = 0.85,
                            bands: Int = 4, maxRows: Int = 16,
                            targetBucket: Long = 16L,
                            trigger: Option[Trigger] = None): StreamingQuery = {
    require(threshold > 0,
      "threshold must be positive: the verify compares dot >= t*|a||b|," +
        " which only encodes cosine >= t for t > 0")
    val spark = stream.sparkSession
    NativeExpressions.register(spark)
    StreamIngest.commitLoop(stream, checkpoint, trigger, outDir, Left(topic),
      StreamIngest.writerFor(outDir, topic, flushSize, "parquet", "null"),
      admit = fresh => {
        // snapshot emptiness, not latestVersion: a remove-only history
        // has versions but no live files, and the empty-corpus answer
        // (admit everything) is the correct one there too
        val liveFiles = CommitLog.snapshot(spark, outDir, topic)
        if (liveFiles.isEmpty) StreamIngest.Admission(fresh)
        else {
          val corpus = CommitLog
            .readFiles(spark, outDir, topic, liveFiles)
            .select(SF.quantize(col(vecCol)).as("cv"))
          // corpus size for the rows-per-band derivation comes from
          // the committed NAME ranges — zero IO, no extra corpus
          // scan per micro-batch (corpus.count() was a second full
          // read on top of the band-key join). An erasure gap only
          // overestimates, and the derivation needs magnitude only.
          val nameRe = graft.ingest.FileNaming.CommittedFilenameRegex.r
          val estRows = liveFiles.map(_.split('/').last).collect {
            case nameRe(t, _, s, e, _) if t == topic =>
              e.toLong - s.toLong + 1
          }.sum
          val rows = math.min(maxRows, SF.recommendedRowsPerBand(
            math.max(1L, estRows), targetBucket))
          def keysOf(v: Column) =
            SF.bandedLshKeysQ(v, bands, rows, dims, maxRows)
          val fq = fresh.withColumn("__qv", SF.quantize(col(vecCol)))
          val nk = fq.select(col("part"), col("off"), col("__qv"),
            SF.intDot(col("__qv"), col("__qv")).as("__n2"),
            explode(keysOf(col("__qv"))).as("k"))
          val ck = corpus.select(col("cv"), explode(keysOf(col("cv"))).as("k"))
          val d = call_function("dot_i64", col("__qv"), col("cv"))
          val dupNew = ck.join(broadcast(nk), Seq("k"))
            .select(col("part"), col("off"), col("__qv"), col("__n2"),
              col("cv")).distinct()
            // d > 0 guards the zero-quantized degenerate: norm 0
            // makes the RHS 0, and 0 >= 0 would spuriously reject a
            // vector whose cosine to everything is UNDEFINED. The
            // batch dedup_embedding_incremental carries the same
            // dot > 0 guard (its division form would instead throw
            // DIVIDE_BY_ZERO under Spark's default ANSI mode), so
            // both gates agree an undefined similarity blocks
            // nothing.
            .filter(d > 0 && d.cast("double") >= lit(threshold) *
              sqrt(col("__n2").cast("double")) *
              sqrt(SF.intDot(col("cv"), col("cv")).cast("double")))
            .select(col("part"), col("off")).distinct()
          StreamIngest.Admission(
            fq.join(broadcast(dupNew), Seq("part", "off"), "left_anti").drop("__qv"))
        }
      })
  }

  /** [[StreamIngest.startLogged]] with the content-dedup admission
    * gate. Within a batch the survivor of a duplicated payload is the
    * lowest (part, off) — deterministic, so a crash-replay reproduces
    * the same files. A batch whose every record is a duplicate
    * publishes nothing (dropping IS the commit for those records; the
    * stream checkpoint still advances past them). */
  def startLoggedDeduped(stream: DataFrame, outDir: String, topic: String,
                         flushSize: Int, checkpoint: String,
                         trigger: Option[Trigger] = None,
                         format: String = "parquet",
                         avroCodec: String = "null"): StreamingQuery = {
    requireRereadable(format)
    val spark = stream.sparkSession
    reconcileFingerprints(spark, outDir, topic, format)
    StreamIngest.commitLoop(stream, checkpoint, trigger, outDir, Left(topic),
      StreamIngest.writerFor(outDir, topic, flushSize, format, avroCodec),
      admit = fresh => {
        val withFp = fresh.withColumn("__fp", fingerprint(fresh))
        // deterministic in-batch survivor: lowest (part, off) per fp
        val first = withFp.groupBy(col("__fp"))
          .agg(min(struct(col("part"), col("off"))).as("k"))
          .select(col("__fp"), col("k.part").as("part"),
            col("k.off").as("off"))
        // broadcast: `first` is one row per distinct in-batch fp (the
        // same size class as batchFps below, already broadcast) - and
        // the explicit hint keeps the semi-join from ever re-shuffling
        // the payload, preserving the loop's part-hash for the write
        val survivors = withFp.join(broadcast(first),
          Seq("__fp", "part", "off"), "left_semi")
        // corpus gate: the index never shuffles — the batch's
        // fingerprints broadcast INTO it, the (small) known-set
        // broadcasts back
        val batchFps = survivors.select(col("__fp").as("fp")).distinct()
        val known = fingerprintIndex(spark, outDir, topic)
          .join(broadcast(batchFps), Seq("fp"), "left_semi").distinct()
        // the write and the fingerprint install both read the novel
        // records: pin them
        val novel = survivors
          .join(broadcast(known), survivors("__fp") === known("fp"),
            "left_anti")
          .persist()
        StreamIngest.Admission(novel.drop("__fp"),
          install = v => writeFpFile(spark, outDir, topic, v,
            novel.select(col("__fp").as("fp")).distinct()),
          pinned = Seq(novel))
      })
  }

  /** Blocklist admission gate: drop any record whose content
    * fingerprint appears in a caller-supplied blocklist (retracted or
    * policy-removed documents, known-contaminated benchmark text,
    * revoked-license content) and commit only the rest — the streaming
    * twin of `decontaminate_bloom`'s two-phase shape.
    *
    * A production blocklist can be far beyond broadcast size, so the
    * per-batch gate never joins the full list: a `BloomFilter` over
    * the blocklist fingerprints — built ONCE at stream start by the
    * distributed sketch aggregate (KB–MB blob regardless of item
    * count) — probes every record scan-side through the native
    * codegen'd `bloom_might_contain_long`, and only the flagged
    * subset (true hits + the fpp sliver) is verified against the
    * exact list. Bloom has no false negatives, so nothing blocked can
    * slip through; the exact verify kills false positives, so nothing
    * clean is over-dropped. The verify collects the flagged
    * fingerprints (bounded by the batch), scans the list for exactly
    * those, and drops the hits with a literal filter; the blocklist
    * never shuffles.
    *
    * The blocklist frame (column `fp`: the 16-byte [[fingerprint]]
    * md5) is snapshotted into the sketch at START — a list updated
    * mid-stream needs a restart to take effect (documented contract;
    * the alternative, re-sketching per batch, prices a full blocklist
    * scan into every micro-batch). A batch whose every record is
    * blocked publishes nothing and still advances the checkpoint.
    * Replays are idempotent via the offset resume filter. */
  def startLoggedBlocklisted(stream: DataFrame, outDir: String,
                             topic: String, blocklist: DataFrame,
                             flushSize: Int, checkpoint: String,
                             fpp: Double = 0.01,
                             trigger: Option[Trigger] = None,
                             format: String = "parquet",
                             avroCodec: String = "null"): StreamingQuery = {
    val spark = stream.sparkSession
    NativeExpressions.register(spark)
    require(blocklist.columns.contains("fp"),
      s"blocklist needs an `fp` column, got: ${blocklist.columns.mkString(", ")}")
    // type, not just presence: a hex-STRING fingerprint list (Spark's
    // bare md5()) would hash differently from the binary [[fingerprint]]
    // and the gate would silently block nothing
    require(blocklist.schema("fp").dataType ==
        org.apache.spark.sql.types.BinaryType,
      s"blocklist.fp must be the 16-byte BINARY fingerprint " +
        s"(DedupIngest.fingerprint), got: ${blocklist.schema("fp").dataType.sql}")
    val bl = blocklist.select(col("fp"))
    // one count to size the sketch + the distributed build — two
    // list-side jobs at stream START, zero per batch. An empty list
    // short-circuits to a constant-false probe (the sketch aggregate
    // returns null on empty input).
    val nBl = bl.count()
    val probeOf: Column => Column =
      if (nBl == 0) _ => lit(false)
      else {
        val bf = bl.select(xxhash64(col("fp")).as("h"))
          .stat.bloomFilter("h", nBl, fpp)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        val blBytes = bos.toByteArray
        fp => call_function("bloom_might_contain_long",
          lit(blBytes), xxhash64(fp))
      }
    StreamIngest.commitLoop(stream, checkpoint, trigger, outDir, Left(topic),
      StreamIngest.writerFor(outDir, topic, flushSize, format, avroCodec),
      admit = fresh => {
        // the flagged probe below and the write both read the batch:
        // pin it
        val withFp = fresh.withColumn("__fp", fingerprint(fresh)).persist()
        def distinctFps(df: DataFrame): Seq[Array[Byte]] =
          df.collect().map(_.getAs[Array[Byte]](0).toSeq).distinct
            .map(_.toArray).toSeq
        // exact verify on the flagged sliver only (true hits plus the
        // fpp sliver, bounded by the batch): the list is scanned for
        // exactly those fingerprints and never shuffles, and the scan is
        // skipped when the bloom flagged nothing — the common case per
        // batch
        val flagged = distinctFps(
          withFp.filter(probeOf(col("__fp"))).select(col("__fp")))
        val blocked =
          if (flagged.isEmpty) Nil
          else distinctFps(bl.filter(col("fp").isin(flagged: _*)))
        // the verdict is a literal filter: partitioning preserved (r18),
        // and the write re-reads only the pinned batch
        StreamIngest.Admission(
          (if (blocked.isEmpty) withFp
           else withFp.filter(!col("__fp").isin(blocked: _*))).drop("__fp"),
          pinned = Seq(withFp))
      })
  }
}
