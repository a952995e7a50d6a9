package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ingest.CommitLog

/** Streaming distinct-content cardinality: a K-MINIMUM-VALUES sketch
  * of the committed corpus's content fingerprints, maintained as a
  * third index plane (`_kmv`) beside `_fp` / `_mh` — the streaming
  * twin of the batch `kmv_distinct_by_source` query, answering "how
  * many distinct documents has this topic EVER committed" in O(k)
  * from any session, without scanning the corpus.
  *
  * Why KMV and not a running exact count: an exact distinct needs the
  * full fingerprint index (corpus-scale, and `startLogged` doesn't
  * maintain one); HLL partials would work but aren't inspectable or
  * SQL-reproducible. KMV is both, and its merge is the whole story
  * here:
  *
  *   - **idempotent** — re-merging the same batch after a crash
  *     replay changes nothing (min-k of a union absorbs duplicates),
  *   - **associative/commutative** — per-version contribution files
  *     merge in any order at read time,
  *   - **bounded** — every contribution file is ≤ k rows of int64.
  *
  * So the plane stores one ≤k-row file per published commit-log
  * version and [[estimate]] folds them on read; the crash window
  * between data publish and sketch install heals through the shared
  * [[DedupIngest.reconcileIndex]] watermark walk, exactly like the
  * dedup planes. Estimator (and its SQL mirror) match the batch
  * query: est = (k−1)·2⁶⁰ / h_k once k values are held, exact count
  * below that.
  */
object CardinalityMonitor {

  /** Sketch size: ±1/√(k−2) ≈ 6 % standard error. */
  val K = 256

  private def kmvDirPath(outDir: String, topic: String) =
    new Path(s"$outDir/$topic/_kmv")

  private val KmvSchema = StructType(Seq(StructField("h", LongType)))

  /** First 60 bits of the 16-byte content fingerprint as a
    * non-negative int64 in [0, 2⁶⁰) — the same value domain as
    * `TextFunctions.hash60`, so the estimator constant is shared. */
  private def h60OfFp(fp: Column): Column =
    conv(substring(hex(fp), 1, 15), 16, 10).cast(LongType)

  /** The batch's sketch contribution: distinct fingerprint hashes,
    * k smallest. Plans as a TakeOrdered over the batch's distinct —
    * never a global sort. */
  private def minK(batch: DataFrame, k: Int): DataFrame =
    batch.select(h60OfFp(col("__fp")).as("h"))
      .distinct().orderBy(col("h")).limit(k)

  /** [[StreamIngest.startLogged]] plus the sketch plane: each
    * micro-batch publishes its files as one commit-log version and
    * installs that version's ≤k-row KMV contribution. A replayed
    * batch re-derives a subset of already-merged hashes — harmless by
    * idempotence; a crash between publish and install is healed at
    * the next start by the watermark reconcile. */
  def startLoggedMonitored(stream: DataFrame, outDir: String, topic: String,
                           flushSize: Int, checkpoint: String,
                           trigger: Option[Trigger] = None,
                           format: String = "parquet",
                           avroCodec: String = "null",
                           k: Int = K,
                           compactEvery: Int = 64): StreamingQuery = {
    val spark = stream.sparkSession
    // crash-window rebuilds re-fingerprint committed files, so the
    // format must round-trip exactly (the dedup gate's shared contract)
    DedupIngest.requireRereadable(format, "cardinality monitoring")
    reconcile(spark, outDir, topic, format, k)
    StreamIngest.commitLoop(stream, checkpoint, trigger, outDir, Left(topic),
      StreamIngest.writerFor(outDir, topic, flushSize, format, avroCodec),
      admit = fresh => {
        // a projection: partitioning preserved (r18). The write and the
        // sketch install both read it: pin it
        val withFp = fresh.withColumn("__fp", DedupIngest.fingerprint(fresh))
          .persist()
        StreamIngest.Admission(withFp.drop("__fp"),
          install = v => {
            val f = DedupIngest.hfs(spark, outDir)
            DedupIngest.installVersionFile(f, kmvDirPath(outDir, topic), v,
              minK(withFp, k))
            // auto-compaction: without it the plane grows one ≤k-row
            // file per commit forever and estimate() degrades to
            // O(versions·k) file opens on a long stream. Fold once the
            // listing (metadata-scale, one plane dir) crosses the
            // threshold — the min-k of a union IS the union's sketch,
            // so estimates are unchanged by construction, and the
            // crash-ordered install keeps a died-mid-fold plane
            // readable (reconcile heals it like any other gap).
            if (compactEvery > 0 &&
              DedupIngest.fpFiles(f, kmvDirPath(outDir, topic)).size > compactEvery) {
              compact(spark, outDir, topic, k)
              ()
            }
          },
          pinned = Seq(withFp))
      })
  }

  /** Heal the sketch plane against the commit log — versions above
    * the plane's watermark rebuild their contribution from their own
    * committed files (gate-time fingerprints via the shared
    * schema-evolution-aware reader). Returns the rebuilt versions. */
  def reconcile(spark: SparkSession, outDir: String, topic: String,
                format: String = "parquet", k: Int = K): Seq[Long] =
    DedupIngest.reconcileIndex(spark, outDir, topic,
      kmvDirPath(outDir, topic), KmvSchema,
      rels => DedupIngest.fingerprintsOf(spark, outDir, topic, format, rels)
        .select(h60OfFp(col("fp")).as("h"))
        .distinct().orderBy(col("h")).limit(k))

  /** The merged-sketch frame: global k smallest distinct hashes
    * across every version contribution — ≤ k·versions rows in, ≤ k
    * out. Empty frame when nothing is committed. */
  private def sketchFrame(spark: SparkSession, outDir: String,
                          topic: String, k: Int): DataFrame = {
    val files = DedupIngest.fpFiles(DedupIngest.hfs(spark, outDir),
      kmvDirPath(outDir, topic)).map(_._2.toString)
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], KmvSchema)
    else spark.read.schema(KmvSchema).parquet(files: _*)
      .distinct().orderBy(col("h")).limit(k)
  }

  /** Merged sketch as driver values. */
  def sketch(spark: SparkSession, outDir: String, topic: String,
             k: Int = K): Seq[Long] =
    sketchFrame(spark, outDir, topic, k)
      .collect().map(_.getLong(0)).toSeq

  /** Fold the per-version contribution files into ONE ≤k-row file at
    * the plane's watermark so [[estimate]] stays O(k) regardless of
    * stream age — the min-k of a union IS the union's sketch, so the
    * merged file covers every version ≤ watermark exactly as the
    * contract requires. Same crash-ordered install as the dedup
    * planes' compaction. Returns the resulting file count. */
  def compact(spark: SparkSession, outDir: String, topic: String,
              k: Int = K): Long =
    DedupIngest.compactIndex(spark, outDir, kmvDirPath(outDir, topic),
      sketchFrame(spark, outDir, topic, k))

  /** Distinct-committed-content estimate from the sketch alone:
    * exact below k, (k−1)·2⁶⁰/h_k at or above (BigInt — the product
    * overflows int64). */
  def estimate(spark: SparkSession, outDir: String, topic: String,
               k: Int = K): Long = {
    val mins = sketch(spark, outDir, topic, k)
    if (mins.size < k) mins.size.toLong
    else ((BigInt(k - 1) << 60) / BigInt(mins.max)).toLong
  }
}
