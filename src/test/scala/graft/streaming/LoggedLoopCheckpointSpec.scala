package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite
import graft.ingest.{BatchWriter, CommitLog}
import graft.operators.{IvfIndex, KMeans, LinearClassifier}

/** Every logged commit loop checkpoints its log every 64 versions, the
  * gated and index loops included: once a stream publishes version 64,
  * `64.ckpt` exists and offset recovery and reads no longer replay the
  * versions below it. Each test pre-publishes a history of one-file
  * versions, streams past version 64, then corrupts version 0. */
class LoggedLoopCheckpointSpec extends SparkSuite {

  import spark.implicits._

  /** Publish each committed file of `files` as its own log version. */
  private def publishEach(root: String, topic: String,
                          files: Seq[BatchWriter.CommittedFile]): Unit =
    files.map(c => StreamIngest.relPath(root, topic, c.path)).sorted
      .foreach(rel => CommitLog.publish(spark, root, topic, Seq(rel)))

  /** `64.ckpt` exists, and a corrupted version 0 changes neither offset
    * recovery nor the read. */
  private def assertCheckpointed(root: String, topic: String,
                                 offsets: Map[Long, Long], rows: Long): Unit = {
    val f = CommitLog.fs(spark, root)
    assert(CommitLog.latestVersion(spark, root, topic) === 64L)
    assert(f.exists(new Path(s"$root/$topic/_commitlog/64.ckpt")))
    val v0 = f.create(new Path(s"$root/$topic/_commitlog/0"), true)
    try v0.write("not a log line\n".getBytes("UTF-8")) finally v0.close()
    assert(CommitLog.maxOffsets(spark, root, topic) === offsets)
    assert(CommitLog.read(spark, root, topic).count() === rows)
  }

  test("the quality gate checkpoints its log every 64 versions") {
    implicit val sqlCtx = spark.sqlContext
    val buckets = 256
    val docs = Seq(1L -> "good fine nice", 2L -> "bad awful").toDF("doc_id", "text")
    val weights = LinearClassifier.collectWeights(LinearClassifier.fit(
      LinearClassifier.hashedFeatures(docs, buckets),
      Seq((1L, 1L), (2L, -1L)).toDF("id", "y"), iters = 2))
    val out = Files.createTempDirectory("graft-ckpt-qg").toString
    // a 63-version history: offsets 0..62, one file per version
    publishEach(out, "t", BatchWriter.write(
      (0L until 63L).map(o => (0L, o, "good nice")).toDF("part", "off", "text"),
      out, "t", flushSize = 1))
    val s = MemoryStream[(Long, Long, String)]
    val q = QualityGate.startLoggedQualityFiltered(
      s.toDF().toDF("part", "off", "text"), out, "t", weights, buckets,
      flushSize = 10, Files.createTempDirectory("graft-ckpt-qg-ckpt").toString)
    try for (o <- 63L to 64L) {
      // one rejected record rides along: only admitted rows publish
      s.addData((0L, o, "fine good"), (1L, o, "bad awful"))
      q.processAllAvailable()
    } finally q.stop()
    assertCheckpointed(out, "t", Map(0L -> 64L), 65L)
  }

  test("the IVF ingest loop checkpoints its log every 64 versions") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Files.createTempDirectory("graft-ckpt-ivf").toString
    val base = Seq(0L -> Seq(0L, 1L), 1L -> Seq(100L, 99L),
      2L -> Seq(1L, 0L), 3L -> Seq(99L, 100L)).toDF("id", "v")
    IvfIndex.build(base, idx, k = 2, iters = 2) // version 0
    // versions 1..62: one more vector each, assigned like the stream
    val more: DataFrame = (4L until 66L)
      .map(i => i -> (if (i % 2 == 0) Seq(i % 5, 1L) else Seq(100L, 100L - i % 5)))
      .toDF("id", "v")
    val assigned = KMeans.assign(more, IvfIndex.centroids(spark, idx))
      .select($"cell".as("part"), $"id".as("off"), $"v", $"cell")
    publishEach(idx, IvfIndex.VectorsTopic,
      BatchWriter.write(assigned, idx, IvfIndex.VectorsTopic, flushSize = 1))
    val s = MemoryStream[(Long, Seq[Long])]
    val q = IndexIngest.startIvfIngest(s.toDF().toDF("id", "v"), idx,
      Files.createTempDirectory("graft-ckpt-ivf-ckpt").toString, flushSize = 10)
    try Seq(66L -> Seq(2L, 2L), 67L -> Seq(101L, 101L)).foreach { r =>
      s.addData(r)
      q.processAllAvailable()
    } finally q.stop()
    val cells = IvfIndex.vectors(spark, idx).groupBy($"cell")
      .agg(org.apache.spark.sql.functions.max($"id")).as[(Long, Long)]
      .collect().toMap
    assert(cells.values.max === 67L)
    assertCheckpointed(idx, IvfIndex.VectorsTopic, cells, 68L)
  }
}
