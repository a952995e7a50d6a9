package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite
import graft.ingest.CommitLog

/** The `_kmv` sketch plane: distinct-content estimates stay exact
  * below k, duplicates never inflate them (KMV merge idempotence),
  * the sketch survives restarts and full source replays, and the
  * crash window between data publish and sketch install heals through
  * the shared watermark reconcile. */
class CardinalityMonitorSpec extends SparkSuite {

  private def startOn(out: String, ckpt: String)(
      implicit sqlCtx: org.apache.spark.sql.SQLContext) = {
    import spark.implicits._
    val s = MemoryStream[(Long, Long, String)]
    val q = CardinalityMonitor.startLoggedMonitored(
      s.toDF().toDF("part", "off", "payload"), out, "t",
      flushSize = 100, ckpt)
    (s, q)
  }

  test("below k the estimate is the exact distinct count; duplicates don't inflate it") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-kmv-exact").toString
    val ckpt = Files.createTempDirectory("graft-kmv-ckpt").toString
    val (s, q) = startOn(out, ckpt)
    // 3 distinct payloads, one duplicated in-batch
    s.addData((0L, 0L, "a"), (0L, 1L, "b"), (0L, 2L, "a"), (0L, 3L, "c"))
    q.processAllAvailable()
    assert(CardinalityMonitor.estimate(spark, out, "t") === 3L)
    // a second batch that is PURE duplicates must not move the estimate
    s.addData((0L, 4L, "a"), (0L, 5L, "b"), (0L, 6L, "c"))
    q.processAllAvailable()
    assert(CardinalityMonitor.estimate(spark, out, "t") === 3L)
    // novel content does
    s.addData((0L, 7L, "d"))
    q.processAllAvailable()
    q.stop()
    assert(CardinalityMonitor.estimate(spark, out, "t") === 4L)
    // one ≤k contribution file per published version
    val latest = CommitLog.latestVersion(spark, out, "t")
    assert(latest === 2L)
  }

  test("at k and beyond the KMV estimator lands within the ±20% (≈3σ) contract") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-kmv-est").toString
    val ckpt = Files.createTempDirectory("graft-kmv-ckpt2").toString
    val (s, q) = startOn(out, ckpt)
    val n = 2000 // >> k = 256
    s.addData((0 until n).map(i => (0L, i.toLong, s"doc-$i")): _*)
    q.processAllAvailable()
    q.stop()
    val est = CardinalityMonitor.estimate(spark, out, "t")
    assert(math.abs(est - n) * 5 <= n, s"est $est vs true $n")
    assert(CardinalityMonitor.sketch(spark, out, "t").size === CardinalityMonitor.K)
  }

  test("the sketch survives a restart with full source replay") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-kmv-restart").toString
    val ckpt1 = Files.createTempDirectory("graft-kmv-ckpt3").toString
    val (s1, q1) = startOn(out, ckpt1)
    s1.addData((0L, 0L, "a"), (0L, 1L, "b"))
    q1.processAllAvailable()
    q1.stop()
    // "crash": fresh checkpoint, source replays everything plus new
    val ckpt2 = Files.createTempDirectory("graft-kmv-ckpt4").toString
    val (s2, q2) = startOn(out, ckpt2)
    s2.addData((0L, 0L, "a"), (0L, 1L, "b"), (0L, 2L, "c"))
    q2.processAllAvailable()
    q2.stop()
    assert(CardinalityMonitor.estimate(spark, out, "t") === 3L)
  }

  test("a missing sketch contribution heals from the committed files at restart") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-kmv-heal").toString
    val ckpt = Files.createTempDirectory("graft-kmv-ckpt5").toString
    val (s, q) = startOn(out, ckpt)
    s.addData((0L, 0L, "a"), (0L, 1L, "b"))
    q.processAllAvailable()
    s.addData((0L, 2L, "c"))
    q.processAllAvailable()
    q.stop()
    // simulate a crash between publish and install: delete v1's file
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = new Path(s"$out/t/_kmv/v1.parquet")
    assert(fs.exists(v1))
    fs.delete(v1, false)
    assert(CardinalityMonitor.estimate(spark, out, "t") === 2L) // degraded
    val healed = CardinalityMonitor.reconcile(spark, out, "t")
    assert(healed === Seq(1L))
    assert(CardinalityMonitor.estimate(spark, out, "t") === 3L)
  }

  test("compaction folds the plane to one file with the estimate unchanged, and the stream continues over it") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-kmv-compact").toString
    val ckpt = Files.createTempDirectory("graft-kmv-ckpt7").toString
    val (s, q) = startOn(out, ckpt)
    s.addData((0L, 0L, "a"), (0L, 1L, "b"))
    q.processAllAvailable()
    s.addData((0L, 2L, "c"))
    q.processAllAvailable()
    s.addData((0L, 3L, "d"))
    q.processAllAvailable()
    q.stop()
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new Path(s"$out/t/_kmv")).length === 3)
    assert(CardinalityMonitor.compact(spark, out, "t") === 1L)
    assert(fs.listStatus(new Path(s"$out/t/_kmv")).length === 1)
    assert(CardinalityMonitor.estimate(spark, out, "t") === 4L)
    // the merged file sits at the watermark, so a restarted stream
    // reconciles nothing and keeps installing above it
    val ckpt2 = Files.createTempDirectory("graft-kmv-ckpt8").toString
    val (s2, q2) = startOn(out, ckpt2)
    s2.addData((0L, 4L, "e"))
    q2.processAllAvailable()
    q2.stop()
    assert(CardinalityMonitor.estimate(spark, out, "t") === 5L)
  }

  test("auto-compaction bounds the plane across 50+ micro-batches; estimates unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = Files.createTempDirectory("graft-kmv-auto").toString
    val ckpt = Files.createTempDirectory("graft-kmv-ckpt9").toString
    val s = MemoryStream[(Long, Long, String)]
    // tight threshold so the fold actually triggers many times in-run
    val q = CardinalityMonitor.startLoggedMonitored(
      s.toDF().toDF("part", "off", "payload"), out, "t",
      flushSize = 100, ckpt, compactEvery = 8)
    // 55 one-record micro-batches: ~30% duplicate content
    (0 until 55).foreach { i =>
      s.addData((0L, i.toLong, s"doc-${i % 40}"))
      q.processAllAvailable()
    }
    q.stop()
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // without the auto-fold the plane would hold 55 files; bounded to
    // threshold + the versions installed since the last fold
    val planeFiles = fs.listStatus(new Path(s"$out/t/_kmv")).length
    assert(planeFiles <= 9, s"plane must stay bounded, got $planeFiles files")
    // every version published — compaction never ate a commit
    assert(CommitLog.latestVersion(spark, out, "t") === 54L)
    // 40 distinct payloads < k: the merged sketch is still EXACT
    assert(CardinalityMonitor.estimate(spark, out, "t") === 40L)
    // and the folded plane equals a from-scratch rebuild of the sketch
    val rebuilt = CommitLog.read(spark, out, "t")
      .select("payload").distinct().count()
    assert(rebuilt === 40L)
  }

  test("a restart fed only committed offsets stays up, publishes nothing and keeps the estimate") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-kmv-replayonly").toString
    val (s1, q1) = startOn(out, Files.createTempDirectory("graft-kmv-ckpt10").toString)
    s1.addData((0L, 0L, "a"), (0L, 1L, "b"), (0L, 2L, "c"))
    q1.processAllAvailable()
    q1.stop()
    assert(CardinalityMonitor.estimate(spark, out, "t") === 3L)
    // "crash": fresh checkpoint, and the source hands back ONLY
    // already-committed offsets — the whole micro-batch resume-filters
    // to nothing
    val (s2, q2) = startOn(out, Files.createTempDirectory("graft-kmv-ckpt11").toString)
    try {
      s2.addData((0L, 0L, "a"), (0L, 2L, "c"))
      q2.processAllAvailable()
      assert(q2.isActive && q2.exception.isEmpty)
      assert(CommitLog.latestVersion(spark, out, "t") === 0L)
      assert(CardinalityMonitor.estimate(spark, out, "t") === 3L)
      // and the stream still commits what comes next
      s2.addData((0L, 3L, "d"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(CommitLog.latestVersion(spark, out, "t") === 1L)
    assert(CardinalityMonitor.estimate(spark, out, "t") === 4L)
  }

  test("non-round-tripping formats are rejected up front") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val s = MemoryStream[(Long, Long, String)]
    val e = intercept[IllegalArgumentException] {
      CardinalityMonitor.startLoggedMonitored(
        s.toDF().toDF("part", "off", "payload"),
        Files.createTempDirectory("graft-kmv-fmt").toString, "t",
        flushSize = 100,
        Files.createTempDirectory("graft-kmv-ckpt6").toString,
        format = "json")
    }
    assert(e.getMessage.contains("round-tripping"))
  }
}
