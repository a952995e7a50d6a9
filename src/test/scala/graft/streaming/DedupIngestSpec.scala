package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ingest.CommitLog

/** The content-dedup admission gate: duplicate payloads are dropped at
  * ingestion (within a batch, across batches, and across restarts),
  * and the fingerprint index stays consistent with the commit log
  * through the crash window between data publish and index install. */
class DedupIngestSpec extends SparkSuite {

  private def readAll(root: String) =
    spark.read.parquet(s"$root/t").select("off", "payload")
      .as[(Long, String)](org.apache.spark.sql.Encoders.product[(Long, String)])
      .collect().toSet

  test("duplicate payloads are dropped within and across batches, lowest offset wins") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-dedup-stream").toString
    val ckpt = Files.createTempDirectory("graft-dedup-ckpt").toString
    val s = MemoryStream[(Long, Long, String)]
    val q = DedupIngest.startLoggedDeduped(
      s.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10, ckpt)
    // batch 1: "a" duplicated in-batch — offset 0 must be the survivor
    s.addData((0L, 0L, "a"), (0L, 1L, "b"), (0L, 2L, "a"))
    q.processAllAvailable()
    // batch 2: "b" duplicated across batches, "c" novel
    s.addData((0L, 3L, "b"), (0L, 4L, "c"))
    q.processAllAvailable()
    q.stop()
    assert(readAll(out) === Set((0L, "a"), (1L, "b"), (4L, "c")))
    // one fingerprint file per published version, fps match content
    val latest = CommitLog.latestVersion(spark, out, "t")
    assert(latest === 1L)
    val fps = DedupIngest.fingerprintIndex(spark, out, "t").collect()
    assert(fps.length === 3)
  }

  test("erasure then resubmission: conservative until rebuildFingerprints, admitted after") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-dedup-erase").toString
    val ckpt = Files.createTempDirectory("graft-dedup-erase-ck").toString
    val s = MemoryStream[(Long, Long, String)]
    val q = DedupIngest.startLoggedDeduped(
      s.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10, ckpt)
    s.addData((0L, 0L, "keep"), (0L, 1L, "erase-me"), (0L, 2L, "pad"))
    q.processAllAvailable()
    q.stop()
    // the topic erases one row; the admission index deliberately does
    // NOT shrink (extra fps only cause conservative drops)
    CommitLog.deleteWhere(spark, out, "t", col("payload") === "erase-me")
    // physical erasure completes at vacuum (the two-phase contract) —
    // only then does a directory read stop seeing the old bytes
    CommitLog.vacuum(spark, out, "t", graceMs = 0)
    assert(readAll(out) === Set((0L, "keep"), (2L, "pad")))
    // resubmission BEFORE the rebuild: still dropped (documented
    // conservative posture — the gate never false-admits)
    val s2 = MemoryStream[(Long, Long, String)]
    val q2 = DedupIngest.startLoggedDeduped(
      s2.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10,
      Files.createTempDirectory("graft-dedup-erase-ck2").toString)
    s2.addData((0L, 3L, "erase-me"))
    q2.processAllAvailable()
    q2.stop()
    assert(readAll(out) === Set((0L, "keep"), (2L, "pad")),
      "pre-rebuild resubmission must stay deduped")
    // the post-erasure hook: rebuild the plane from the live snapshot
    DedupIngest.rebuildFingerprints(spark, out, "t")
    assert(DedupIngest.fingerprintIndex(spark, out, "t").count() === 2,
      "the erased fingerprint must leave the rebuilt plane")
    // resubmission AFTER the rebuild: admitted as new content
    val s3 = MemoryStream[(Long, Long, String)]
    val q3 = DedupIngest.startLoggedDeduped(
      s3.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10,
      Files.createTempDirectory("graft-dedup-erase-ck3").toString)
    s3.addData((0L, 4L, "erase-me"))
    q3.processAllAvailable()
    q3.stop()
    assert(readAll(out) === Set((0L, "keep"), (2L, "pad"), (4L, "erase-me")))
    // and the gate still holds for everything live
    val s4 = MemoryStream[(Long, Long, String)]
    val q4 = DedupIngest.startLoggedDeduped(
      s4.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10,
      Files.createTempDirectory("graft-dedup-erase-ck4").toString)
    s4.addData((0L, 5L, "keep"), (0L, 6L, "erase-me"))
    q4.processAllAvailable()
    q4.stop()
    assert(readAll(out) === Set((0L, "keep"), (2L, "pad"), (4L, "erase-me")))
  }

  test("the gate holds across a restart with full source replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-dedup-restart").toString
    val ckpt1 = Files.createTempDirectory("graft-dedup-ckpt1").toString
    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = DedupIngest.startLoggedDeduped(
      s1.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10, ckpt1)
    s1.addData((0L, 0L, "a"), (0L, 1L, "b"))
    q1.processAllAvailable()
    q1.stop()
    // "crash": fresh checkpoint, source replays old offsets
    // (resume-filtered) plus a duplicate payload at a NEW offset
    // (fingerprint-filtered) plus one novel record
    val ckpt2 = Files.createTempDirectory("graft-dedup-ckpt2").toString
    val s2 = MemoryStream[(Long, Long, String)]
    val q2 = DedupIngest.startLoggedDeduped(
      s2.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10, ckpt2)
    s2.addData((0L, 0L, "a"), (0L, 1L, "b"), (0L, 2L, "a"), (0L, 3L, "z"))
    q2.processAllAvailable()
    q2.stop()
    assert(readAll(out) === Set((0L, "a"), (1L, "b"), (3L, "z")))
  }

  test("blocklist gate: listed payloads never land, bloom false positives are rescued") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-bl-stream").toString
    val ckpt = Files.createTempDirectory("graft-bl-ckpt").toString
    val badDf = Seq("bad0", "bad1").toDF("payload")
    val blocklist = badDf.select(DedupIngest.fingerprint(badDf).as("fp"))
    val s = MemoryStream[(Long, Long, String)]
    // fpp = 0.5: at this rate clean payloads WILL flag in the sketch —
    // the exact verify must rescue every one of them (the invariant is
    // deterministic: nothing clean may be over-dropped at ANY fpp)
    val q = DedupIngest.startLoggedBlocklisted(
      s.toDF().toDF("part", "off", "payload"), out, "t", blocklist,
      flushSize = 10, ckpt, fpp = 0.5)
    s.addData((0L, 0L, "bad0"), (0L, 1L, "ok0"), (0L, 2L, "bad1"), (0L, 3L, "ok1"))
    q.processAllAvailable()
    // across batches too, and a blocked payload at a new offset
    s.addData((0L, 4L, "ok2"), (0L, 5L, "bad0"))
    q.processAllAvailable()
    q.stop()
    assert(readAll(out) === Set((1L, "ok0"), (3L, "ok1"), (4L, "ok2")))
  }

  test("blocklist gate: all-blocked batch publishes nothing; restart resumes and keeps blocking") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-bl-replay").toString
    val badDf = Seq("bad").toDF("payload")
    val blocklist = badDf.select(DedupIngest.fingerprint(badDf).as("fp"))
    def start(ckpt: String, src: MemoryStream[(Long, Long, String)]) =
      DedupIngest.startLoggedBlocklisted(
        src.toDF().toDF("part", "off", "payload"), out, "t", blocklist,
        flushSize = 10, ckpt)
    val ckpt1 = Files.createTempDirectory("graft-bl-ckpt1").toString
    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = start(ckpt1, s1)
    s1.addData((0L, 0L, "bad"), (0L, 1L, "bad"))
    q1.processAllAvailable() // nothing publishable
    s1.addData((0L, 2L, "keep"))
    q1.processAllAvailable()
    q1.stop()
    assert(readAll(out) === Set((2L, "keep")))
    // "crash": fresh checkpoint, full replay plus new data — committed
    // offsets resume-filter out, the blocked payload stays blocked
    val ckpt2 = Files.createTempDirectory("graft-bl-ckpt2").toString
    val s2 = MemoryStream[(Long, Long, String)]
    val q2 = start(ckpt2, s2)
    s2.addData((0L, 0L, "bad"), (0L, 2L, "keep"), (0L, 3L, "bad"), (0L, 4L, "new"))
    q2.processAllAvailable()
    q2.stop()
    assert(readAll(out) === Set((2L, "keep"), (4L, "new")))
  }

  test("blocklist gate: an empty blocklist admits everything") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-bl-empty").toString
    val ckpt = Files.createTempDirectory("graft-bl-empty-ckpt").toString
    val blocklist = Seq.empty[Array[Byte]].toDF("fp")
    val s = MemoryStream[(Long, Long, String)]
    val q = DedupIngest.startLoggedBlocklisted(
      s.toDF().toDF("part", "off", "payload"), out, "t", blocklist,
      flushSize = 10, ckpt)
    s.addData((0L, 0L, "a"), (0L, 1L, "b"))
    q.processAllAvailable()
    q.stop()
    assert(readAll(out) === Set((0L, "a"), (1L, "b")))
  }

  test("blocklist gate: many distinct listed payloads in one batch are all dropped, clean ones kept") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-bl-many").toString
    val ckpt = Files.createTempDirectory("graft-bl-many-ckpt").toString
    // more than ten flagged and ten blocked fingerprints: the verify's
    // literal lists take Spark's set-membership (InSet) form
    val bad = (0 until 15).map(i => s"bad$i")
    val badDf = bad.toDF("payload")
    val blocklist = badDf.select(DedupIngest.fingerprint(badDf).as("fp"))
    val s = MemoryStream[(Long, Long, String)]
    val q = DedupIngest.startLoggedBlocklisted(
      s.toDF().toDF("part", "off", "payload"), out, "t", blocklist,
      flushSize = 100, ckpt, fpp = 0.5)
    val clean = (15 until 40).map(i => (0L, i.toLong, s"ok$i"))
    s.addData(bad.zipWithIndex.map { case (b, i) => (0L, i.toLong, b) } ++ clean: _*)
    q.processAllAvailable()
    q.stop()
    assert(readAll(out) === clean.map(r => (r._2, r._3)).toSet)
  }

  test("reconcileFingerprints rebuilds the missing version from committed data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-dedup-reconcile").toString
    val ckpt1 = Files.createTempDirectory("graft-dedup-rckpt1").toString
    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = DedupIngest.startLoggedDeduped(
      s1.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10, ckpt1)
    s1.addData((0L, 0L, "a"), (0L, 1L, "b"))
    q1.processAllAvailable()
    q1.stop()
    // simulate the crash window: the version published but its
    // fingerprint file was never installed
    val fp0 = new Path(s"$out/t/_fp/v0.parquet")
    val fs = fp0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(fp0, false))
    assert(DedupIngest.fingerprintIndex(spark, out, "t").count() === 0)
    // a restarted gate reconciles before consuming — the duplicate
    // payload at a new offset is rejected again
    val ckpt2 = Files.createTempDirectory("graft-dedup-rckpt2").toString
    val s2 = MemoryStream[(Long, Long, String)]
    val q2 = DedupIngest.startLoggedDeduped(
      s2.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10, ckpt2)
    s2.addData((0L, 2L, "a"), (0L, 3L, "c"))
    q2.processAllAvailable()
    q2.stop()
    assert(readAll(out) === Set((0L, "a"), (1L, "b"), (3L, "c")))
    assert(DedupIngest.fingerprintIndex(spark, out, "t").count() === 3)
  }

  test("reconciliation over a compacted+vacuumed topic falls back to a snapshot rebuild") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-dedup-compacted").toString
    val ckpt1 = Files.createTempDirectory("graft-dedup-cckpt1").toString
    // pre-gate topic: three 1-record appends, compacted into one swap
    // rewrite, originals vacuumed — the per-version rebuild's source
    // files no longer exist
    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = StreamIngest.startLogged(
      s1.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 1, ckpt1)
    s1.addData((0L, 0L, "a"), (0L, 1L, "b"), (0L, 2L, "c"))
    q1.processAllAvailable()
    q1.stop()
    CommitLog.compactLogged(spark, out, "t", targetRecords = 100L)
    CommitLog.vacuum(spark, out, "t", graceMs = 0L)
    // the gate starts anyway: one full-snapshot rebuild, then dups
    // rejected and novel records admitted
    val ckpt2 = Files.createTempDirectory("graft-dedup-cckpt2").toString
    val s2 = MemoryStream[(Long, Long, String)]
    val q2 = DedupIngest.startLoggedDeduped(
      s2.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10, ckpt2)
    s2.addData((0L, 3L, "b"), (0L, 4L, "d"))
    q2.processAllAvailable()
    q2.stop()
    assert(readAll(out) === Set((0L, "a"), (1L, "b"), (2L, "c"), (4L, "d")))
  }

  test("compactFingerprints merges the index into one watermark file; the gate still holds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-dedup-fpcompact").toString
    val ckpt1 = Files.createTempDirectory("graft-dedup-fckpt1").toString
    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = DedupIngest.startLoggedDeduped(
      s1.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10, ckpt1)
    s1.addData((0L, 0L, "a"))
    q1.processAllAvailable()
    s1.addData((0L, 1L, "b"))
    q1.processAllAvailable()
    s1.addData((0L, 2L, "c"))
    q1.processAllAvailable()
    q1.stop()
    val dir = new Path(s"$out/t/_fp")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(dir).count(_.getPath.getName.endsWith(".parquet")) === 3)
    DedupIngest.compactFingerprints(spark, out, "t")
    val names = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
    assert(names.toSeq === Seq("v2.parquet"))
    assert(DedupIngest.fingerprintIndex(spark, out, "t").count() === 3)
    // nothing to reconcile (watermark == latest), and dups still gated
    assert(DedupIngest.reconcileFingerprints(spark, out, "t") === Seq.empty)
    val ckpt2 = Files.createTempDirectory("graft-dedup-fckpt2").toString
    val s2 = MemoryStream[(Long, Long, String)]
    val q2 = DedupIngest.startLoggedDeduped(
      s2.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10, ckpt2)
    s2.addData((0L, 3L, "b"), (0L, 4L, "e"))
    q2.processAllAvailable()
    q2.stop()
    assert(readAll(out) === Set((0L, "a"), (1L, "b"), (2L, "c"), (4L, "e")))
  }

  test("a hex-era (string) index is wiped and rebuilt, not silently mismatched") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-dedup-hexidx").toString
    val ckpt1 = Files.createTempDirectory("graft-dedup-hckpt1").toString
    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = DedupIngest.startLoggedDeduped(
      s1.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10, ckpt1)
    s1.addData((0L, 0L, "a"), (0L, 1L, "b"))
    q1.processAllAvailable()
    q1.stop()
    // forge an index written by the old hex-string fingerprint scheme
    val dir = new Path(s"$out/t/_fp")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dir, "v0.parquet"), false)
    val stage = Files.createTempDirectory("graft-dedup-hexstage").toString
    Seq("0cc175b9c0f1b6a831c399e269772661").toDF("fp")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = fs.listStatus(new Path(stage)).map(_.getPath)
      .find(_.getName.startsWith("part-")).get
    fs.rename(part, new Path(dir, "v0.parquet"))
    // reconcile detects the string schema, wipes, and rebuilds binary —
    // the gate then still rejects duplicate payloads
    assert(DedupIngest.reconcileFingerprints(spark, out, "t") === Seq(0L))
    val ckpt2 = Files.createTempDirectory("graft-dedup-hckpt2").toString
    val s2 = MemoryStream[(Long, Long, String)]
    val q2 = DedupIngest.startLoggedDeduped(
      s2.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10, ckpt2)
    s2.addData((0L, 2L, "a"), (0L, 3L, "z"))
    q2.processAllAvailable()
    q2.stop()
    assert(readAll(out) === Set((0L, "a"), (1L, "b"), (3L, "z")))
  }

  test("the gate runs end-to-end on orc, including the crash-window rebuild") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-dedup-orc").toString
    val ckpt1 = Files.createTempDirectory("graft-dedup-ockpt1").toString
    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = DedupIngest.startLoggedDeduped(
      s1.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10,
      ckpt1, format = "orc")
    s1.addData((0L, 0L, "a"), (0L, 1L, "b"))
    q1.processAllAvailable()
    q1.stop()
    // crash window: drop the index, let the restart rebuild from orc
    val fs = new Path(s"$out/t/_fp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(s"$out/t/_fp/v0.parquet"), false))
    val ckpt2 = Files.createTempDirectory("graft-dedup-ockpt2").toString
    val s2 = MemoryStream[(Long, Long, String)]
    val q2 = DedupIngest.startLoggedDeduped(
      s2.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10,
      ckpt2, format = "orc")
    s2.addData((0L, 2L, "a"), (0L, 3L, "c"))
    q2.processAllAvailable()
    q2.stop()
    val back = spark.read.orc(s"$out/t").select("off", "payload")
      .as[(Long, String)](org.apache.spark.sql.Encoders.product[(Long, String)])
      .collect().toSet
    assert(back === Set((0L, "a"), (1L, "b"), (3L, "c")))
  }

  test("embedding near-dup gate rejects committed-cosine matches across batches and restarts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-dedup-emb").toString
    val ckpt1 = Files.createTempDirectory("graft-dedup-embck1").toString
    val s1 = MemoryStream[(Long, Long, Seq[Double])]
    val q1 = DedupIngest.startLoggedEmbDeduped(
      s1.toDF().toDF("part", "off", "vec"), out, "t", flushSize = 10,
      ckpt1, vecCol = "vec", dims = 4)
    // batch 1: empty corpus — both admitted
    s1.addData((0L, 0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (0L, 1L, Seq(0.0, 1.0, 0.0, 0.0)))
    q1.processAllAvailable()
    // batch 2: a scaled copy of a committed vector (cosine 1.0) is
    // rejected; an orthogonal one is admitted
    s1.addData((0L, 2L, Seq(2.0, 0.0, 0.0, 0.0)),
      (0L, 3L, Seq(0.0, 0.0, 3.0, 0.0)))
    q1.processAllAvailable()
    q1.stop()
    // restart with full replay plus one near-dup and one novel vector
    val ckpt2 = Files.createTempDirectory("graft-dedup-embck2").toString
    val s2 = MemoryStream[(Long, Long, Seq[Double])]
    val q2 = DedupIngest.startLoggedEmbDeduped(
      s2.toDF().toDF("part", "off", "vec"), out, "t", flushSize = 10,
      ckpt2, vecCol = "vec", dims = 4)
    s2.addData((0L, 0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (0L, 1L, Seq(0.0, 1.0, 0.0, 0.0)),
      (0L, 4L, Seq(0.0, 2.0, 0.0, 0.0)),
      (0L, 5L, Seq(0.0, 0.0, 0.0, 5.0)),
      // zero-quantized degenerate (all components < 1/scale): norm 0 —
      // must be ADMITTED, not spuriously matched via the 0 >= 0 edge
      (0L, 6L, Seq(0.0001, 0.0, 0.0, 0.0)))
    q2.processAllAvailable()
    q2.stop()
    val back = spark.read.parquet(s"$out/t").select("off")
      .as[Long].collect().toSet
    assert(back === Set(0L, 1L, 3L, 5L, 6L))
  }

  test("timestamp payloads distinct only in microseconds are NOT collided") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-dedup-ts").toString
    val ckpt = Files.createTempDirectory("graft-dedup-tsck").toString
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00.123456")
    val t2 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00.123999")
    val s = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = DedupIngest.startLoggedDeduped(
      s.toDF().toDF("part", "off", "ts"), out, "t", flushSize = 10, ckpt)
    // to_json alone renders both as .123 — the micros canonicalization
    // is what keeps these two distinct records distinct
    s.addData((0L, 0L, t1), (0L, 1L, t2), (0L, 2L, t1))
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$out/t").count() === 2)
  }

  test("snapshot rebuild across a schema evolution reproduces gate-time fingerprints") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-dedup-evorec").toString
    // era 1: narrow schema, one version
    val ckpt1 = Files.createTempDirectory("graft-dedup-eck1").toString
    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = DedupIngest.startLoggedDeduped(
      s1.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 10, ckpt1)
    s1.addData((0L, 0L, "a"))
    q1.processAllAvailable()
    q1.stop()
    // era 2: widened schema, four more versions (pushes the missing
    // count past the per-version threshold so reconcile takes the
    // SNAPSHOT branch over the mixed-schema file set)
    val ckpt2 = Files.createTempDirectory("graft-dedup-eck2").toString
    val s2 = MemoryStream[(Long, Long, String, Option[String])]
    val q2 = DedupIngest.startLoggedDeduped(
      s2.toDF().toDF("part", "off", "payload", "extra"), out, "t",
      flushSize = 10, ckpt2)
    (1 to 4).foreach { i =>
      s2.addData((0L, i.toLong, s"w$i", Some(s"x$i")))
      q2.processAllAvailable()
    }
    q2.stop()
    // wipe the whole index: reconcile must rebuild from the mixed
    // narrow+wide files without reading the narrow rows under a
    // single dropped-column schema
    val dir = new Path(s"$out/t/_fp")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(s => fs.delete(s.getPath, false))
    val ckpt3 = Files.createTempDirectory("graft-dedup-eck3").toString
    val s3 = MemoryStream[(Long, Long, String, Option[String])]
    val q3 = DedupIngest.startLoggedDeduped(
      s3.toDF().toDF("part", "off", "payload", "extra"), out, "t",
      flushSize = 10, ckpt3)
    // (payload="a", extra=null) serializes identically to era 1's
    // narrow "a" (null fields omitted) — must be REJECTED as a dup;
    // the genuinely new record is admitted
    s3.addData((0L, 9L, "a", None), (0L, 10L, "new", Some("x")))
    q3.processAllAvailable()
    q3.stop()
    val back = spark.read.option("mergeSchema", "true").parquet(s"$out/t")
      .select("off").as[Long].collect().toSet
    assert(back === Set(0L, 1L, 2L, 3L, 4L, 10L))
  }

  test("non-re-readable formats are rejected up front") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val e = intercept[IllegalArgumentException] {
      val s = MemoryStream[(Long, Long, String)]
      DedupIngest.startLoggedDeduped(
        s.toDF().toDF("part", "off", "payload"),
        Files.createTempDirectory("graft-dedup-csv").toString, "t",
        flushSize = 10,
        Files.createTempDirectory("graft-dedup-csvck").toString,
        format = "csv")
    }
    assert(e.getMessage.contains("round-tripping format"))
  }

  test("a topic written without the gate can be upgraded by reconciliation (avro too)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-dedup-upgrade").toString
    val ckpt1 = Files.createTempDirectory("graft-dedup-uckpt1").toString
    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = StreamIngest.startLogged(
      s1.toDF().toDF("part", "off", "payload"), out, "t",
      flushSize = 10, ckpt1, format = "avro", avroCodec = "deflate")
    s1.addData((0L, 0L, "a"), (0L, 1L, "b"))
    q1.processAllAvailable()
    q1.stop()
    assert(DedupIngest.reconcileFingerprints(spark, out, "t", "avro") === Seq(0L))
    // second reconcile is a no-op; the index now gates a deduped stream
    assert(DedupIngest.reconcileFingerprints(spark, out, "t", "avro") === Seq.empty)
    val ckpt2 = Files.createTempDirectory("graft-dedup-uckpt2").toString
    val s2 = MemoryStream[(Long, Long, String)]
    val q2 = DedupIngest.startLoggedDeduped(
      s2.toDF().toDF("part", "off", "payload"), out, "t",
      flushSize = 10, ckpt2, format = "avro", avroCodec = "deflate")
    s2.addData((0L, 2L, "b"), (0L, 3L, "c"))
    q2.processAllAvailable()
    q2.stop()
    val idx = DedupIngest.fingerprintIndex(spark, out, "t").count()
    assert(idx === 3)
  }
}
