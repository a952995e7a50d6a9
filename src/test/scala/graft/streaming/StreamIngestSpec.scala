package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ingest.BatchWriter

/** Streaming crash/replay semantics vs the reference's WAL-recovery
  * tests (`avro/DataWriterAvroTest.java:80-116`: offsets restored from
  * committed state, no duplicate data after restart). */
class StreamIngestSpec extends SparkSuite {

  test("exactly-once commit across restart with full source replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-stream").toString
    val ckpt1 = Files.createTempDirectory("graft-ckpt1").toString

    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = StreamIngest.start(
      s1.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 2, ckpt1)
    s1.addData((0L, 0L, "a"), (0L, 1L, "b"), (0L, 2L, "c"))
    q1.processAllAvailable()
    s1.addData((0L, 3L, "d"))
    q1.processAllAvailable()
    q1.stop()
    assert(BatchWriter.maxCommittedOffsets(spark, out, "t") === Map(0L -> 3L))

    // "crash": new query, FRESH checkpoint, source replays everything
    // (at-least-once) plus new offsets — only the new ones may commit.
    val ckpt2 = Files.createTempDirectory("graft-ckpt2").toString
    val s2 = MemoryStream[(Long, Long, String)]
    val q2 = StreamIngest.start(
      s2.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 2, ckpt2)
    s2.addData((0L, 0L, "a"), (0L, 1L, "b"), (0L, 2L, "c"), (0L, 3L, "d"),
      (0L, 4L, "e"), (1L, 0L, "x"))
    q2.processAllAvailable()
    q2.stop()

    val back = BatchWriter.read(spark, out, "t")
    // every (part, off) exactly once — no dup, no loss
    assert(back.count() === 6)
    assert(back.select(countDistinct(col("part"), col("off"))).as[Long].head() === 6)
    assert(BatchWriter.maxCommittedOffsets(spark, out, "t") === Map(0L -> 4L, 1L -> 0L))
  }

  test("duplicate offsets within one micro-batch commit exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-stream-dup").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-dup").toString
    val s = MemoryStream[(Long, Long, String)]
    val q = StreamIngest.start(
      s.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 2, ckpt)
    s.addData((0L, 0L, "a"), (0L, 0L, "a"), (0L, 1L, "b"), (0L, 1L, "b"))
    q.processAllAvailable()
    q.stop()
    val back = BatchWriter.read(spark, out, "t")
    assert(back.count() === 2)
    assert(BatchWriter.maxCommittedOffsets(spark, out, "t") === Map(0L -> 1L))
  }

  test("startLoggedHive: SQL sees data the same micro-batch it commits; restart re-syncs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-hive-stream").toString
    val ckpt = Files.createTempDirectory("graft-hive-ckpt").toString
    spark.sql("DROP TABLE IF EXISTS live_t")

    val s = MemoryStream[(Long, Long, String)]
    val q = StreamIngest.startLoggedHive(
      s.toDF().toDF("part", "off", "payload"), out, "t",
      flushSize = 10, ckpt, table = "live_t")
    s.addData((0L, 0L, "a"), (1L, 0L, "b"))
    q.processAllAvailable()
    // table created from the first batch and both partitions registered
    assert(spark.table("live_t").count() === 2)
    assert(spark.sql("SELECT off FROM live_t WHERE partition = 1")
      .as[Long].collect() === Array(0L))
    // a NEW kafka partition appears: registered the same micro-batch
    s.addData((2L, 0L, "c"), (0L, 1L, "d"))
    q.processAllAvailable()
    assert(spark.table("live_t").count() === 4)
    q.stop()

    // restart against the SAME topic with a dropped catalog: the
    // bootstrap path (create + MSCK over existing dirs) resyncs, and
    // ingestion continues exactly-once
    spark.sql("DROP TABLE live_t")
    val ckpt2 = Files.createTempDirectory("graft-hive-ckpt2").toString
    val s2 = MemoryStream[(Long, Long, String)]
    val q2 = StreamIngest.startLoggedHive(
      s2.toDF().toDF("part", "off", "payload"), out, "t",
      flushSize = 10, ckpt2, table = "live_t")
    s2.addData((0L, 0L, "a"), (0L, 1L, "d"), (0L, 2L, "e")) // replay + 1 new
    q2.processAllAvailable()
    q2.stop()
    assert(spark.table("live_t").count() === 5)
    assert(spark.sql(
      "SELECT count(DISTINCT partition, off) FROM live_t").as[Long].head() === 5)
    spark.sql("DROP TABLE live_t")
  }

  test("multi-topic demux: one query, per-topic logs, independent offsets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.CommitLog
    val out = Files.createTempDirectory("graft-stream-multi").toString
    val ckpt1 = Files.createTempDirectory("graft-ckpt-multi1").toString

    // one mixed stream: two topics with OVERLAPPING (part, off) pairs —
    // the dedup key must be (topic, part, off), and each topic's
    // offsets advance independently (DataWriter.java:347-353's demux)
    val s1 = MemoryStream[(String, Long, Long, String)]
    val q1 = StreamIngest.startLoggedMulti(
      s1.toDF().toDF("topic", "part", "off", "payload"), out, 2, ckpt1)
    s1.addData(("alpha", 0L, 0L, "a0"), ("alpha", 0L, 1L, "a1"),
      ("beta", 0L, 0L, "b0"), ("beta", 1L, 0L, "b1"),
      ("beta", 0L, 0L, "b0")) // in-batch duplicate on one topic only
    q1.processAllAvailable()
    q1.stop()

    assert(CommitLog.maxOffsets(spark, out, "alpha") === Map(0L -> 1L))
    assert(CommitLog.maxOffsets(spark, out, "beta") === Map(0L -> 0L, 1L -> 0L))
    assert(CommitLog.read(spark, out, "alpha").count() === 2)
    assert(CommitLog.read(spark, out, "beta").count() === 2)

    // crash-restart with full replay plus new data: each topic's resume
    // filter drops ITS committed offsets only — beta advancing must not
    // suppress alpha's genuinely-new records
    val ckpt2 = Files.createTempDirectory("graft-ckpt-multi2").toString
    val s2 = MemoryStream[(String, Long, Long, String)]
    val q2 = StreamIngest.startLoggedMulti(
      s2.toDF().toDF("topic", "part", "off", "payload"), out, 2, ckpt2)
    s2.addData(("alpha", 0L, 0L, "a0"), ("alpha", 0L, 1L, "a1"),
      ("alpha", 0L, 2L, "a2"),
      ("beta", 0L, 0L, "b0"), ("beta", 0L, 1L, "b2"))
    q2.processAllAvailable()
    q2.stop()

    val alpha = CommitLog.read(spark, out, "alpha")
    val beta = CommitLog.read(spark, out, "beta")
    assert(alpha.count() === 3) // a0 a1 a2, no dup from the replay
    assert(beta.count() === 3)  // b0 b1(part 1) b2
    assert(alpha.select(countDistinct(col("part"), col("off"))).as[Long].head() === 3)
    assert(beta.select(countDistinct(col("part"), col("off"))).as[Long].head() === 3)
    assert(CommitLog.maxOffsets(spark, out, "alpha") === Map(0L -> 2L))
    assert(CommitLog.maxOffsets(spark, out, "beta") === Map(0L -> 1L, 1L -> 0L))
    // payloads routed to the right topic directories
    assert(alpha.select(col("payload")).as[String].collect().toSet ===
      Set("a0", "a1", "a2"))
    assert(beta.select(col("payload")).as[String].collect().toSet ===
      Set("b0", "b1", "b2"))
  }

  test("streaming under a custom Joda path.format lands the reference layout for every BatchWriter format") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.GraftConfig
    // golden tree for the reference's own custom-pattern spelling
    // (TimeBasedPartitionerTest.java:38-48): records at 01:10Z and
    // 02:20Z under 1h buckets → two encoded directories. The SAME
    // config drives every BatchWriter format — the r13 demux-plane
    // asymmetry (encoded layouts working only for some formats) must
    // not reappear on the config streaming surface (orc/csv r15).
    for (fmt <- Seq("parquet", "json", "text", "orc", "csv")) {
      val out = Files.createTempDirectory(s"graft-stream-joda-$fmt").toString
      val ckpt = Files.createTempDirectory(s"graft-ckpt-joda-$fmt").toString
      val cfg = GraftConfig(Map("flush.size" -> "10",
        "format.class" -> fmt,
        "partitioner.class" -> "time",
        "partition.duration.ms" -> "3600000",
        "path.format" -> "'year'=YYYY/'month'=MM/'day'=dd/'hour'=H",
        "timestamp.field" -> "ts",
        "timezone" -> "UTC"))
      val s = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
      val q = StreamIngest.startLogged(
        s.toDF().toDF("part", "off", "payload", "ts"), out, "t", cfg, ckpt)
      s.addData(
        (0L, 0L, "a", java.sql.Timestamp.valueOf("2015-04-02 01:10:00")),
        (0L, 1L, "b", java.sql.Timestamp.valueOf("2015-04-02 02:20:00")))
      q.processAllAvailable()
      q.stop()
      val topicRoot = new java.io.File(s"${cfg.topicsRoot(out)}/t")
      def committedDirs(d: java.io.File, prefix: String): Seq[String] = {
        val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
        kids.flatMap {
          case f if f.isDirectory && !f.getName.startsWith("+") &&
              !f.getName.startsWith("_") =>
            committedDirs(f, s"$prefix${f.getName}/")
          case f if f.isFile && f.getName.matches(
              "^" + graft.ingest.FileNaming.CommittedFilenameRegex + "$") =>
            Seq(prefix.stripSuffix("/"))
          case _ => Nil
        }.distinct
      }
      assert(committedDirs(topicRoot, "").toSet ===
        Set("year=2015/month=04/day=02/hour=1",
          "year=2015/month=04/day=02/hour=2"),
        s"format=$fmt")
    }
  }

  test("multi-topic avro demux: per-topic container files, codec, crash-replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.{AvroSink, CommitLog, GraftConfig}
    import org.apache.spark.sql.types._
    val out = Files.createTempDirectory("graft-stream-multiavro").toString
    val ckpt1 = Files.createTempDirectory("graft-ckpt-mavro1").toString
    val cfg = GraftConfig(Map("flush.size" -> "2",
      "format.class" -> "avro", "avro.codec" -> "snappy"))
    val root = cfg.topicsRoot(out)

    val s1 = MemoryStream[(String, Long, Long, String)]
    val q1 = StreamIngest.startLoggedMulti(
      s1.toDF().toDF("topic", "part", "off", "payload"), out, cfg, ckpt1)
    s1.addData(("alpha", 0L, 0L, "a0"), ("alpha", 0L, 1L, "a1"),
      ("beta", 0L, 0L, "b0"))
    q1.processAllAvailable()
    q1.stop()
    assert(CommitLog.maxOffsets(spark, root, "alpha") === Map(0L -> 1L))
    assert(CommitLog.maxOffsets(spark, root, "beta") === Map(0L -> 0L))
    assert(BatchWriter.listCommitted(spark, root, "alpha") ===
      Seq("alpha+0+0000000000+0000000001.avro"))

    // crash-restart with full replay + new data on both topics
    val ckpt2 = Files.createTempDirectory("graft-ckpt-mavro2").toString
    val s2 = MemoryStream[(String, Long, Long, String)]
    val q2 = StreamIngest.startLoggedMulti(
      s2.toDF().toDF("topic", "part", "off", "payload"), out, cfg, ckpt2)
    s2.addData(("alpha", 0L, 0L, "a0"), ("alpha", 0L, 1L, "a1"),
      ("alpha", 0L, 2L, "a2"),
      ("beta", 0L, 0L, "b0"), ("beta", 0L, 1L, "b1"))
    q2.processAllAvailable()
    q2.stop()

    val schema = StructType(Seq(StructField("part", LongType),
      StructField("off", LongType), StructField("payload", StringType)))
    val alpha = AvroSink.readDataFrame(spark, s"$root/alpha", schema)
    val beta = AvroSink.readDataFrame(spark, s"$root/beta", schema)
    assert(alpha.count() === 3) // no dup from the replay
    assert(beta.count() === 2)
    assert(alpha.select(col("payload")).as[String].collect().toSet ===
      Set("a0", "a1", "a2"))
    assert(beta.select(col("payload")).as[String].collect().toSet ===
      Set("b0", "b1"))
  }

  test("scheduled rotation commits a partial file when the trigger fires (A13)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-stream-sched").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-sched").toString
    val s = MemoryStream[(Long, Long, String)]
    // flushSize 5 but only 2 records arrive: the schedule fire (the
    // processing-time trigger) must still flush and commit the partial
    // file — DataWriterAvroTest.java:356-403's contract.
    val q = StreamIngest.start(
      s.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 5, ckpt,
      Some(Trigger.ProcessingTime(200L)))
    s.addData((0L, 0L, "a"), (0L, 1L, "b"))
    q.processAllAvailable()
    q.stop()
    assert(BatchWriter.listCommitted(spark, out, "t") ===
      Seq("t+0+0000000000+0000000001.parquet"))
    assert(BatchWriter.read(spark, out, "t").count() === 2)
  }

  test("the streaming committer honors the format surface (json)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-stream-json").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-json").toString
    val s = MemoryStream[(Long, Long, String)]
    val q = StreamIngest.start(
      s.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 2, ckpt,
      format = "json")
    s.addData((0L, 0L, "a"), (0L, 1L, "b"))
    q.processAllAvailable()
    q.stop()
    assert(BatchWriter.listCommitted(spark, out, "t") ===
      Seq("t+0+0000000000+0000000001.json"))
    assert(BatchWriter.read(spark, out, "t", format = "json").count() === 2)
  }

  test("avro streams through the logged commit loop with a codec, and replays exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.{AvroSink, CommitLog, GraftConfig}
    import org.apache.spark.sql.types._
    val out = Files.createTempDirectory("graft-stream-avro").toString
    val ckpt1 = Files.createTempDirectory("graft-ckpt-avro1").toString
    val cfg = GraftConfig(Map("flush.size" -> "2",
      "format.class" -> "avro", "avro.codec" -> "deflate"))
    val root = cfg.topicsRoot(out)

    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = StreamIngest.startLogged(
      s1.toDF().toDF("part", "off", "payload"), out, "t", cfg, ckpt1)
    s1.addData((0L, 0L, "a"), (0L, 1L, "b"), (0L, 2L, "c"))
    q1.processAllAvailable()
    // shutdown.timeout.ms consumer: termination inside the budget
    assert(StreamIngest.stop(q1, cfg))
    assert(CommitLog.maxOffsets(spark, root, "t") === Map(0L -> 2L))
    assert(BatchWriter.listCommitted(spark, root, "t") === Seq(
      "t+0+0000000000+0000000001.avro", "t+0+0000000002+0000000002.avro"))
    // the configured codec reached the container header
    val one = s"$root/t/partition=0/t+0+0000000000+0000000001.avro"
    val rdr = new org.apache.avro.file.DataFileReader(
      new java.io.File(one),
      new org.apache.avro.generic.GenericDatumReader[Any]())
    try assert(rdr.getMetaString("avro.codec") === "deflate")
    finally rdr.close()

    // "crash": fresh checkpoint, full at-least-once replay + new data —
    // only the new offsets may commit (DataWriterAvroTest.java:80-116)
    val ckpt2 = Files.createTempDirectory("graft-ckpt-avro2").toString
    val s2 = MemoryStream[(Long, Long, String)]
    val q2 = StreamIngest.startLogged(
      s2.toDF().toDF("part", "off", "payload"), out, "t", cfg, ckpt2)
    s2.addData((0L, 0L, "a"), (0L, 1L, "b"), (0L, 2L, "c"), (0L, 3L, "d"),
      (1L, 0L, "x"))
    q2.processAllAvailable()
    q2.stop()

    val schema = StructType(Seq(StructField("part", LongType),
      StructField("off", LongType), StructField("payload", StringType)))
    val back = AvroSink.readDataFrame(spark, s"$root/t", schema)
    assert(back.count() === 5)
    assert(back.select(countDistinct(col("part"), col("off"))).as[Long].head() === 5)
    assert(CommitLog.maxOffsets(spark, root, "t") === Map(0L -> 3L, 1L -> 0L))
  }

  test("the config overload consumes partitioner, pad and topics.dir in the streaming plane") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.{CommitLog, GraftConfig}
    val out = Files.createTempDirectory("graft-stream-cfg").toString
    val ckpt1 = Files.createTempDirectory("graft-ckpt-cfg1").toString
    val cfg = GraftConfig(Map("flush.size" -> "10",
      "partitioner.class" -> "daily",
      "filename.offset.zero.pad.width" -> "4",
      "topics.dir" -> "tp"))
    val root = cfg.topicsRoot(out)
    def t(s: String) = java.sql.Timestamp.valueOf(s)

    val s1 = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val q1 = StreamIngest.startLogged(
      s1.toDF().toDF("part", "off", "timestamp", "payload"), out, "t", cfg, ckpt1)
    s1.addData((0L, 0L, t("2026-03-01 10:00:00"), "a"),
      (0L, 1L, t("2026-03-01 11:00:00"), "b"),
      (0L, 2L, t("2026-03-02 09:00:00"), "c"))
    q1.processAllAvailable()
    q1.stop()
    // daily directories under the topics.dir root, pad-4 names — the
    // knobs the loose overloads used to silently drop
    assert(new java.io.File(s"$root/t/year=2026/month=03/day=01").exists())
    assert(BatchWriter.listCommitted(spark, root, "t") ===
      Seq("t+0+0000+0001.parquet", "t+0+0002+0002.parquet"))
    assert(CommitLog.maxOffsets(spark, root, "t") === Map(0L -> 2L))

    // restart with full replay + one new record: exactly-once holds on
    // the encoded layout because each batch published atomically
    val ckpt2 = Files.createTempDirectory("graft-ckpt-cfg2").toString
    val s2 = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val q2 = StreamIngest.startLogged(
      s2.toDF().toDF("part", "off", "timestamp", "payload"), out, "t", cfg, ckpt2)
    s2.addData((0L, 0L, t("2026-03-01 10:00:00"), "a"),
      (0L, 1L, t("2026-03-01 11:00:00"), "b"),
      (0L, 2L, t("2026-03-02 09:00:00"), "c"),
      (0L, 3L, t("2026-03-02 10:00:00"), "d"))
    q2.processAllAvailable()
    q2.stop()
    // _commitlog starts with '_' so the parquet scan ignores it
    val back = spark.read.parquet(s"$root/t")
    assert(back.count() === 4)
    assert(back.select(countDistinct(col("payload"))).as[Long].head() === 4)
    assert(CommitLog.maxOffsets(spark, root, "t") === Map(0L -> 3L))
  }

  test("startLogged(topic, cfg) streams against the configured store root") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.{CommitLog, GraftConfig}
    val out = Files.createTempDirectory("graft-stream-storeurl").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-storeurl").toString
    val cfg = GraftConfig(Map("flush.size" -> "2", "store.url" -> out))
    val s = MemoryStream[(Long, Long, String)]
    val q = StreamIngest.startLogged(
      s.toDF().toDF("part", "off", "payload"), "t", cfg, ckpt)
    s.addData((0L, 0L, "a"))
    q.processAllAvailable()
    q.stop()
    assert(CommitLog.maxOffsets(spark, cfg.topicsRoot(out), "t") === Map(0L -> 0L))
    val e = intercept[IllegalArgumentException] {
      StreamIngest.startLogged(s.toDF().toDF("part", "off", "payload"), "t",
        GraftConfig(Map("flush.size" -> "2")), ckpt)
    }
    assert(e.getMessage.contains("no store root configured"))
  }

  test("FORWARD restart re-infers the committed schema and projects the stream onto it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.{CommitLog, GraftConfig}
    val out = Files.createTempDirectory("graft-stream-fwd").toString
    val ckpt1 = Files.createTempDirectory("graft-ckpt-fwd1").toString
    val cfg = GraftConfig(Map("flush.size" -> "2",
      "schema.compatibility" -> "FORWARD"))
    val root = cfg.topicsRoot(out)

    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = StreamIngest.startLogged(
      s1.toDF().toDF("part", "off", "payload"), out, "t", cfg, ckpt1)
    s1.addData((0L, 0L, "a"), (0L, 1L, "b"))
    q1.processAllAvailable()
    q1.stop()
    // recovery sees the committed content schema + the layout-encoded part
    assert(StreamIngest.committedSchema(spark, root, "t").map(_.fieldNames.toSeq)
      === Some(Seq("part", "off", "payload")))

    // restart with a WIDENED stream (an extra column the committed
    // schema lacks): FORWARD keeps the committed schema current, so
    // the replay + new offsets project DOWN onto it
    val ckpt2 = Files.createTempDirectory("graft-ckpt-fwd2").toString
    val s2 = MemoryStream[(Long, Long, String, String)]
    val q2 = StreamIngest.startLogged(
      s2.toDF().toDF("part", "off", "payload", "extra"), out, "t", cfg, ckpt2)
    s2.addData((0L, 0L, "a", "x0"), (0L, 1L, "b", "x1"),
      (0L, 2L, "c", "x2"), (0L, 3L, "d", "x3"))
    q2.processAllAvailable()
    q2.stop()

    val back = spark.read.parquet(s"$root/t")
    assert(back.count() === 4) // exactly-once across the replay
    // rotation-correct, schema-consistent output: no file carries the
    // projected-away column
    assert(!back.schema.fieldNames.contains("extra"))
    assert(CommitLog.maxOffsets(spark, root, "t") === Map(0L -> 3L))
  }

  test("schema recovery survives compaction + vacuum of the appends it would read") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.{CommitLog, GraftConfig}
    val out = Files.createTempDirectory("graft-stream-compactrec").toString
    val cfg = GraftConfig(Map("flush.size" -> "1"))
    val root = cfg.topicsRoot(out)
    val ckpt = Files.createTempDirectory("graft-ckpt-compactrec").toString
    val s = MemoryStream[(Long, Long, String)]
    val q = StreamIngest.startLogged(
      s.toDF().toDF("part", "off", "payload"), out, "t", cfg, ckpt)
    s.addData((0L, 0L, "a"), (0L, 1L, "b"), (0L, 2L, "c"))
    q.processAllAvailable()
    q.stop()
    // compaction swallows every append's files into one swap rewrite,
    // vacuum physically deletes them (grace 0) — recovery must resolve
    // a LIVE file, not the newest append's deleted one
    CommitLog.compactLogged(spark, root, "t", targetRecords = 100L)
    val deleted = CommitLog.vacuum(spark, root, "t", graceMs = 0L)
    assert(deleted.nonEmpty, "vacuum should have reclaimed the compacted appends")
    assert(StreamIngest.committedSchema(spark, root, "t").map(_.fieldNames.toSeq)
      === Some(Seq("part", "off", "payload")))
  }

  test("schema recovery reads the compaction rewrite, not an older live append") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.{CommitLog, GraftConfig}
    val out = Files.createTempDirectory("graft-stream-partialrec").toString
    val cfg = GraftConfig(Map("flush.size" -> "1",
      "schema.compatibility" -> "BACKWARD"))
    val root = cfg.topicsRoot(out)
    // partition 0: ONE pre-evolution file (a single-file group no
    // compaction ever rewrites — it stays live forever)
    val ckpt1 = Files.createTempDirectory("graft-ckpt-partialrec1").toString
    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = StreamIngest.startLogged(
      s1.toDF().toDF("part", "off", "payload"), out, "t", cfg, ckpt1)
    s1.addData((0L, 0L, "a"))
    q1.processAllAvailable()
    q1.stop()
    // partition 1: NEWER appends under a widened (BACKWARD-adopted)
    // schema, then compacted into one rewrite and vacuumed
    val ckpt2 = Files.createTempDirectory("graft-ckpt-partialrec2").toString
    val s2 = MemoryStream[(Long, Long, String, String)]
    val q2 = StreamIngest.startLogged(
      s2.toDF().toDF("part", "off", "payload", "extra"), out, "t", cfg, ckpt2)
    s2.addData((1L, 0L, "b", "x0"), (1L, 1L, "c", "x1"), (1L, 2L, "d", "x2"))
    q2.processAllAvailable()
    q2.stop()
    CommitLog.compactLogged(spark, root, "t", targetRecords = 100L)
    CommitLog.vacuum(spark, root, "t", graceMs = 0L)
    // the old partition-0 file is still live, the evolved appends are
    // not — recovery must follow the newest RECORD into its rewrite,
    // not prefer the stale live append (which would silently project
    // the evolved column out of every restarted batch)
    val got = StreamIngest.committedSchema(spark, root, "t")
    assert(got.map(_.fieldNames.toSet)
      === Some(Set("part", "off", "payload", "extra")))
  }

  test("FORWARD restart recovers the avro container schema and projects onto it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.{AvroSink, GraftConfig}
    import org.apache.spark.sql.types._
    val out = Files.createTempDirectory("graft-stream-avrofwd").toString
    val ckpt1 = Files.createTempDirectory("graft-ckpt-avrofwd1").toString
    val cfg = GraftConfig(Map("flush.size" -> "2", "format.class" -> "avro",
      "schema.compatibility" -> "FORWARD"))
    val root = cfg.topicsRoot(out)

    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = StreamIngest.startLogged(
      s1.toDF().toDF("part", "off", "payload"), out, "t", cfg, ckpt1)
    s1.addData((0L, 0L, "a"), (0L, 1L, "b"))
    q1.processAllAvailable()
    q1.stop()
    // recovery decodes the container header writer schema (avro files
    // carry part in content, so nothing is re-prepended)
    assert(StreamIngest.committedSchema(spark, root, "t", "avro")
      .map(_.fieldNames.toSeq) === Some(Seq("part", "off", "payload")))

    val ckpt2 = Files.createTempDirectory("graft-ckpt-avrofwd2").toString
    val s2 = MemoryStream[(Long, Long, String, String)]
    val q2 = StreamIngest.startLogged(
      s2.toDF().toDF("part", "off", "payload", "extra"), out, "t", cfg, ckpt2)
    s2.addData((0L, 2L, "c", "x2"), (0L, 3L, "d", "x3"))
    q2.processAllAvailable()
    q2.stop()

    val schema = StructType(Seq(StructField("part", LongType),
      StructField("off", LongType), StructField("payload", StringType)))
    val back = AvroSink.readDataFrame(spark, s"$root/t", schema)
    assert(back.count() === 4)
    // the widened stream projected down: the newest container's writer
    // schema still has exactly the committed fields
    val latest = BatchWriter.listCommitted(spark, root, "t").last
    val got = AvroSink.readSchemaOf(spark, s"$root/t/partition=0/$latest")
    assert(got.getFields.size === 3)
  }

  test("BACKWARD restart adopts a widened stream schema instead of projecting") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.GraftConfig
    val out = Files.createTempDirectory("graft-stream-bwd").toString
    val ckpt1 = Files.createTempDirectory("graft-ckpt-bwd1").toString
    val cfg = GraftConfig(Map("flush.size" -> "2",
      "schema.compatibility" -> "BACKWARD"))
    val root = cfg.topicsRoot(out)

    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = StreamIngest.startLogged(
      s1.toDF().toDF("part", "off", "payload"), out, "t", cfg, ckpt1)
    s1.addData((0L, 0L, "a"), (0L, 1L, "b"))
    q1.processAllAvailable()
    q1.stop()

    // a column-adding stream IS the backward-compatible evolution —
    // the new schema is adopted, new files carry the new column
    val ckpt2 = Files.createTempDirectory("graft-ckpt-bwd2").toString
    val s2 = MemoryStream[(Long, Long, String, String)]
    val q2 = StreamIngest.startLogged(
      s2.toDF().toDF("part", "off", "payload", "extra"), out, "t", cfg, ckpt2)
    s2.addData((0L, 2L, "c", "x2"), (0L, 3L, "d", "x3"))
    q2.processAllAvailable()
    q2.stop()

    val back = spark.read.option("mergeSchema", "true").parquet(s"$root/t")
    assert(back.count() === 4)
    assert(back.schema.fieldNames.contains("extra"))
    assert(back.filter(col("extra").isNotNull).count() === 2)
    // and a SHRUNKEN restart (missing nullable column) projects UP:
    // the committed schema (now with extra) null-fills it
    val ckpt3 = Files.createTempDirectory("graft-ckpt-bwd3").toString
    val s3 = MemoryStream[(Long, Long, String)]
    val q3 = StreamIngest.startLogged(
      s3.toDF().toDF("part", "off", "payload"), out, "t", cfg, ckpt3)
    s3.addData((0L, 4L, "e"))
    q3.processAllAvailable()
    q3.stop()
    val all = spark.read.option("mergeSchema", "true").parquet(s"$root/t")
    assert(all.count() === 5)
    assert(all.filter(col("off") === 4L).select(col("extra")).collect()
      .head.isNullAt(0))
  }

  test("windowed counts emit only watermark-closed buckets (append mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val s = MemoryStream[(Timestamp, String)]
    val q = StreamIngest.windowedCounts(
        s.toDF().toDF("ts", "k"), "ts", "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("wc").outputMode("append").start()
    def t(m: Int) = new Timestamp(3600000L * 24 * 365 * 50 + m * 60000L)

    s.addData((t(1), "a"), (t(5), "b"))
    q.processAllAvailable()
    assert(spark.table("wc").count() === 0) // bucket still open

    s.addData((t(30), "late-advances-clock"))
    q.processAllAvailable()
    val rows = spark.table("wc").as[(Timestamp, Long)].collect().toSeq
    q.stop()
    assert(rows.map(_._2) === Seq(2L)) // the [t0, t0+10m) bucket closed with 2 events
  }

  test("session_window closes a session only after the gap + watermark pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val s = MemoryStream[(Timestamp, Long)]
    val q = StreamIngest.sessionCounts(
        s.toDF().toDF("ts", "user_id"), "ts", "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    def t(m: Int) = new Timestamp(1700000000000L + m * 60000L)

    // user 7: two events 5 min apart (one session), then silence
    s.addData((t(0), 7L), (t(5), 7L))
    q.processAllAvailable()
    assert(spark.table("sess").count() === 0) // session still open

    // an event far in the future advances the watermark past the close
    s.addData((t(120), 7L))
    q.processAllAvailable()
    val rows = spark.table("sess").as[(Long, Timestamp, Timestamp, Long)]
      .collect().toSeq
    q.stop()
    assert(rows.map(r => (r._1, r._4)) === Seq((7L, 2L)))
    // session spans first event .. last event + gap
    assert(rows.head._2 === t(0) && rows.head._3 === t(35))
  }

  test("stream-stream lookback join matches within the window and expires state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val views = MemoryStream[(Timestamp, Long, String)]
    val joined = StreamIngest.enrichWithinLookback(
      clicks.toDF().toDF("cts", "user", "click"),
      views.toDF().toDF("vts", "user", "page"),
      "user", "cts", "vts", "10 minutes", "15 minutes")
    val q = joined
      .select(col("l.user"), col("click"), col("page"))
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    def t(m: Int) = new Timestamp(1700000000000L + m * 60000L)

    // view at t0 and t40; click at t10 joins only the t0 view (within
    // 15-minute lookback); click at t41 joins only the t40 view (the
    // t0 view is 41 min stale)
    views.addData((t(0), 7L, "home"), (t(40), 7L, "pricing"))
    clicks.addData((t(10), 7L, "signup"), (t(41), 7L, "buy"))
    // a different user's view never joins
    views.addData((t(10), 8L, "other"))
    q.processAllAvailable()
    val rows = spark.table("ssj").as[(Long, String, String)].collect().toSet
    q.stop()
    assert(rows === Set((7L, "signup", "home"), (7L, "buy", "pricing")))
  }

  test("dropDuplicates on (part, off) dedups an at-least-once stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val s = MemoryStream[(Timestamp, Long, Long)]
    val q = StreamIngest.dedupOffsets(
        s.toDF().toDF("ts", "part", "off"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    def t(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    s.addData((t(0), 0L, 0L), (t(1), 0L, 1L), (t(1), 0L, 1L), (t(2), 0L, 0L))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dd").count() === 2)
  }

  test("dedupOffsets soak: watermark evicts state — memory plateaus on a long stream") {
    // the unbounded-state failure mode this pins against: a plain
    // key-subset dropDuplicates NEVER evicts, so (a) state rows grow
    // with the stream and (b) a re-sent offset is suppressed forever.
    // dropDuplicatesWithinWatermark must do the opposite on both
    // counts once the watermark passes: state plateaus, and an
    // evicted (part, off) re-admits — the contract an at-least-once
    // source needs (a redelivery AFTER the delay is out of contract).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val s = MemoryStream[(Timestamp, Long, Long)]
    val q = StreamIngest.dedupOffsets(
        s.toDF().toDF("ts", "part", "off"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("ddsoak")
      .outputMode("append").start()
    def t(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val keysPerRound = 5
    val rounds = 12
    val stateSizes = scala.collection.mutable.Buffer.empty[Long]
    for (b <- 0 until rounds) {
      // event time advances 30 min per round — 3× the 10-min delay, so
      // every round's state is evictable by the next. The SAME offsets
      // 0..4 are re-sent every round (plus one in-batch duplicate):
      // if eviction were broken they would be suppressed after round 0
      val base = b * 30
      s.addData((0 until keysPerRound).map(i => (t(base), 0L, i.toLong))
        :+ ((t(base), 0L, 0L)): _*)
      q.processAllAvailable()
      Option(q.lastProgress).filter(_.stateOperators.nonEmpty)
        .foreach(p => stateSizes += p.stateOperators.head.numRowsTotal)
    }
    q.stop()
    // re-sent keys re-admit every OTHER round: the watermark at round
    // b+1's start is base(b)−10min, which hasn't passed round b's
    // expiry base(b)+10min yet — eviction completes by round b+2. A
    // broken eviction (plain dropDuplicates) would admit round 0 only
    // (5 rows total); working eviction admits ceil(rounds/2) rounds.
    assert(spark.table("ddsoak").count() ===
      ((rounds + 1) / 2).toLong * keysPerRound,
      "evicted offsets must re-admit; in-watermark duplicates must not")
    // state never accumulates past ~2 rounds of keys (current round +
    // the not-yet-swept previous one); a broken eviction would reach
    // rounds*keysPerRound = 60 by the end
    assert(stateSizes.nonEmpty && stateSizes.max <= 3L * keysPerRound,
      s"state must plateau, got $stateSizes")
    assert(stateSizes.last <= 3L * keysPerRound,
      s"final state must be bounded by the watermark, got $stateSizes")
  }

  test("multi-topic interval rotation: per-topic record-time splits + crash-replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.{CommitLog, GraftConfig}
    val out = Files.createTempDirectory("graft-multi-rotate").toString
    val ckpt1 = Files.createTempDirectory("graft-mrot-ckpt1").toString
    val cfg = GraftConfig(Map("flush.size" -> "100",
      "rotate.interval.ms" -> "60000"))
    val root = cfg.topicsRoot(out)
    def t(s: String) = Timestamp.valueOf(s)

    // alpha: offsets 0-3 straddle a 60s bucket boundary → two files
    // despite flushSize 100; beta: one bucket → one file. Rotation is
    // per (topic, part), exactly the reference's per-writer rotation.
    val s1 = MemoryStream[(String, Long, Long, Timestamp, String)]
    val q1 = StreamIngest.startLoggedMulti(
      s1.toDF().toDF("topic", "part", "off", "timestamp", "payload"),
      out, cfg, ckpt1)
    s1.addData(
      ("alpha", 0L, 0L, t("2026-03-01 10:00:00"), "a0"),
      ("alpha", 0L, 1L, t("2026-03-01 10:00:30"), "a1"),
      ("alpha", 0L, 2L, t("2026-03-01 10:01:10"), "a2"),
      ("alpha", 0L, 3L, t("2026-03-01 10:01:40"), "a3"),
      ("beta", 0L, 0L, t("2026-03-01 10:00:10"), "b0"))
    q1.processAllAvailable()
    q1.stop()

    assert(BatchWriter.listCommitted(spark, root, "alpha") === Seq(
      "alpha+0+0000000000+0000000001.parquet",
      "alpha+0+0000000002+0000000003.parquet"))
    assert(BatchWriter.listCommitted(spark, root, "beta") === Seq(
      "beta+0+0000000000+0000000000.parquet"))
    assert(CommitLog.read(spark, root, "alpha").count() === 4)

    // crash-restart with full replay + one new record in a new bucket:
    // replayed offsets fall to each topic's resume filter, the new
    // record rotates into its own file
    val ckpt2 = Files.createTempDirectory("graft-mrot-ckpt2").toString
    val s2 = MemoryStream[(String, Long, Long, Timestamp, String)]
    val q2 = StreamIngest.startLoggedMulti(
      s2.toDF().toDF("topic", "part", "off", "timestamp", "payload"),
      out, cfg, ckpt2)
    s2.addData(
      ("alpha", 0L, 0L, t("2026-03-01 10:00:00"), "a0"),
      ("alpha", 0L, 1L, t("2026-03-01 10:00:30"), "a1"),
      ("alpha", 0L, 4L, t("2026-03-01 10:02:30"), "a4"))
    q2.processAllAvailable()
    q2.stop()

    assert(BatchWriter.listCommitted(spark, root, "alpha") === Seq(
      "alpha+0+0000000000+0000000001.parquet",
      "alpha+0+0000000002+0000000003.parquet",
      "alpha+0+0000000004+0000000004.parquet"))
    val alpha = CommitLog.read(spark, root, "alpha")
    assert(alpha.count() === 5)
    assert(alpha.select(countDistinct(col("part"), col("off")))
      .as[Long].head() === 5)
  }

  test("multi-topic interval rotation holds for orc and csv (full sink parity)") {
    // r15 (verdict task #5): the record-time bucket split must land
    // the same committed layout for the r14 formats as for parquet —
    // rotation is format-agnostic by design, pinned here so the demux
    // asymmetry class of bug can't reappear
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.{CommitLog, GraftConfig}
    for (fmt <- Seq("orc", "csv")) {
      val out = Files.createTempDirectory(s"graft-multi-rot-$fmt").toString
      val ckpt = Files.createTempDirectory(s"graft-mrotf-ckpt-$fmt").toString
      val cfg = GraftConfig(Map("flush.size" -> "100",
        "format.class" -> fmt, "rotate.interval.ms" -> "60000"))
      val root = cfg.topicsRoot(out)
      def t(s: String) = Timestamp.valueOf(s)
      val s1 = MemoryStream[(String, Long, Long, Timestamp, String)]
      val q1 = StreamIngest.startLoggedMulti(
        s1.toDF().toDF("topic", "part", "off", "timestamp", "payload"),
        out, cfg, ckpt)
      s1.addData(
        ("alpha", 0L, 0L, t("2026-03-01 10:00:00"), "a0"),
        ("alpha", 0L, 1L, t("2026-03-01 10:00:30"), "a1"),
        ("alpha", 0L, 2L, t("2026-03-01 10:01:10"), "a2"),
        ("beta", 0L, 0L, t("2026-03-01 10:00:10"), "b0"))
      q1.processAllAvailable()
      q1.stop()
      val ext = BatchWriter.Formats(fmt)
      assert(BatchWriter.listCommitted(spark, root, "alpha") === Seq(
        s"alpha+0+0000000000+0000000001$ext",
        s"alpha+0+0000000002+0000000002$ext"), s"format=$fmt")
      assert(BatchWriter.listCommitted(spark, root, "beta") === Seq(
        s"beta+0+0000000000+0000000000$ext"), s"format=$fmt")
      // content: orc reads back self-described through the commit log;
      // csv under an explicit schema straight off the committed files
      if (fmt == "orc")
        assert(CommitLog.read(spark, root, "alpha", "orc")
          .select(col("payload")).as[String].collect().toSet ===
          Set("a0", "a1", "a2"))
      else {
        import org.apache.spark.sql.types._
        val got = spark.read.schema(StructType(Seq(
            StructField("off", LongType),
            StructField("timestamp", TimestampType),
            StructField("payload", StringType))))
          .csv(s"$root/alpha/partition=0/*.csv")
          .select(col("payload")).as[String].collect().toSet
        assert(got === Set("a0", "a1", "a2"))
      }
    }
  }

  test("dead-letter routing: invalid records land in <topic>.dlq, replay exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.CommitLog
    val out = Files.createTempDirectory("graft-dlq").toString
    val ckpt1 = Files.createTempDirectory("graft-dlq-ckpt1").toString
    val valid = get_json_object(col("payload"), "$.k").isNotNull

    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = StreamIngest.startLoggedDlq(
      s1.toDF().toDF("part", "off", "payload"), out, "ev", valid,
      flushSize = 2, checkpoint = ckpt1)
    s1.addData((0L, 0L, """{"k":1}"""), (0L, 1L, "corrupt"),
      (0L, 2L, """{"k":3}"""), (1L, 0L, "{broken"))
    q1.processAllAvailable()
    q1.stop()

    val main = CommitLog.read(spark, out, "ev")
    val dlq = CommitLog.read(spark, out, "ev.dlq")
    assert(main.count() === 2 && dlq.count() === 2)
    assert(dlq.select(col("payload")).as[String].collect().toSet ===
      Set("corrupt", "{broken"))
    assert(CommitLog.maxOffsets(spark, out, "ev") === Map(0L -> 2L))
    assert(CommitLog.maxOffsets(spark, out, "ev.dlq") ===
      Map(0L -> 1L, 1L -> 0L))

    // crash-restart with replay + one new bad record: each side's
    // resume filter drops only its own committed offsets
    val ckpt2 = Files.createTempDirectory("graft-dlq-ckpt2").toString
    val s2 = MemoryStream[(Long, Long, String)]
    val q2 = StreamIngest.startLoggedDlq(
      s2.toDF().toDF("part", "off", "payload"), out, "ev", valid,
      flushSize = 2, checkpoint = ckpt2)
    s2.addData((0L, 0L, """{"k":1}"""), (0L, 1L, "corrupt"),
      (0L, 3L, "also bad"))
    q2.processAllAvailable()
    q2.stop()

    assert(CommitLog.read(spark, out, "ev").count() === 2)
    val dlq2 = CommitLog.read(spark, out, "ev.dlq")
    assert(dlq2.count() === 3)
    assert(dlq2.select(countDistinct(col("part"), col("off")))
      .as[Long].head() === 3)
  }

  test("multi-topic FORWARD restart: per-topic down-projection, new topics adopt") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.{CommitLog, GraftConfig}
    val out = Files.createTempDirectory("graft-multi-fwd").toString
    val ckpt1 = Files.createTempDirectory("graft-mfwd-ckpt1").toString
    val root = GraftConfig(Map("flush.size" -> "2")).topicsRoot(out)

    // phase 1: t1 commits files with column a only
    val s1 = MemoryStream[(String, Long, Long, String)]
    val q1 = StreamIngest.startLoggedMulti(
      s1.toDF().toDF("topic", "part", "off", "a"), out,
      GraftConfig(Map("flush.size" -> "2")), ckpt1)
    s1.addData(("t1", 0L, 0L, "a0"), ("t1", 0L, 1L, "a1"))
    q1.processAllAvailable()
    q1.stop()

    // phase 2 under FORWARD: the restarted stream carries an extra
    // column b; t1 projects DOWN onto its committed schema (b
    // dropped), the never-seen t2 adopts the full stream schema
    val ckpt2 = Files.createTempDirectory("graft-mfwd-ckpt2").toString
    val s2 = MemoryStream[(String, Long, Long, String, String)]
    val q2 = StreamIngest.startLoggedMulti(
      s2.toDF().toDF("topic", "part", "off", "a", "b"), out,
      GraftConfig(Map("flush.size" -> "2",
        "schema.compatibility" -> "FORWARD")), ckpt2)
    s2.addData(("t1", 0L, 2L, "a2", "b2"), ("t1", 0L, 3L, "a3", "b3"),
      ("t2", 0L, 0L, "x0", "y0"), ("t2", 0L, 1L, "x1", "y1"))
    q2.processAllAvailable()
    q2.stop()

    val t1 = CommitLog.read(spark, root, "t1")
    val t2 = CommitLog.read(spark, root, "t2")
    assert(t1.count() === 4 && t2.count() === 2)
    assert(!t1.columns.contains("b"),
      s"t1 must stay on its committed schema: ${t1.columns.mkString(",")}")
    assert(t2.columns.contains("b"),
      s"t2 adopts the stream schema: ${t2.columns.mkString(",")}")
    assert(CommitLog.maxOffsets(spark, root, "t1") === Map(0L -> 3L))
  }

  test("multi-topic avro interval rotation: fan-out splits per record-time bucket + crash-replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.{AvroSink, CommitLog, GraftConfig}
    import org.apache.spark.sql.types._
    val out = Files.createTempDirectory("graft-mrot-avro").toString
    val ckpt1 = Files.createTempDirectory("graft-mrota-ckpt1").toString
    val cfg = GraftConfig(Map("flush.size" -> "100",
      "rotate.interval.ms" -> "60000",
      "format.class" -> "avro", "avro.codec" -> "deflate"))
    val root = cfg.topicsRoot(out)
    def t(s: String) = Timestamp.valueOf(s)

    // alpha straddles a 60s bucket → two container files despite
    // flushSize 100; beta stays in one bucket → one file
    val s1 = MemoryStream[(String, Long, Long, Timestamp, String)]
    val q1 = StreamIngest.startLoggedMulti(
      s1.toDF().toDF("topic", "part", "off", "timestamp", "payload"),
      out, cfg, ckpt1)
    s1.addData(
      ("alpha", 0L, 0L, t("2026-03-01 10:00:00"), "a0"),
      ("alpha", 0L, 1L, t("2026-03-01 10:00:30"), "a1"),
      ("alpha", 0L, 2L, t("2026-03-01 10:01:10"), "a2"),
      ("beta", 0L, 0L, t("2026-03-01 10:00:10"), "b0"))
    q1.processAllAvailable()
    q1.stop()

    assert(BatchWriter.listCommitted(spark, root, "alpha") === Seq(
      "alpha+0+0000000000+0000000001.avro",
      "alpha+0+0000000002+0000000002.avro"))
    assert(BatchWriter.listCommitted(spark, root, "beta") === Seq(
      "beta+0+0000000000+0000000000.avro"))

    // crash-restart with full replay + one new record in a new bucket
    val ckpt2 = Files.createTempDirectory("graft-mrota-ckpt2").toString
    val s2 = MemoryStream[(String, Long, Long, Timestamp, String)]
    val q2 = StreamIngest.startLoggedMulti(
      s2.toDF().toDF("topic", "part", "off", "timestamp", "payload"),
      out, cfg, ckpt2)
    s2.addData(
      ("alpha", 0L, 0L, t("2026-03-01 10:00:00"), "a0"),
      ("alpha", 0L, 3L, t("2026-03-01 10:02:30"), "a3"))
    q2.processAllAvailable()
    q2.stop()

    assert(BatchWriter.listCommitted(spark, root, "alpha") === Seq(
      "alpha+0+0000000000+0000000001.avro",
      "alpha+0+0000000002+0000000002.avro",
      "alpha+0+0000000003+0000000003.avro"))
    val schema = StructType(Seq(StructField("part", LongType),
      StructField("off", LongType),
      StructField("timestamp", TimestampType),
      StructField("payload", StringType)))
    val alpha = AvroSink.readDataFrame(spark, s"$root/alpha", schema)
    assert(alpha.count() === 4) // no dup from the replay
    assert(alpha.select(col("payload")).as[String].collect().toSet ===
      Set("a0", "a1", "a2", "a3"))
  }

  test("multi-topic text interval rotation: timestamp routes the split, then drops from payload") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.{CommitLog, GraftConfig}
    val out = Files.createTempDirectory("graft-mrot-text").toString
    val ckpt1 = Files.createTempDirectory("graft-mrott-ckpt1").toString
    val cfg = GraftConfig(Map("flush.size" -> "100",
      "rotate.interval.ms" -> "60000", "format.class" -> "text"))
    val root = cfg.topicsRoot(out)
    def t(s: String) = Timestamp.valueOf(s)

    val s1 = MemoryStream[(String, Long, Long, Timestamp, String)]
    val q1 = StreamIngest.startLoggedMulti(
      s1.toDF().toDF("topic", "part", "off", "timestamp", "payload"),
      out, cfg, ckpt1)
    s1.addData(
      ("alpha", 0L, 0L, t("2026-03-01 10:00:00"), "a0"),
      ("alpha", 0L, 1L, t("2026-03-01 10:01:10"), "a1"),
      ("beta", 0L, 0L, t("2026-03-01 10:00:10"), "b0"))
    q1.processAllAvailable()
    q1.stop()

    assert(BatchWriter.listCommitted(spark, root, "alpha") === Seq(
      "alpha+0+0000000000+0000000000.txt",
      "alpha+0+0000000001+0000000001.txt"))
    // text files carry ONLY the payload line — the routing timestamp
    // was consumed by the split and dropped
    val lines = spark.read.text(s"$root/alpha/partition=0/*.txt")
      .as[String].collect().toSet
    assert(lines === Set("a0", "a1"))

    // crash-replay: the replayed offset is dropped, the new one lands
    val ckpt2 = Files.createTempDirectory("graft-mrott-ckpt2").toString
    val s2 = MemoryStream[(String, Long, Long, Timestamp, String)]
    val q2 = StreamIngest.startLoggedMulti(
      s2.toDF().toDF("topic", "part", "off", "timestamp", "payload"),
      out, cfg, ckpt2)
    s2.addData(
      ("alpha", 0L, 0L, t("2026-03-01 10:00:00"), "a0"),
      ("alpha", 0L, 2L, t("2026-03-01 10:02:30"), "a2"))
    q2.processAllAvailable()
    q2.stop()
    assert(BatchWriter.listCommitted(spark, root, "alpha") === Seq(
      "alpha+0+0000000000+0000000000.txt",
      "alpha+0+0000000001+0000000001.txt",
      "alpha+0+0000000002+0000000002.txt"))
    assert(CommitLog.maxOffsets(spark, root, "alpha") === Map(0L -> 2L))
  }

  test("single-topic avro interval rotation via cfg.write: bucket-change split") {
    import spark.implicits._
    import graft.ingest.{AvroSink, GraftConfig}
    import org.apache.spark.sql.types._
    val out = Files.createTempDirectory("graft-avro-rotate").toString
    val cfg = GraftConfig(Map("flush.size" -> "100",
      "rotate.interval.ms" -> "60000", "format.class" -> "avro"))
    def t(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      (0L, 0L, t("2026-03-01 10:00:00"), "r0"),
      (0L, 1L, t("2026-03-01 10:00:30"), "r1"),
      (0L, 2L, t("2026-03-01 10:01:10"), "r2"))
      .toDF("part", "off", "timestamp", "payload")
    val committed = cfg.write(df, out, "t")
    val root = cfg.topicsRoot(out)
    assert(BatchWriter.listCommitted(spark, root, "t") === Seq(
      "t+0+0000000000+0000000001.avro",
      "t+0+0000000002+0000000002.avro"))
    assert(committed.size === 2)
    val schema = StructType(Seq(StructField("part", LongType),
      StructField("off", LongType),
      StructField("timestamp", TimestampType),
      StructField("payload", StringType)))
    assert(AvroSink.readDataFrame(spark, s"$root/t", schema).count() === 3)
  }

  test("multi-topic recovery at query start: a logged topic that reappears later drops its replay; a new topic advances from its manifest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.CommitLog
    val out = Files.createTempDirectory("graft-multi-recover").toString
    def start(s: MemoryStream[(String, Long, Long, String)]) =
      StreamIngest.startLoggedMulti(s.toDF().toDF("topic", "part", "off", "payload"),
        out, 10, Files.createTempDirectory("graft-mrec-ckpt").toString)
    def recs(t: String, offs: Range) = offs.map(o => (t, 0L, o.toLong, s"$t$o"))

    val s1 = MemoryStream[(String, Long, Long, String)]
    val q1 = start(s1)
    s1.addData(recs("alpha", 0 to 2) ++ recs("beta", 0 to 2): _*)
    q1.processAllAvailable()
    q1.stop()

    // restart: beta has a log but is absent from the first two batches,
    // then returns with its committed offsets replayed; gamma has no
    // log and is first committed by this query, then replayed too
    val s2 = MemoryStream[(String, Long, Long, String)]
    val q2 = start(s2)
    s2.addData(recs("alpha", 0 to 4): _*)
    q2.processAllAvailable()
    s2.addData(recs("alpha", 5 to 5) ++ recs("gamma", 0 to 1): _*)
    q2.processAllAvailable()
    s2.addData(recs("beta", 0 to 3) ++ recs("gamma", 0 to 2): _*)
    q2.processAllAvailable()
    q2.stop()

    for ((t, n) <- Seq("alpha" -> 6, "beta" -> 4, "gamma" -> 3)) {
      val back = CommitLog.read(spark, out, t).select($"off").as[Long].collect()
      assert(back.sorted.toSeq === (0L until n.toLong), t)
      assert(CommitLog.maxOffsets(spark, out, t) === Map(0L -> (n - 1).toLong), t)
    }
    // the replayed offsets never reached a file: beta's only new file
    // holds offset 3, gamma's second file offset 2
    assert(BatchWriter.listCommitted(spark, out, "beta") === Seq(
      "beta+0+0000000000+0000000002.parquet",
      "beta+0+0000000003+0000000003.parquet"))
    assert(BatchWriter.listCommitted(spark, out, "gamma") === Seq(
      "gamma+0+0000000000+0000000001.parquet",
      "gamma+0+0000000002+0000000002.parquet"))
  }

  test("dead-letter and router restarts stay exactly-once when a side first reappears in a later batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.{CommitLog, GraftConfig}
    val out = Files.createTempDirectory("graft-dlq-later").toString
    val valid = get_json_object(col("payload"), "$.k").isNotNull
    def dlq(s: MemoryStream[(Long, Long, String)]) =
      StreamIngest.startLoggedDlq(s.toDF().toDF("part", "off", "payload"), out,
        "ev", valid, flushSize = 10,
        checkpoint = Files.createTempDirectory("graft-dlql-ckpt").toString)
    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = dlq(s1)
    s1.addData((0L, 0L, """{"k":0}"""), (0L, 1L, "bad1"))
    q1.processAllAvailable()
    q1.stop()
    // restart: the first batch carries only valid records; the DLQ side
    // returns one batch later with its committed record replayed
    val s2 = MemoryStream[(Long, Long, String)]
    val q2 = dlq(s2)
    s2.addData((0L, 0L, """{"k":0}"""), (0L, 2L, """{"k":2}"""))
    q2.processAllAvailable()
    s2.addData((0L, 1L, "bad1"), (0L, 3L, "bad3"))
    q2.processAllAvailable()
    q2.stop()
    assert(CommitLog.read(spark, out, "ev").select($"off").as[Long]
      .collect().sorted.toSeq === Seq(0L, 2L))
    assert(CommitLog.read(spark, out, "ev.dlq").select($"off").as[Long]
      .collect().sorted.toSeq === Seq(1L, 3L))

    // a RegexRouter rewrites the topic; the routed topic is what is
    // logged and recovered at restart
    val cfg = GraftConfig(Map("flush.size" -> "10", "transforms" -> "r",
      "transforms.r.type" -> "RegexRouter",
      "transforms.r.regex" -> "(.*)-v1", "transforms.r.replacement" -> "$1"))
    val root = cfg.topicsRoot(out)
    def routed(s: MemoryStream[(String, Long, Long, String)]) =
      StreamIngest.startLoggedMulti(s.toDF().toDF("topic", "part", "off", "payload"),
        out, cfg, Files.createTempDirectory("graft-route-ckpt").toString)
    val r1 = MemoryStream[(String, Long, Long, String)]
    val rq1 = routed(r1)
    r1.addData(("orders-v1", 0L, 0L, "o0"), ("orders-v1", 0L, 1L, "o1"))
    rq1.processAllAvailable()
    rq1.stop()
    val r2 = MemoryStream[(String, Long, Long, String)]
    val rq2 = routed(r2)
    r2.addData(("audit", 0L, 0L, "a0"))
    rq2.processAllAvailable()
    r2.addData(("orders-v1", 0L, 0L, "o0"), ("orders-v1", 0L, 1L, "o1"),
      ("orders-v1", 0L, 2L, "o2"))
    rq2.processAllAvailable()
    rq2.stop()
    assert(CommitLog.read(spark, root, "orders").select($"payload").as[String]
      .collect().sorted.toSeq === Seq("o0", "o1", "o2"))
    assert(CommitLog.read(spark, root, "audit").count() === 1)
  }

  test("cfg-driven startLogged checkpoints its log every 64 versions; offset recovery replays only the tail") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.{CommitLog, GraftConfig}
    val out = Files.createTempDirectory("graft-cfg-ckpt").toString
    val cfg = GraftConfig(Map("flush.size" -> "1"))
    val root = cfg.topicsRoot(out)
    // a 63-version history: offsets 0..62, one file per version
    val hist = cfg.write((0L until 63L).map(o => (0L, o, s"p$o"))
      .toDF("part", "off", "payload"), out, "t")
    hist.map(c => StreamIngest.relPath(root, "t", c.path)).sorted
      .foreach(rel => CommitLog.publish(spark, root, "t", Seq(rel)))
    assert(CommitLog.latestVersion(spark, root, "t") === 62L)

    val s = MemoryStream[(Long, Long, String)]
    val q = StreamIngest.startLogged(s.toDF().toDF("part", "off", "payload"),
      out, "t", cfg, Files.createTempDirectory("graft-cfgc-ckpt").toString)
    for (o <- 63L to 64L) { s.addData((0L, o, s"p$o")); q.processAllAvailable() }
    q.stop()
    val f = CommitLog.fs(spark, root)
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$root/t/_commitlog/64.ckpt")))
    // versions below the checkpoint are no longer replayed: corrupting
    // the first one changes neither offset recovery nor the read
    val v0 = f.create(new org.apache.hadoop.fs.Path(s"$root/t/_commitlog/0"), true)
    try v0.write("not a log line\n".getBytes("UTF-8")) finally v0.close()
    assert(CommitLog.maxOffsets(spark, root, "t") === Map(0L -> 64L))
    assert(CommitLog.read(spark, root, "t").count() === 65)
  }

  test("hourly layout written through startLogged(cfg) reads back through read, asOf and readAddedSince") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ingest.{CommitLog, GraftConfig}
    val out = Files.createTempDirectory("graft-hourly-read").toString
    val cfg = GraftConfig(Map("flush.size" -> "10",
      "partitioner.class" -> "hourly"))
    val root = cfg.topicsRoot(out)
    def t(s: String) = Timestamp.valueOf(s)
    val s = MemoryStream[(Long, Long, Timestamp, String)]
    val q = StreamIngest.startLogged(
      s.toDF().toDF("part", "off", "timestamp", "payload"), out, "t", cfg,
      Files.createTempDirectory("graft-hourly-ckpt").toString)
    s.addData((0L, 0L, t("2026-03-01 10:10:00"), "a"),
      (0L, 1L, t("2026-03-01 11:10:00"), "b"),
      (1L, 0L, t("2026-03-01 10:20:00"), "c"))
    q.processAllAvailable()
    s.addData((1L, 1L, t("2026-03-01 12:05:00"), "d"),
      (0L, 2L, t("2026-03-01 11:40:00"), "e"))
    q.processAllAvailable()
    q.stop()
    assert(CommitLog.snapshot(spark, root, "t").forall(_.startsWith("year=")))

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"part", $"off", $"payload").as[(Long, Long, String)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
    val all = CommitLog.read(spark, root, "t")
    // the stream shape comes back: `part` from the committed names, no
    // columns from the encoded directories
    assert(all.columns.toSet === Set("part", "off", "timestamp", "payload"))
    assert(rows(all) === Seq((0L, 0L, "a"), (0L, 1L, "b"), (0L, 2L, "e"),
      (1L, 0L, "c"), (1L, 1L, "d")))
    assert(rows(CommitLog.read(spark, root, "t", asOf = 0L)) ===
      Seq((0L, 0L, "a"), (0L, 1L, "b"), (1L, 0L, "c")))
    assert(rows(CommitLog.readAddedSince(spark, root, "t", 0L)) ===
      Seq((0L, 2L, "e"), (1L, 1L, "d")))
  }
}
