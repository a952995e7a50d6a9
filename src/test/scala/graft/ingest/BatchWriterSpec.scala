package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The reference's golden write→recover loop as one test
  * (`avro/DataWriterAvroTest.java:63-116`, `TestWithMiniDFSCluster
  * .java:309-344`): write records with flush.size splits, assert the
  * exact committed file layout, read contents back, restore offsets
  * from filenames, and resume without duplicates. Batch semantics
  * commit the tail file too (the reference holds it open until more
  * records arrive — a streaming-only distinction). */
class BatchWriterSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir() = Files.createTempDirectory("graft-batchwriter").toString

  private def records(parts: Seq[Long], offsetsPerPart: Long) =
    (for (p <- parts; o <- 0L until offsetsPerPart)
      yield (p, o, s"payload-$p-$o")).toDF("part", "off", "payload")

  test("golden file layout: 7 records, flush 3 → [0,2],[3,5],[6,6]") {
    val out = tmpDir()
    val df = records(Seq(12L), 7)
    val manifest = BatchWriter.write(df, out, "topic", flushSize = 3)
    assert(manifest.map(f => (f.startOffset, f.endOffset)) ===
      Seq((0L, 2L), (3L, 5L), (6L, 6L)))
    assert(BatchWriter.listCommitted(spark, out, "topic") === Seq(
      "topic+12+0000000000+0000000002.parquet",
      "topic+12+0000000003+0000000005.parquet",
      "topic+12+0000000006+0000000006.parquet"))
  }

  test("multi-partition write, read-back content, offset restore, resume") {
    val out = tmpDir()
    val df = records(Seq(0L, 1L, 2L), 5)
    BatchWriter.write(df, out, "events", flushSize = 2)

    // read-back: every payload survives, partition column from the path
    val back = BatchWriter.read(spark, out, "events")
    assert(back.count() === 15)
    assert(back.select(countDistinct(col("payload"))).as[Long].head() === 15)
    // partition pruning layout: partition=1 holds exactly its 5 rows
    assert(back.filter(col("part") === 1).count() === 5)

    // offset restore from filenames alone (reference recovery path)
    val maxOffs = BatchWriter.maxCommittedOffsets(spark, out, "events")
    assert(maxOffs === Map(0L -> 4L, 1L -> 4L, 2L -> 4L))

    // resume: replayed batch with old + new offsets → only new pass
    val replay = (for (p <- Seq(0L, 1L); o <- 3L to 6L)
      yield (p, o, s"payload-$p-$o")).toDF("part", "off", "payload")
    val fresh = BatchWriter.resumeFrom(replay, Map("events" -> maxOffs))
    assert(fresh.select(col("part"), col("off")).as[(Long, Long)].collect().toSet ===
      Set((0L, 5L), (0L, 6L), (1L, 5L), (1L, 6L)))
    // an unseen partition passes through untouched
    val newPart = Seq((9L, 0L, "x")).toDF("part", "off", "payload")
    assert(BatchWriter.resumeFrom(newPart, Map("events" -> maxOffs)).count() === 1)
  }

  test("writeMulti: one staging pass, per-topic committed layout + resume filter") {
    val out = tmpDir()
    // overlapping (part, off) across topics — routing must key on topic
    val df = (for (t <- Seq("alpha", "beta"); p <- Seq(0L); o <- 0L until 5L)
      yield (t, p, o, s"$t-$p-$o")).toDF("topic", "part", "off", "payload")
    val manifest = BatchWriter.writeMulti(df, out, flushSize = 3)
    assert(manifest.map(f => (f.topic, f.startOffset, f.endOffset)) === Seq(
      ("alpha", 0L, 2L), ("alpha", 3L, 4L), ("beta", 0L, 2L), ("beta", 3L, 4L)))
    assert(BatchWriter.listCommitted(spark, out, "alpha") === Seq(
      "alpha+0+0000000000+0000000002.parquet",
      "alpha+0+0000000003+0000000004.parquet"))
    assert(BatchWriter.listCommitted(spark, out, "beta") === Seq(
      "beta+0+0000000000+0000000002.parquet",
      "beta+0+0000000003+0000000004.parquet"))
    // read-back: content routed to the right topic, no topic column in files
    val alpha = BatchWriter.read(spark, out, "alpha")
    assert(alpha.select(col("payload")).as[String].collect().toSet ===
      (0L until 5L).map(o => s"alpha-0-$o").toSet)
    assert(!alpha.columns.contains("topic"))
    // staging fully cleaned
    assert(!new java.io.File(s"$out/+tmp").exists() ||
      new java.io.File(s"$out/+tmp").listFiles().isEmpty)

    // resumeFrom(byTopic): per-topic maps filter independently in one join
    val fresh = BatchWriter.resumeFrom(df,
      Map("alpha" -> Map(0L -> 2L), "beta" -> Map(0L -> 4L)), byTopic = true)
    assert(fresh.select(col("topic"), col("off")).as[(String, Long)]
      .collect().toSet === Set(("alpha", 3L), ("alpha", 4L)))
  }

  test("writeMulti demux parity: orc and csv land the same per-topic layout as parquet") {
    // r15 (verdict task #5): the two formats added in r14 as
    // single-topic roundtrips must ride the demux plane identically —
    // same one-pass staging, same committed names, right extensions
    for (fmt <- Seq("orc", "csv")) {
      val out = tmpDir()
      val ext = BatchWriter.Formats(fmt)
      val df = (for (t <- Seq("alpha", "beta"); o <- 0L until 5L)
        yield (t, 0L, o, s"$t-$o")).toDF("topic", "part", "off", "payload")
      val manifest = BatchWriter.writeMulti(df, out, flushSize = 3,
        format = fmt)
      assert(manifest.map(f => (f.topic, f.startOffset, f.endOffset)) === Seq(
        ("alpha", 0L, 2L), ("alpha", 3L, 4L),
        ("beta", 0L, 2L), ("beta", 3L, 4L)), s"format=$fmt")
      assert(BatchWriter.listCommitted(spark, out, "alpha") === Seq(
        s"alpha+0+0000000000+0000000002$ext",
        s"alpha+0+0000000003+0000000004$ext"), s"format=$fmt")
      // read-back: orc is self-describing; csv under an explicit
      // schema (the reference's schema-supplied read path)
      val schema = if (fmt == "csv") Some(org.apache.spark.sql.types
        .StructType(Seq(
          org.apache.spark.sql.types.StructField("off",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("payload",
            org.apache.spark.sql.types.StringType))))
      else None
      val beta = BatchWriter.read(spark, out, "beta", fmt, schema)
      assert(beta.select(col("payload")).as[String].collect().toSet ===
        (0L until 5L).map(o => s"beta-$o").toSet, s"format=$fmt")
      assert(!beta.columns.contains("topic"), s"format=$fmt")
    }
  }

  test("writeMulti rejects illegal topic names before ANY rename — no torn batch") {
    val out = tmpDir()
    // one good topic + one bad: the batch must commit NOTHING — a
    // per-entry check inside the rename loop would have committed
    // alpha's files before failing on the bad name
    val df = Seq(
      ("alpha", 0L, 0L, "a"), ("alpha", 0L, 1L, "b"),
      ("bad/topic", 0L, 0L, "x")).toDF("topic", "part", "off", "payload")
    val e = intercept[IllegalArgumentException] {
      BatchWriter.writeMulti(df, out, flushSize = 2)
    }
    assert(e.getMessage.contains("bad/topic"))
    assert(BatchWriter.listCommitted(spark, out, "alpha").isEmpty,
      "no file may commit when any topic in the batch is illegal")
    // staging cleaned on the validation failure
    assert(!new java.io.File(s"$out/+tmp/+multi").exists())
  }

  test("a non-clustered input is exchanged before staging: one file per key") {
    val out = tmpDir()
    // two single-partition frames: partition 0 lies wholly in the
    // first, partition 1 is split across both, so staged where it lies
    // its one key would be written by two tasks (RDD-backed, so the
    // optimizer cannot fold the union into one local relation)
    def frame(rows: (Long, Long, String)*) =
      spark.sparkContext.parallelize(rows, 1).toDF("part", "off", "payload")
    val first = frame((0L, 0L, "a"), (0L, 1L, "b"), (1L, 0L, "c"), (1L, 1L, "d"))
    val second = frame((1L, 2L, "e"), (1L, 3L, "f"))
    BatchWriter.write(first.union(second), out, "t", flushSize = 10)
    assert(BatchWriter.listCommitted(spark, out, "t") === Seq(
      "t+0+0000000000+0000000001.parquet",
      "t+1+0000000000+0000000003.parquet"))
    assert(BatchWriter.read(spark, out, "t").select(col("payload")).as[String]
      .collect().sorted.toSeq === Seq("a", "b", "c", "d", "e", "f"))
    assert(!new java.io.File(s"$out/+tmp/t").exists())
  }

  test("clustered and shuffled inputs commit the same files; the clustered staging job has no exchange") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val rows = records(Seq(0L, 1L, 2L), 7)
    // pinned, so the staging job reads the clustering from the cache
    // and any exchange in its plan is the writer's own
    val byPart = rows.repartition(2, col("part")).persist()
    byPart.count()
    val helper = new AdaptiveSparkPlanHelper {}
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (helper.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          writes.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the staging job's exchanges; the listener bus is asynchronous, so
    // wait for the write's event
    def stagingExchanges(write: => Seq[BatchWriter.CommittedFile]) = {
      writes.clear()
      val manifest = write
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (writes.isEmpty) {
        assert(System.nanoTime() < deadline, "no write event")
        Thread.sleep(20)
      }
      assert(writes.size === 1, "one staging job per write")
      (manifest, helper.collectWithSubqueries(writes.peek()) { case e: Exchange => e }.size)
    }
    spark.listenerManager.register(listener)
    try {
      val (outC, outS) = (tmpDir(), tmpDir())
      val (mC, exC) = stagingExchanges(
        BatchWriter.write(byPart, outC, "t", flushSize = 3))
      val (mS, exS) = stagingExchanges(
        BatchWriter.write(rows.repartition(3), outS, "t", flushSize = 3))
      assert(exC === 0, "the clustered write stages where its input lies")
      assert(exS > 0, "the shuffled write is exchanged by the staging key")
      def shape(m: Seq[BatchWriter.CommittedFile]) = m.map(f => (f.partition,
        f.fileIdx, f.startOffset, f.endOffset, new org.apache.hadoop.fs.Path(f.path).getName))
      assert(shape(mC) === shape(mS))
      assert(shape(mC).map(_._5) === (for (p <- 0 to 2; (s, e) <- Seq((0L, 2L), (3L, 5L), (6L, 6L)))
        yield FileNaming.encodeName("t", p, s, e, ".parquet")))
      assert(BatchWriter.listCommitted(spark, outC, "t") ===
        BatchWriter.listCommitted(spark, outS, "t"))
    } finally {
      spark.listenerManager.unregister(listener)
      byPart.unpersist()
      ()
    }
  }

  test("a staging job that fails once: the retry's manifest holds each key once") {
    val out = tmpDir()
    val topics = Seq("alpha", "beta", "gamma")
    val df = (for (t <- topics; p <- 0L to 1L; o <- 0L until 5L)
      yield (t, p, o, s"$t-$p-$o")).toDF("topic", "part", "off", "payload")
    FailOnce.armed.set(true)
    val failOnce = udf { (v: String) =>
      if (org.apache.spark.TaskContext.getPartitionId() == 1 &&
        FailOnce.armed.getAndSet(false))
        throw new java.io.IOException("injected staging failure")
      v
    }.asNondeterministic()
    // the UDF runs after the exchange, inside the staging job's tasks
    val input = df.repartition(4, col("topic"), col("part"))
      .withColumn("payload", failOnce(col("payload")))
    val manifest = Retry.withBackoff(2, 0) {
      BatchWriter.writeMulti(input, out, flushSize = 3)
    }
    assert(!FailOnce.armed.get(), "the first attempt must have failed")
    val golden = for (t <- topics; p <- 0 to 1; (s, e) <- Seq((0L, 2L), (3L, 4L)))
      yield FileNaming.encodeName(t, p, s, e, ".parquet")
    val keys = manifest.map(f => (f.topic, f.partition, f.fileIdx))
    assert(keys.distinct.size === keys.size, s"a key twice: $keys")
    assert(manifest.map(f => new org.apache.hadoop.fs.Path(f.path).getName) === golden)
    assert(topics.flatMap(BatchWriter.listCommitted(spark, out, _)) === golden)
    assert(topics.flatMap(t => BatchWriter.read(spark, out, t)
      .select(col("payload")).as[String].collect()).sorted ===
      df.select(col("payload")).as[String].collect().sorted)
  }

  test("planCompaction sizes groups by per-file spans, not gap-inclusive group span") {
    // retention-expired gap 10..99: the gap holds no records, so the
    // two 10-record files must land in ONE group (the old end-start
    // sizing counted the 90 missing offsets and closed an undersized
    // group at the first file)
    val plan = BatchWriter.planCompaction(Seq(
      BatchWriter.CompactFile(0, 0, 9, "a"),
      BatchWriter.CompactFile(0, 100, 109, "b")), targetRecords = 20)
    assert(plan.groups.map(_.files) === Seq(List("a", "b")))
    assert(plan.groups.head.start === 0L && plan.groups.head.end === 109L)
  }

  test("planCompaction refuses partially overlapping ranges (encoded layouts)") {
    // containment heals (crashed-compaction leftovers) ...
    val healed = BatchWriter.planCompaction(Seq(
      BatchWriter.CompactFile(0, 0, 9, "big"),
      BatchWriter.CompactFile(0, 0, 2, "src1"),
      BatchWriter.CompactFile(0, 3, 5, "src2")), targetRecords = 100)
    assert(healed.subsumed.map(_.name) === Seq("src1", "src2"))
    // ... but PARTIAL overlap means interleaved encoded-partition
    // offsets — healing would delete live data, so it must refuse
    val e = intercept[IllegalArgumentException] {
      BatchWriter.planCompaction(Seq(
        BatchWriter.CompactFile(0, 0, 4, "click"),
        BatchWriter.CompactFile(0, 1, 5, "view")), targetRecords = 100)
    }
    assert(e.getMessage.contains("partially overlapping"))
  }

  test("compact works with a RELATIVE outDir (layout guard must qualify paths)") {
    val rel = s"target/graft-rel-${java.util.UUID.randomUUID()}"
    try {
      BatchWriter.write(records(Seq(0L), 4), rel, "t", flushSize = 1)
      val committed = BatchWriter.compact(spark, rel, "t", targetRecords = 4)
      assert(committed.map(f => (f.startOffset, f.endOffset)) === Seq((0L, 3L)))
      assert(BatchWriter.read(spark, rel, "t").count() === 4)
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(rel), true)
      ()
    }
  }

  test("write is idempotent redo: re-running the same write commits nothing new") {
    val out = tmpDir()
    val df = records(Seq(3L), 4)
    val m1 = BatchWriter.write(df, out, "t", flushSize = 2)
    val m2 = BatchWriter.write(df, out, "t", flushSize = 2)
    assert(m1.map(_.path) === m2.map(_.path))
    assert(BatchWriter.listCommitted(spark, out, "t").size === 2)
    assert(BatchWriter.read(spark, out, "t").count() === 4)
  }

  test("temp staging directory is cleaned up after commit") {
    val out = tmpDir()
    BatchWriter.write(records(Seq(0L), 3), out, "t", flushSize = 2)
    // the topic's own staging dir is removed; the shared +tmp root may
    // remain (other topics could be staging under it)
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/+tmp/t")))
  }

  test("json format roundtrips records with .json committed names (B3)") {
    val out = tmpDir()
    BatchWriter.write(records(Seq(0L), 4), out, "t", flushSize = 2, format = "json")
    assert(BatchWriter.listCommitted(spark, out, "t").forall(_.endsWith(".json")))
    val back = BatchWriter.read(spark, out, "t", format = "json")
    assert(back.count() === 4)
    assert(back.columns.toSet === Set("part", "off", "payload"))
  }

  test("orc format roundtrips records with .orc committed names") {
    val out = tmpDir()
    BatchWriter.write(records(Seq(0L, 2L), 3), out, "t", flushSize = 2, format = "orc")
    assert(BatchWriter.listCommitted(spark, out, "t").forall(_.endsWith(".orc")))
    val back = BatchWriter.read(spark, out, "t", format = "orc")
    assert(back.count() === 6)
    assert(back.columns.toSet === Set("part", "off", "payload"))
  }

  test("text format writes one value per line into .txt files (B4)") {
    val out = tmpDir()
    BatchWriter.write(records(Seq(0L), 4), out, "t", flushSize = 4, format = "text")
    assert(BatchWriter.listCommitted(spark, out, "t") ===
      Seq("t+0+0000000000+0000000003.txt"))
    val lines = BatchWriter.read(spark, out, "t", format = "text")
    assert(lines.count() === 4)
    // offset order preserved within the file
    assert(lines.select("value").as[String].collect().toSeq ===
      (0 to 3).map(o => s"payload-0-$o"))
  }

  test("csv format roundtrips with an explicit read schema (B5-B7 analog)") {
    import org.apache.spark.sql.types._
    val out = tmpDir()
    BatchWriter.write(records(Seq(1L), 3), out, "t", flushSize = 2, format = "csv")
    val schema = StructType(Seq(
      StructField("off", LongType), StructField("payload", StringType)))
    val back = BatchWriter.read(spark, out, "t", format = "csv", schema = Some(schema))
    assert(back.count() === 3)
  }

  test("commit cleanup touches only the writing topic's staging dir") {
    val out = tmpDir()
    // leave another topic's staging files in the shared +tmp root
    val other = java.nio.file.Paths.get(s"$out/+tmp/other-topic")
    Files.createDirectories(other)
    Files.writeString(other.resolve("inflight.parquet"), "x")
    BatchWriter.write(records(Seq(0L), 3), out, "t", flushSize = 2)
    assert(Files.exists(other.resolve("inflight.parquet")),
      "concurrent topic's staged data must survive another topic's commit")
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/+tmp/t")))
  }

  test("write/read paths force the NaN-safe cached-batch conf in a consumer session") {
    // a library consumer's own SparkSession might leave Spark's
    // cached-batch stats pruning ON (the default) — which drops NaN
    // rows from persisted filtered frames. The library's write and
    // read chokepoints must flip it without builder cooperation.
    val key = SessionSafety.CachedPruningKey
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      BatchWriter.write(records(Seq(0L), 2), tmpDir(), "t", 2)
      assert(spark.conf.get(key) === "false",
        "BatchWriter.write must disable NaN-dropping cache pruning")
      spark.conf.set(key, "true")
      val out = tmpDir()
      CommitLog.writeLogged(records(Seq(0L), 2), out, "t", 2)
      spark.conf.set(key, "true")
      CommitLog.read(spark, out, "t").collect()
      assert(spark.conf.get(key) === "false",
        "CommitLog.read must disable NaN-dropping cache pruning")
    } finally spark.conf.set(key, prev)
  }

  test("avro names the missing module; unknown formats rejected") {
    val out = tmpDir()
    val e = intercept[IllegalArgumentException] {
      BatchWriter.write(records(Seq(0L), 2), out, "t", 2, format = "avro")
    }
    assert(e.getMessage.contains("spark-avro"))
    intercept[IllegalArgumentException] {
      BatchWriter.write(records(Seq(0L), 2), out, "t", 2, format = "orc2")
    }
  }
}

/** Arms a one-shot staging-task failure (local mode: executors share
  * the test JVM). */
private object FailOnce {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
