package sinkbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ingest.{CommitLog, GraftConfig}
import graft.streaming.{DedupIngest, KafkaSource, StreamIngest}

/** The three streaming workloads. Inputs enter as Kafka envelopes
  * through a `MemoryStream` and `KafkaSource.normalize`, as a Kafka
  * source would hand them to the sink. */
object Streams {
  val T0Ms: Long = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
  /** Uneven partition shares: one hot partition at 40%. */
  val HotShares: Seq[Double] = Seq(40, 14, 11, 9, 8, 7, 6, 5)
  /** Mild skew for the backlog topics' partitions. */
  val BacklogShares: Seq[Double] = Seq(16, 14, 13, 12, 12, 11, 11, 11)

  def memoryStream(ctx: Ctx): MemoryStream[Env] = {
    import ctx.spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext
    MemoryStream[Env](ctx.o.cores)
  }

  def stop(q: StreamingQuery): Unit = {
    q.stop()
    q.awaitTermination(30000)
    ()
  }

  def parkUntil(rec: Rec, t: Double): Unit = {
    var left = t - rec.now()
    while (left > 0) {
      LockSupport.parkNanos((left * 1e9).toLong)
      left = t - rec.now()
    }
  }
}

/** `trickle`: an open-loop generator appends on a fixed schedule to one
  * hourly-partitioned topic whose commits run on the
  * `rotate.schedule.interval.ms` trigger. Freshness is each append's due
  * time to the end of the micro-batch that committed it. */
object Trickle {
  import Streams._

  /** The fixed open-loop rate: 20 rows every 50 ms (400 rows/s) against a
    * 3 s commit schedule (see README: "The fixed `trickle` rate"). */
  val IntervalMs = 3000
  val AppendMs = 50
  val RowsPerAppend = 20
  val WarmS = 6.0

  def run(ctx: Ctx): Map[String, Any] = {
    val o = ctx.o
    val rec = ctx.rec
    // a longer history is the restart-recovery probe of report.py
    val histVersions = o.int("history_versions", 120)
    val topic = "clicks"
    val out = ctx.dir("trickle")
    val props = Map(
      "flush.size" -> "100000",
      "partitioner.class" -> "hourly",
      "timestamp.extractor" -> "Record",
      "rotate.schedule.interval.ms" -> IntervalMs.toString)
    val cfg = GraftConfig(props)
    val root = cfg.topicsRoot(out)
    val appends = ((WarmS + o.seconds) * 1000 / AppendMs).toInt
    val histRows = histVersions * 40
    // record time spans ~4 hours over the history plus the timed input
    val totalRows = histRows + appends.toLong * RowsPerAppend
    val gen = new KafkaGen(o.seed, Seq(topic -> 1.0), HotShares, wide = false,
      T0Ms, 4 * 3600e3 / totalRows, lateShare = 0.02, redeliverShare = 0.0)

    // history: hundreds of small published versions, so publish and
    // restart recovery run against a long log from the first batch
    val hist = gen.next(histRows)
    val histCfg = GraftConfig(props.updated("flush.size", "40"))
    val (files, _) = rec.timed("history.write", ctx.phaseId, "")(histCfg.write(
      KafkaSource.normalize(Checks.frame(ctx.spark, hist)), out, topic))
    val rootPath = new org.apache.hadoop.fs.Path(s"$root/$topic").toUri.getPath
    files.map(f => new org.apache.hadoop.fs.Path(f.path).toUri.getPath
        .stripPrefix(rootPath).stripPrefix("/"))
      .sorted.foreach(rel => rec.timed("history.publish", ctx.phaseId, "")(
        CommitLog.publish(ctx.spark, root, topic, Seq(rel))))
    rec.set("history.files", files.size.toDouble)
    rec.set("history.bytes", files.map(f => java.nio.file.Files.size(java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(f.path).toUri.getPath))).sum.toDouble)

    val ms = memoryStream(ctx)
    val q = StreamIngest.startLogged(KafkaSource.normalize(ms.toDF()), out, topic,
      cfg, ctx.dir("trickle-ckpt"))

    // the schedule is generated up front; the generator thread only
    // sleeps to each due time and appends
    val (batches, _) = rec.timed("gen.schedule", ctx.phaseId, "")(
      Array.fill(appends)(gen.next(RowsPerAppend)))
    val log = mutable.ArrayBuffer.empty[Seq[Double]]
    // start on a trigger tick, so the timed window sits on the same part
    // of the trigger grid in every run. The wait for that tick is a
    // harness artefact, not set-up work: it is recorded and taken out of
    // `setup_s`
    val nowEpoch = System.currentTimeMillis()
    val firstEpoch = ((nowEpoch + 300) / IntervalMs + 1) * IntervalMs
    val ready = rec.now()
    val first = ready + (firstEpoch - nowEpoch) / 1e3
    val timedFrom = first + WarmS
    val genThread = new Thread("sinkbench-generator") {
      override def run(): Unit = batches.indices.foreach { i =>
        val due = first + i * AppendMs / 1e3
        parkUntil(rec, due)
        val off = ms.addData(batches(i).toSeq).toString.toLong
        log.synchronized { log += Seq(due, rec.now(), off.toDouble, RowsPerAppend.toDouble) }
        batches(i) = null
      }
    }
    genThread.start()
    rec.timed("align", ctx.phaseId, "")(parkUntil(rec, first))
    ctx.enter("warmup")
    parkUntil(rec, timedFrom)
    ctx.enter("timed")
    genThread.join()
    val lastOff = log.last(2).toLong
    // drain: the last append commits within a trigger or two
    val deadline = rec.now() + 20
    def done = rec.progress.asScala.exists(_.endOffset >= lastOff)
    while (!done && rec.now() < deadline) Thread.sleep(20)
    ctx.enter("check")
    stop(q)
    rec.check("trickle.drained", done, s"offset $lastOff never committed")
    if (o.corrupt) Checks.corrupt(ctx.spark, root, topic)
    val truth = gen.truth.collect { case ((_, p), t) => p -> t }
    val rows = Checks.committed(ctx, root, topic, truth, (_, _) => true,
      encoded = true)
    Checks.recover(ctx, root, topic)
    Checks.files(ctx, root, Seq(topic)).foreach { case (k, v) => rec.set(k, v) }
    rec.set("committed.rows", rows.toDouble)
    rec.set("gen.rows", gen.rows.toDouble)
    rec.set("gen.bytes", gen.bytes.toDouble)
    Map("appends" -> log.toSeq, "timed_from" -> timedFrom,
      "timed_to" -> (timedFrom + o.seconds), "interval_s" -> IntervalMs / 1e3,
      "align_wait_s" -> (first - ready),
      "query" -> q.id.toString, "history_rows" -> histRows)
  }
}

/** `backlog_demux`: a seeded three-topic backlog drained through the
  * multi-topic committer in fixed chunks, each handed over when the
  * previous `processAllAvailable` returns. */
object Backlog {
  import Streams._

  def run(ctx: Ctx): Map[String, Any] = {
    val o = ctx.o
    val rec = ctx.rec
    val chunkRows = 20000
    val warm = 2
    val pool = math.max(2, math.ceil(o.seconds).toInt)
    val topics = Seq("orders" -> 60.0, "payments" -> 30.0, "audit" -> 10.0)
    val cfg = GraftConfig(Map("flush.size" -> "1000"))
    val out = ctx.dir("backlog")
    val root = cfg.topicsRoot(out)
    val gen = new KafkaGen(o.seed, topics, BacklogShares, wide = true,
      T0Ms, 1.0, lateShare = 0.0, redeliverShare = 0.01)
    // per chunk, each (topic, partition)'s next offset after it: what the
    // sink must hold once that chunk is handed over
    val chunks = mutable.Queue.from((0 until warm + pool).map { _ =>
      val c = gen.next(chunkRows)
      (c, gen.truth.map { case (tp, t) => tp -> t.next })
    })
    val ms = memoryStream(ctx)
    val q = StreamIngest.startLoggedMulti(KafkaSource.normalize(ms.toDF()), out,
      cfg, ctx.dir("backlog-ckpt"))
    var handed = 0L
    var timedPhase = -1
    var bound = Map.empty[(String, Int), Long]
    def feed(phase: Int, k: Int): Unit = {
      val (chunk, after) = chunks.dequeue()
      bound = after
      val op = s"chunk$k"
      val id = rec.newId()
      val t0 = rec.now()
      rec.op {
        rec.timed("hand_off", id, op)(ms.addData(chunk.toSeq))
        q.processAllAvailable()
      }
      val t1 = rec.now()
      rec.record(id, phase, "batch", op, t0, t1)
      if (phase == timedPhase) {
        rec.add("batch_s", t1 - t0)
        handed += chunk.length
      }
    }
    val warmPhase = ctx.enter("warmup")
    (0 until warm).foreach(k => feed(warmPhase, k))
    timedPhase = ctx.enter("timed")
    val t0 = rec.now()
    var k = warm
    while (rec.now() - t0 < o.seconds && chunks.nonEmpty) { feed(timedPhase, k); k += 1 }
    val wall = rec.now() - t0
    ctx.enter("check")
    stop(q)
    rec.check("backlog.q_active", q.exception.isEmpty, q.exception.toString)
    if (o.corrupt) Checks.corrupt(ctx.spark, root, topics.head._1)
    var rows = 0L
    topics.foreach { case (t, _) =>
      val truth = gen.truth.collect { case ((tt, p), tr) if tt == t => p -> tr }
      rows += Checks.committed(ctx, root, t, truth,
        (p, off) => off < bound.getOrElse((t, p), 0L))
    }
    Checks.files(ctx, root, topics.map(_._1)).foreach { case (k, v) => rec.set(k, v) }
    rec.set("committed.rows", rows.toDouble)
    rec.set("timed.rows", handed.toDouble)
    rec.set("timed.wall_s", wall)
    rec.set("gen.rows", gen.rows.toDouble)
    rec.set("gen.bytes", gen.bytes.toDouble)
    Map("timed_from" -> t0, "timed_to" -> (t0 + wall), "query" -> q.id.toString,
      "chunks_timed" -> (k - warm))
  }
}

/** `gated_docs`: document chunks through the MinHash near-duplicate
  * admission gate; the committed corpus grows from empty over the timed
  * batches. JIT warm-up runs on a separate scratch topic. */
object Gated {
  import Streams._

  def run(ctx: Ctx): Map[String, Any] = {
    val o = ctx.o
    val rec = ctx.rec
    val chunkDocs = 1000
    val warm = 2
    val pool = math.max(12, math.ceil(o.seconds * 2).toInt)
    val topic = "docs"
    val flush = 100000

    def start(dir: String) = {
      val ms = memoryStream(ctx)
      val q = DedupIngest.startLoggedMinhashDeduped(KafkaSource.normalize(ms.toDF()),
        ctx.dir(dir), topic, flush, ctx.dir(s"$dir-ckpt"), textCol = "value")
      (ms, q)
    }

    // JIT warm-up on a scratch topic: same kernels, own corpus
    val warmGen = new DocGen(o.seed ^ 0x5eed, 0.05, 0.05)
    val (wms, wq) = start("gated-warm")
    val warmPhase = ctx.enter("warmup")
    (0 until warm).foreach { k =>
      rec.timed("batch", warmPhase, s"warm$k") {
        wms.addData(warmGen.chunk(chunkDocs, T0Ms).toSeq)
        wq.processAllAvailable()
      }
    }
    stop(wq)

    val gen = new DocGen(o.seed, 0.05, 0.05)
    val chunks = (0 until pool).map(k => gen.chunk(chunkDocs, T0Ms + k * 60000L))
    val (ms, q) = start("gated")
    val timedPhase = ctx.enter("timed")
    val t0 = rec.now()
    var k = 0
    var handed = 0L
    val corpus = mutable.ArrayBuffer.empty[Double]
    while (rec.now() - t0 < o.seconds && k < chunks.length) {
      val op = s"chunk$k"
      val id = rec.newId()
      val s0 = rec.now()
      rec.op {
        rec.timed("hand_off", id, op)(ms.addData(chunks(k).toSeq))
        q.processAllAvailable()
      }
      val s1 = rec.now()
      rec.record(id, timedPhase, "batch", op, s0, s1)
      rec.add("batch_s", s1 - s0)
      corpus += handed.toDouble
      handed += chunks(k).length
      k += 1
    }
    val wall = rec.now() - t0
    ctx.enter("check")
    stop(q)
    val root = ctx.dir("gated")
    if (o.corrupt) Checks.corrupt(ctx.spark, root, topic)
    val sent = gen.truth.map { case ((_, p), t) => p -> t.next }
    val have = CommitLog.read(ctx.spark, root, topic).select(col("part"), col("off"))
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1))).toSet
    // only chunks actually handed over can be committed
    val handedSet = (0 until k).flatMap(i => chunks(i).map(e => (e.partition, e.offset))).toSet
    val truth = gen.truth.collect { case ((_, p), t) => p -> t }
    val rows = Checks.committed(ctx, root, topic, truth,
      (p, off) => have.contains((p, off)))
    rec.check("gated.committed_were_sent", have.subsetOf(handedSet),
      s"${(have -- handedSet).take(3)}")
    val exactMissed = gen.exact.filter(x => handedSet(x) && have(x))
    rec.check("gated.exact_replays_dropped", exactMissed.isEmpty,
      s"${exactMissed.size} planted exact replays committed, e.g. ${exactMissed.take(3)}")
    val novelLost = gen.novel.filter(x => handedSet(x) && !have(x))
    rec.check("gated.novel_admitted", novelLost.isEmpty,
      s"${novelLost.size} novel documents dropped, e.g. ${novelLost.take(3)}")
    Checks.files(ctx, root, Seq(topic)).foreach { case (kk, v) => rec.set(kk, v) }
    val mh = java.nio.file.Paths.get(root, topic, "_mh")
    rec.set("gate.index_bytes_end",
      if (java.nio.file.Files.exists(mh)) {
        val w = java.nio.file.Files.walk(mh)
        try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size(_)).sum.toDouble finally w.close()
      } else 0.0)
    rec.set("committed.rows", rows.toDouble)
    rec.set("timed.rows", handed.toDouble)
    rec.set("timed.wall_s", wall)
    rec.set("gate.dropped", (handed - rows).toDouble)
    rec.set("gen.rows", (gen.rows + warmGen.rows).toDouble)
    rec.set("gen.bytes", (gen.bytes + warmGen.bytes).toDouble)
    if (o.trace) {
      // the signature kernels alone, over one chunk, outside the stream
      import graft.functions.{DedupFunctions => DF, TextFunctions => TF}
      val docs = Checks.frame(ctx.spark, chunks(0).toSeq)
        .select(col("offset").as("id"), col("value").cast("string").as("text"))
        .cache()
      docs.count()
      val h = call_function("hash60_md5", col("s").cast("binary")) % DF.MinhashPrime
      def sig() = docs.select(col("id"), explode(TF.shingles(TF.tokens(col("text")), 3)).as("s"))
        .select(col("id"), h.as("h")).groupBy(col("id"))
        .agg(DF.minhashAggExprs(col("h")).head, DF.minhashAggExprs(col("h")).tail: _*)
        .count()
      sig()
      val ts = (0 until 3).map(_ => rec.timed("functions.sig", ctx.phaseId, "")(sig())._2).sorted
      rec.set("functions.sig_s_per_krow", ts(1) / chunks(0).length * 1000)
      docs.unpersist()
    }
    Map("timed_from" -> t0, "timed_to" -> (t0 + wall), "query" -> q.id.toString,
      "corpus_rows" -> corpus.toSeq, "chunks_timed" -> k,
      "sent_per_partition" -> sent.map { case (p, n) => p.toString -> n })
  }

}
