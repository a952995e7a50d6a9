package sinkbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Everything one run measures, kept in memory and dumped as raw JSON at
  * the end; the statistics (percentiles, self times, ratios) are computed
  * by `sinkbench/metrics.py` so they can be unit-tested without Spark.
  *
  * Times are seconds since the JVM started (the process start `setup_s`
  * is measured from), from one wall clock, so listener events (epoch
  * millis) and harness spans (nanoTime) share a time axis. */
final class Rec(val trace: Boolean) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Seconds since JVM start, now. */
  def now(): Double =
    (epoch0 - jvmStartMs) / 1e3 + (System.nanoTime() - nano0) / 1e9

  /** Seconds since JVM start of an epoch-millis listener timestamp. */
  def ofEpochMs(ms: Long): Double = (ms - jvmStartMs) / 1e3

  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def add(k: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v; ()
  }
  def set(k: String, v: Double): Unit = synchronized { values(k) = v }

  /** One output or op check: counts as an attempted op, and as a failed
    * one when it does not hold. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    synchronized {
      attempted += 1
      if (!ok) { failed += 1; checks += ((name, ok, detail)) }
    }
    if (!ok) System.err.println(s"[sinkbench] CHECK FAILED $name: $detail")
    ok
  }

  /** An op the workload attempted (batch, read, append, maintenance
    * call); an exception fails it and is rethrown. */
  def op[T](body: => T): T = {
    synchronized { attempted += 1 }
    try body catch {
      case e: Throwable => synchronized { failed += 1 }; throw e
    }
  }

  // ---- spans ---------------------------------------------------------
  final case class Span(id: Int, parent: Int, name: String, op: String,
                        start: Double, end: Double)
  private val spanQ = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)

  def newId(): Int = nextId.getAndIncrement()

  def record(id: Int, parent: Int, name: String, op: String,
             start: Double, end: Double): Unit = {
    spanQ.add(Span(id, parent, name, op, start, end)); ()
  }

  /** Time `body` as a span; returns the result and its wall seconds. */
  def timed[T](name: String, parent: Int, op: String, id: Int = -1)
              (body: => T): (T, Double) = {
    val sid = if (id > 0) id else newId()
    val t0 = now()
    val r = body
    val t1 = now()
    record(sid, parent, name, op, t0, t1)
    (r, t1 - t0)
  }

  def spans: Seq[Span] = spanQ.asScala.toSeq

  // ---- listener data -------------------------------------------------
  /** One finished micro-batch as its progress event reports it; `startMs`
    * is its trigger start in epoch millis, the axis the trigger grid is
    * laid on. */
  final case class Progress(query: String, batchId: Long, start: Double,
                            startMs: Long, rows: Long, durations: Map[String, Long],
                            startOffset: Long, endOffset: Long)
  val progress = new ConcurrentLinkedQueue[Progress]()

  /** One Spark job, with the task totals of its stages. */
  final class Job(val id: Int, val op: String, val start: Double) {
    var end: Double = start
    var tasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var outputBytes = 0L
    var spillBytes = 0L
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  @volatile private var lastEvent = System.nanoTime()

  private def offsetOf(json: String): Long =
    if (json == null || json.isEmpty || json == "null") -1L
    else json.trim.stripPrefix("\"").stripSuffix("\"").toLong

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      lastEvent = System.nanoTime()
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      // idle progress reports carry no addBatch: nothing was committed
      if (d.contains("addBatch") && p.sources.nonEmpty) {
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        progress.add(Progress(p.id.toString, p.batchId, ofEpochMs(startMs),
          startMs, p.numInputRows, d, offsetOf(p.sources.head.startOffset),
          offsetOf(p.sources.head.endOffset)))
      }
    }
  }

  /** Attributes each job to the op that caused it: the streaming batch
    * (query id + batch id local properties) or the job group the
    * harness sets around a read. */
  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEvent = System.nanoTime()
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // a streaming batch's jobs also carry the query's run id as their
      // job group, so the batch properties are consulted first
      val op = (for (q <- prop("sql.streaming.queryId");
                     b <- prop("streaming.sql.batchId")) yield s"batch:$q:$b")
        .orElse(prop("spark.jobGroup.id")).getOrElse("")
      val j = new Job(e.jobId, op, ofEpochMs(e.time))
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEvent = System.nanoTime()
      Option(jobs.get(e.jobId)).foreach(_.end = ofEpochMs(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEvent = System.nanoTime()
      val j = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.outputBytes += m.outputMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.streams.addListener(streamListener)
    if (trace) spark.sparkContext.addSparkListener(sparkListener)
  }

  /** The listener bus is asynchronous: wait until no event has arrived
    * for `quietMs` (bounded), so the last batch's events are in. */
  def quiesce(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEvent < quietMs * 1000000L &&
      System.nanoTime() < deadline) Thread.sleep(20)
  }

  // ---- JVM ----------------------------------------------------------
  @volatile var heapPeakMb = 0.0
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  /** Samples post-GC heap occupancy (what the last collection of each
    * heap pool left live) every 100 ms while the run lasts. */
  private val sampler = new Thread("sinkbench-heap") {
    override def run(): Unit =
      try while (true) {
        val live = heapPools.flatMap(p => Option(p.getCollectionUsage))
          .map(_.getUsed).sum / 1048576.0
        if (live > heapPeakMb) heapPeakMb = live
        Thread.sleep(100)
      } catch { case _: InterruptedException => () }
  }
  sampler.setDaemon(true)
  sampler.start()

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def close(): Unit = { sampler.interrupt(); sampler.join() }

  // ---- output -------------------------------------------------------
  def toJson(extra: Map[String, Any]): String = {
    val b = new StringBuilder
    def str(s: String): Unit = {
      b += '"'
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      b += '"'
    }
    def num(d: Double): Unit =
      if (d.isNaN || d.isInfinite) b ++= "null" else b ++= d.toString
    def any(v: Any): Unit = v match {
      case s: String => str(s)
      case d: Double => num(d)
      case f: Float => num(f.toDouble)
      case n: Int => b ++= n.toString
      case n: Long => b ++= n.toString
      case z: Boolean => b ++= z.toString
      case m: collection.Map[_, _] =>
        b += '{'
        m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) b += ','
          str(k.toString); b += ':'; any(x)
        }
        b += '}'
      case s: Iterable[_] =>
        b += '['
        s.iterator.zipWithIndex.foreach { case (x, i) =>
          if (i > 0) b += ','; any(x)
        }
        b += ']'
      case p: Product => any(p.productIterator.toSeq)
      case null => b ++= "null"
      case other => str(other.toString)
    }
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Map("id" -> j.id, "op" -> j.op, "start" -> j.start, "end" -> j.end,
        "tasks" -> j.tasks, "run_s" -> j.runMs / 1e3, "gc_s" -> j.gcMs / 1e3,
        "shuffle_bytes" -> j.shuffleBytes, "output_bytes" -> j.outputBytes,
        "spill_bytes" -> j.spillBytes)
    }
    val ps = progress.asScala.toSeq.sortBy(p => (p.start, p.batchId)).map { p =>
      Map("query" -> p.query, "batch" -> p.batchId, "start" -> p.start,
        "start_ms" -> p.startMs, "rows" -> p.rows, "durations" -> p.durations,
        "start_offset" -> p.startOffset, "end_offset" -> p.endOffset)
    }
    val ss = spans.sortBy(_.id).map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "op" -> s.op, "start" -> s.start, "end" -> s.end))
    any(Map(
      "samples" -> samples, "values" -> values,
      "attempted" -> attempted, "failed" -> failed,
      "failed_checks" -> checks.map(c => Map("name" -> c._1, "detail" -> c._3)),
      "progress" -> ps, "jobs" -> js, "spans" -> ss) ++ extra)
    b.toString
  }
}
