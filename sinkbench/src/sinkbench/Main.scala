package sinkbench

import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{CommitLog, FileNaming}

/** Command-line options of one benchmark process (see `run.py`). */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, cores: Int, work: String, out: String,
                      corrupt: Boolean, params: Map[String, String]) {
  def int(k: String, d: Int): Int = params.get(k).map(_.toInt).getOrElse(d)
}

/** Shared state of a run: the session, the recorder and the workload's
  * span/phase bookkeeping. */
final class Ctx(val o: Opts, val spark: SparkSession, val rec: Rec) {
  val root: Int = rec.newId()
  private val rootStart = rec.now()
  private var phase = (0, "", 0.0)

  /** Enter a phase (setup → warmup → timed → check); returns its span id. */
  def enter(name: String): Int = {
    leave()
    phase = (rec.newId(), name, rec.now())
    phase._1
  }
  /** The span id of the current phase, parent of untimed layer calls. */
  def phaseId: Int = phase._1

  def leave(): Unit = if (phase._1 != 0) {
    rec.record(phase._1, root, phase._2, "", phase._3, rec.now())
    phase = (0, "", 0.0)
  }
  def finish(): Unit = {
    leave()
    rec.record(root, 0, o.workload, "", rootStart, rec.now())
  }

  def dir(name: String): String = s"${o.work}/$name"
}

object Main {

  /** The only knobs `--params` takes: the two probes of `report.py`. Every
    * other workload setting is a constant of the workload. */
  val Params: Set[String] = Set("history_versions", "maintain_every")

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("cores", "4").toInt,
      need("work"), need("out"), kv.getOrElse("corrupt", "0") == "1",
      kv.get("params").filter(_.nonEmpty).map(_.split(',').map { p =>
        val Array(k, v) = p.split('=')
        require(Params(k), s"unknown param '$k' (known: ${Params.mkString(", ")})")
        k -> v
      }.toMap).getOrElse(Map.empty))
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("sinkbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.default.parallelism", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.NativeExpressions.register(s)
    s
  }

  def run(ctx: Ctx): Map[String, Any] = ctx.o.workload match {
    case "trickle" => Trickle.run(ctx)
    case "backlog_demux" => Backlog.run(ctx)
    case "read_mix" => ReadMix.run(ctx)
    case "gated_docs" => Gated.run(ctx)
    case w => sys.error(s"unknown workload '$w'")
  }

  /** Short runs of every workload in one JVM: the class-loading profile
    * the build's class-data-sharing archive is dumped from. A failure here
    * fails the build, so no run silently goes without the archive. */
  def train(o: Opts, spark: SparkSession): Unit =
    Seq("trickle", "backlog_demux", "read_mix", "gated_docs").foreach { w =>
      val to = o.copy(workload = w, seconds = 1, work = s"${o.work}/$w",
        params = if (w == "trickle") Map("history_versions" -> "20") else Map.empty)
      val rec = new Rec(true)
      rec.install(spark)
      run(new Ctx(to, spark, rec))
      rec.close()
      require(rec.failed == 0, s"training run of $w failed its checks: ${rec.checks}")
    }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o)
    if (o.workload == "train") {
      // stop the session before an exception leaves, or its threads keep
      // the JVM alive
      try train(o, spark) finally spark.stop()
      return
    }
    val rec = new Rec(o.trace)
    rec.install(spark)
    val ctx = new Ctx(o, spark, rec)
    ctx.enter("setup")
    val extra =
      try run(ctx) catch {
        case e: Throwable =>
          e.printStackTrace()
          rec.synchronized { rec.failed += 1; rec.attempted += 1 }
          Map("error" -> e.toString)
      }
    ctx.finish()
    rec.quiesce()
    rec.set("jvm.gc_s", rec.gcSeconds())
    rec.set("jvm.live_heap_mb_peak", rec.heapPeakMb)
    rec.close()
    Files.write(Paths.get(o.out), rec.toJson(extra ++ Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "cores" -> o.cores, "trace" -> o.trace)).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Output checks shared by the workloads, and the corruption the
  * self-test plants to prove they bite. */
object Checks {
  private val nameRe = FileNaming.CommittedFilenameRegex.r

  /** (dir, partition, start, end) of each committed rel path. */
  def ranges(rels: Seq[String]): Seq[(String, Long, Long, Long)] =
    rels.map { rel =>
      val i = rel.lastIndexOf('/')
      rel.substring(i + 1) match {
        case nameRe(_, p, s, e, _) => (rel.substring(0, i + 1), p.toLong, s.toLong, e.toLong)
        case n => sys.error(s"not a committed file name: $n")
      }
    }

  /** No two live files of one (directory, partition) overlap in offset
    * range. Encoded (e.g. hourly) layouts legitimately hold overlapping
    * ranges in DIFFERENT directories when records arrive out of order, as
    * the reference's own time partitioners do, so the check is per
    * directory there. */
  def noOverlap(ctx: Ctx, topic: String, rels: Seq[String]): Unit = {
    val bad = ranges(rels).groupBy(r => (r._1, r._2)).toSeq.flatMap { case (k, fs) =>
      fs.sortBy(_._3).sliding(2).collect {
        case Seq(a, b) if b._3 <= a._4 => s"$k [${a._3},${a._4}] vs [${b._3},${b._4}]"
      }
    }
    ctx.rec.check(s"$topic.no_overlap", bad.isEmpty, bad.take(3).mkString("; "))
    ()
  }

  /** Committed rows of `topic` equal, per partition, exactly the truth's
    * offsets that `keep` admits, each once, with the generator's payload
    * checksum. Returns the committed row count. */
  def committed(ctx: Ctx, root: String, topic: String,
                truth: Map[Int, Truth], keep: (Int, Long) => Boolean,
                encoded: Boolean = false): Long = {
    val spark = ctx.spark
    val rels = CommitLog.snapshot(spark, root, topic)
    noOverlap(ctx, topic, rels)
    // `CommitLog.read` needs the `partition=<p>` layout (it renames that
    // directory column to `part`); an encoded layout's files carry no
    // partition column, so the snapshot's files are read directly and
    // the Kafka partition is parsed back out of each file name
    val frame =
      if (!encoded) CommitLog.read(spark, root, topic)
      else spark.read.parquet(rels.map(r => s"$root/$topic/$r"): _*)
        .withColumn("part", regexp_extract(col("_metadata.file_name"),
          FileNaming.CommittedFilenameRegex, 2).cast("long"))
    val got = frame
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n"), countDistinct(col("off")).as("d"),
        sum(col("off")).as("so"),
        sum(crc32(col("value").cast("binary"))).as("sc"))
      .collect().map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    var total = 0L
    truth.toSeq.sortBy(_._1).foreach { case (p, t) =>
      val offs = t.crc.keys.filter(o => keep(p, o))
      val want = (offs.size.toLong, offs.size.toLong, offs.sum,
        t.crcSum(o => keep(p, o)))
      val have = got.getOrElse(p, (0L, 0L, 0L, 0L))
      ctx.rec.check(s"$topic.p$p.offsets", have._1 == want._1 &&
        have._2 == want._2 && have._3 == want._3,
        s"rows/distinct/offset-sum $have vs $want")
      ctx.rec.check(s"$topic.p$p.checksum", have._4 == want._4,
        s"crc sum ${have._4} vs ${want._4}")
      total += have._1
    }
    ctx.rec.check(s"$topic.partitions", got.keySet.subsetOf(truth.keySet),
      s"unexpected partitions ${got.keySet -- truth.keySet}")
    total
  }

  /** Self-test: rewrite one live file in place with one row's payload
    * altered, as a torn or bit-rotted write would leave it. */
  def corrupt(spark: SparkSession, root: String, topic: String): Unit = {
    val rel = CommitLog.snapshot(spark, root, topic).head
    val path = s"$root/$topic/$rel"
    val df = spark.read.parquet(path)
    val victim = df.agg(min(col("off"))).head().getLong(0)
    val tmp = s"$root/.corrupt-tmp"
    df.withColumn("value", when(col("off") === victim, concat(col("value"), lit("~")))
        .otherwise(col("value")))
      .coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.delete(Paths.get(path))
    Files.deleteIfExists(Paths.get(path).resolveSibling(s".${Paths.get(path).getFileName}.crc"))
    Files.move(part, Paths.get(path))
    System.err.println(s"[sinkbench] corrupted offset $victim in $rel")
  }

  /** Filesystem walk after the run: live/orphan committed files, their
    * bytes, commit-log bytes and the live files' directories. */
  def files(ctx: Ctx, root: String, topics: Seq[String]): Map[String, Double] = {
    var live, orphan, liveBytes, logBytes = 0L
    val dirs = scala.collection.mutable.Set.empty[String]
    topics.foreach { t =>
      val base = Paths.get(root, t)
      val snap = CommitLog.snapshot(ctx.spark, root, t).toSet
      val walk = Files.walk(base)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p: JPath =>
        val rel = base.relativize(p).toString
        val name = p.getFileName.toString
        if (rel.startsWith("_commitlog/")) logBytes += Files.size(p)
        else if (name.matches(FileNaming.CommittedFilenameRegex)) {
          if (snap.contains(rel)) {
            live += 1; liveBytes += Files.size(p)
            dirs += s"$t/${Option(base.relativize(p).getParent).getOrElse("")}"
          } else orphan += 1
        }
      } finally walk.close()
    }
    Map("files.live" -> live.toDouble, "files.orphan" -> orphan.toDouble,
      "files.live_bytes" -> liveBytes.toDouble, "files.log_bytes" -> logBytes.toDouble,
      "files.partition_dirs" -> dirs.size.toDouble)
  }

  /** What a restart pays: offset recovery from the final log. */
  def recover(ctx: Ctx, root: String, topic: String): Unit = {
    val t = (0 until 3).map { _ =>
      ctx.rec.timed("recover", ctx.phaseId, "")(CommitLog.maxOffsets(ctx.spark, root, topic))._2
    }.sorted
    ctx.rec.set("commitlog.recover_s_end", t(1))
    ctx.rec.set("commitlog.versions_end",
      CommitLog.versions(ctx.spark, root, topic).size.toDouble)
  }

  def frame(spark: SparkSession, rows: Seq[Env]): DataFrame = {
    import spark.implicits._
    spark.createDataset(rows).toDF()
  }
}
