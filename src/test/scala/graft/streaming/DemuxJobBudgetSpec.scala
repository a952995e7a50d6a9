package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite
import graft.ingest.{BatchWriter, CommitLog, FileNaming, GraftConfig}

/** The multi-topic demux loop's per-micro-batch Spark job budget, and
  * the committed file boundaries that budget must not move.
  *
  * A micro-batch of `StreamIngest.startLoggedMulti` (default formats)
  * costs one payload exchange and at most 3 jobs: no pinned frame, no
  * per-batch topic-roster job, no extra persists, and the size
  * rotation's first offset computed inside each task. The file names
  * for a fixed seeded input are pinned against a golden list, so the
  * in-task first offset cannot shift a file boundary. */
class DemuxJobBudgetSpec extends SparkSuite {

  private val Topics = Seq("alpha", "beta", "gamma")
  private val T0 = Timestamp.valueOf("2026-03-01 10:00:00").getTime

  private type Rec = (String, Long, Long, Timestamp, String)

  /** Record time is a function of the offset, so a redelivery carries
    * its original time; every fourth record runs a little early (out of
    * order), and 60 s rotation buckets are crossed every few offsets. */
  private def rec(t: String, p: Long, o: Long): Rec =
    (t, p, o, new Timestamp(T0 + (o * 13 - (o % 4) * 9) * 1000L), s"$t-$p-$o")

  /** Seeded chunks over three topics and two partitions: each
    * (topic, part) advances 2–6 offsets per chunk, and about one record
    * in eight is delivered again, in its own chunk or replayed into the
    * next one. */
  private def chunks(seed: Long, n: Int): Seq[Seq[Rec]] = {
    val rnd = new Random(seed)
    val next = scala.collection.mutable.Map[(String, Long), Long]()
      .withDefaultValue(0L)
    var prev = Seq.empty[Rec]
    (1 to n).map { _ =>
      val fresh = for (t <- Topics; p <- 0L to 1L; _ <- 1 to 2 + rnd.nextInt(5))
        yield { val o = next((t, p)); next((t, p)) = o + 1; rec(t, p, o) }
      val again = (prev ++ fresh).filter(_ => rnd.nextInt(8) == 0)
      prev = fresh
      rnd.shuffle(fresh ++ again)
    }
  }

  /** Run the seeded chunks through one demux query, one micro-batch per
    * chunk; returns the jobs each micro-batch ran. */
  private def runBudgeted(start: (org.apache.spark.sql.DataFrame, String) =>
                            org.apache.spark.sql.streaming.StreamingQuery)
      : Map[Long, Int] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val log = new JobLog(spark)
    spark.sparkContext.addSparkListener(log)
    try {
      val s = MemoryStream[Rec]
      val q = start(s.toDF().toDF("topic", "part", "off", "timestamp", "payload"),
        Files.createTempDirectory("graft-budget-ckpt").toString)
      try chunks(20261019L, 3).foreach { c => s.addData(c: _*); q.processAllAvailable() }
      finally q.stop()
      log.perBatch(q.id.toString)
    } finally spark.sparkContext.removeSparkListener(log)
  }

  /** Every (topic, part, off) produced is committed exactly once. */
  private def assertExactlyOnce(root: String): Unit = {
    import spark.implicits._
    val produced = chunks(20261019L, 3).flatten.map(r => (r._1, r._2, r._3)).toSet
    Topics.foreach { t =>
      val back = CommitLog.read(spark, root, t)
        .select($"part", $"off").as[(Long, Long)].collect()
      val expected = produced.collect { case (`t`, p, o) => (p, o) }
      assert(back.length === expected.size, s"$t: dup or loss")
      assert(back.toSet === expected, t)
    }
  }

  /** Committed file names, from `<topic>+<part>: <start>-<end> ...`
    * lines (every range is a whole file). */
  private def golden(spec: String): Seq[String] =
    spec.trim.linesIterator.toSeq.flatMap { line =>
      val Array(key, ranges) = line.trim.split(": ")
      val Array(t, p) = key.split('+')
      ranges.split(' ').toSeq.map { r =>
        val Array(s, e) = r.split('-')
        FileNaming.encodeName(t, p.toInt, s.toLong, e.toLong, ".parquet")
      }
    }.sorted

  private def committedNames(root: String): Seq[String] =
    Topics.flatMap(t => BatchWriter.listCommitted(spark, root, t)).sorted

  /** The golden-spec rendering of committed names (the failure clue). */
  private def render(names: Seq[String]): String = {
    val re = FileNaming.CommittedFilenameRegex.r
    names.collect { case re(t, p, s, e, _) => (s"$t+$p", s.toLong, e.toLong) }
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (k, rs) =>
        s"$k: " + rs.sortBy(_._2).map(r => s"${r._2}-${r._3}").mkString(" ")
      }.mkString("\n", "\n", "\n")
  }

  private def assertGolden(root: String, spec: String): Unit = {
    val names = committedNames(root)
    assert(names === golden(spec), render(names))
  }

  private def assertBudget(jobs: Map[Long, Int]): Unit = {
    assert(jobs.keySet === Set(0L, 1L, 2L), s"one micro-batch per chunk: $jobs")
    assert(jobs.values.max <= 3, s"jobs per micro-batch over budget: $jobs")
  }

  test("size rotation: at most 3 jobs per micro-batch, golden file boundaries") {
    val out = Files.createTempDirectory("graft-budget-size").toString
    val jobs = runBudgeted((df, ckpt) =>
      StreamIngest.startLoggedMulti(df, out, flushSize = 3, ckpt))
    assertExactlyOnce(out)
    assertGolden(out, SizeGolden)
    assertBudget(jobs)
  }

  test("rotationBucket: at most 3 jobs per micro-batch, golden file boundaries") {
    val cfg = GraftConfig(Map("flush.size" -> "3",
      "rotate.interval.ms" -> "60000"))
    val out = Files.createTempDirectory("graft-budget-bucket").toString
    val jobs = runBudgeted((df, ckpt) =>
      StreamIngest.startLoggedMulti(df, out, cfg, ckpt))
    assertExactlyOnce(cfg.topicsRoot(out))
    assertGolden(cfg.topicsRoot(out), BucketGolden)
    assertBudget(jobs)
  }

  private val SizeGolden = """
    alpha+0: 0-1 2-4 5-6 7-9
    alpha+1: 0-2 3-5 6-6 7-9 10-11
    beta+0: 0-2 3-5 6-7 8-10
    beta+1: 0-2 3-4 5-6 7-8
    gamma+0: 0-2 3-4 5-7 8-9 10-11
    gamma+1: 0-2 3-4 5-6 7-8
  """

  private val BucketGolden = """
    alpha+0: 0-1 2-4 5-5 6-6 7-9
    alpha+1: 0-2 3-5 6-6 7-9 10-11
    beta+0: 0-2 3-5 6-7 8-10
    beta+1: 0-2 3-4 5-5 6-6 7-8
    gamma+0: 0-2 3-4 5-5 6-8 9-9 10-11
    gamma+1: 0-2 3-4 5-5 6-6 7-8
  """
}
