package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSuite
import graft.ingest.{CommitLog, GraftConfig}
import graft.operators.LinearClassifier

/** The single-topic commit loop's per-micro-batch Spark job budget, and
  * the committed file names that budget must not move.
  *
  * The budgets start from the job counts of the loop before it was
  * shared with the multi-topic and gated loops: `startLogged(cfg)` on an
  * hourly layout ran 9/10/10 jobs, the quality gate 8/9/9 and the
  * blocklist gate 13/14/14. Sharing the loop took the hourly loop to
  * 8/9/9 and each gate at least one job lower (the admitted frame is no
  * longer probed for emptiness before the write). The staging write
  * then stopped pinning its frame and reports its own offset ranges,
  * which removed the cache-build job and the manifest job from every
  * micro-batch: 6/7/7, 5/6/6 and 6/7/7. The writers then read the
  * batch's clustering from its plan: the rotation's first offset is
  * computed inside the staging tasks (no aggregate job, no broadcast
  * job) and the staging write rides the loop's exchange (no second map
  * stage). Each budget is the count measured with that change. */
class SingleTopicJobBudgetSpec extends SparkSuite {

  private type Rec = (Long, Long, Timestamp, String)
  private val T0 = Timestamp.valueOf("2026-03-01 09:40:00").getTime

  /** Seeded chunks over two partitions: each partition advances 3–7
    * offsets per chunk, record time steps about 11 minutes per offset
    * (so files cross hour directories), and about one record in eight
    * is delivered again. Every chunk carries new records. */
  private def chunks(seed: Long, n: Int, text: Long => String): Seq[Seq[Rec]] = {
    val rnd = new Random(seed)
    val next = Array(0L, 0L)
    var prev = Seq.empty[Rec]
    (1 to n).map { _ =>
      val fresh = for (p <- 0 to 1; _ <- 1 to 3 + rnd.nextInt(5)) yield {
        val o = next(p); next(p) = o + 1
        (p.toLong, o, new Timestamp(T0 + (o * 11 + p * 7) * 60000L), text(o))
      }
      val again = (prev ++ fresh).filter(_ => rnd.nextInt(8) == 0)
      prev = fresh
      rnd.shuffle(fresh ++ again)
    }
  }

  /** Run the chunks through one query, one micro-batch per chunk;
    * returns the jobs each micro-batch ran. */
  private def runBudgeted(input: Seq[Seq[Rec]],
                          start: (DataFrame, String) => StreamingQuery)
      : Map[Long, Int] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val log = new JobLog(spark)
    spark.sparkContext.addSparkListener(log)
    try {
      val s = MemoryStream[Rec]
      val q = start(s.toDF().toDF("part", "off", "timestamp", "text"),
        Files.createTempDirectory("graft-budget1-ckpt").toString)
      try input.foreach { c => s.addData(c: _*); q.processAllAvailable() }
      finally q.stop()
      log.perBatch(q.id.toString)
    } finally spark.sparkContext.removeSparkListener(log)
  }

  /** Each micro-batch within its own budget. */
  private def assertWithin(jobs: Map[Long, Int], budget: Map[Long, Int]): Unit = {
    assert(jobs.keySet === budget.keySet, s"one micro-batch per chunk: $jobs")
    budget.foreach { case (b, n) =>
      assert(jobs(b) <= n, s"batch $b over its budget of $n: $jobs")
    }
  }

  test("startLogged(cfg), hourly: no more jobs per micro-batch, golden committed names") {
    val cfg = GraftConfig(Map("flush.size" -> "3",
      "partitioner.class" -> "hourly", "timestamp.field" -> "timestamp"))
    val out = Files.createTempDirectory("graft-budget1-hourly").toString
    val input = chunks(20261019L, 3, o => s"p$o")
    val jobs = runBudgeted(input, (df, ckpt) =>
      StreamIngest.startLogged(df, out, "t", cfg, ckpt))
    val root = cfg.topicsRoot(out)
    import spark.implicits._
    val back = CommitLog.read(spark, root, "t")
      .select($"part", $"off").as[(Long, Long)].collect()
    val produced = input.flatten.map(r => (r._1, r._2)).toSet
    assert(back.length === produced.size, "dup or loss")
    assert(back.toSet === produced)
    val names = CommitLog.snapshot(spark, root, "t").sorted
    assert(names === HourlyGolden, names.mkString("\n", "\n", "\n"))
    // 6, 7 and 7 jobs with the first-offset aggregate and a staging exchange
    assertWithin(jobs, Map(0L -> 2, 1L -> 3, 2L -> 3))
  }

  test("quality gate: at least one job fewer per non-empty micro-batch") {
    import spark.implicits._
    val buckets = 256
    val docs = Seq(1L -> "good fine nice", 2L -> "bad awful").toDF("doc_id", "text")
    val weights = LinearClassifier.collectWeights(LinearClassifier.fit(
      LinearClassifier.hashedFeatures(docs, buckets),
      Seq((1L, 1L), (2L, -1L)).toDF("id", "y"), iters = 2))
    val out = Files.createTempDirectory("graft-budget1-qg").toString
    val jobs = runBudgeted(
      chunks(7L, 3, o => if (o % 3 == 0) "bad awful" else "good nice"),
      (df, ckpt) => QualityGate.startLoggedQualityFiltered(df, out, "t",
        weights, buckets, flushSize = 4, ckpt))
    // 5, 6 and 6 jobs with the first-offset aggregate and a staging exchange
    assertWithin(jobs, Map(0L -> 2, 1L -> 3, 2L -> 3))
  }

  test("blocklist gate: at least one job fewer per non-empty micro-batch") {
    import spark.implicits._
    val bad = Seq("blocked").toDF("text")
    val blocklist = bad.select(DedupIngest.fingerprint(bad).as("fp"))
    val out = Files.createTempDirectory("graft-budget1-bl").toString
    val jobs = runBudgeted(
      chunks(11L, 3, o => if (o % 4 == 1) "blocked" else s"doc $o"),
      (df, ckpt) => DedupIngest.startLoggedBlocklisted(
        df.drop("timestamp"), out, "t", blocklist, flushSize = 4, ckpt))
    // 6, 7 and 7 jobs with the first-offset aggregate and a staging exchange
    assertWithin(jobs, Map(0L -> 4, 1L -> 5, 2L -> 5))
  }

  /** Committed names (log-relative paths) of the seeded hourly input,
    * recorded before the loops were merged. */
  private val HourlyGolden = Seq(
    "year=2026/month=03/day=01/hour=09/t+0+0000000000+0000000001.parquet",
    "year=2026/month=03/day=01/hour=09/t+1+0000000000+0000000001.parquet",
    "year=2026/month=03/day=01/hour=10/t+0+0000000002+0000000002.parquet",
    "year=2026/month=03/day=01/hour=10/t+0+0000000003+0000000005.parquet",
    "year=2026/month=03/day=01/hour=10/t+0+0000000006+0000000007.parquet",
    "year=2026/month=03/day=01/hour=10/t+1+0000000002+0000000003.parquet",
    "year=2026/month=03/day=01/hour=10/t+1+0000000004+0000000006.parquet",
    "year=2026/month=03/day=01/hour=11/t+0+0000000008+0000000008.parquet",
    "year=2026/month=03/day=01/hour=11/t+0+0000000009+0000000011.parquet",
    "year=2026/month=03/day=01/hour=11/t+0+0000000012+0000000012.parquet",
    "year=2026/month=03/day=01/hour=11/t+1+0000000007+0000000009.parquet",
    "year=2026/month=03/day=01/hour=11/t+1+0000000010+0000000010.parquet",
    "year=2026/month=03/day=01/hour=11/t+1+0000000011+0000000012.parquet",
    "year=2026/month=03/day=01/hour=12/t+0+0000000013+0000000015.parquet",
    "year=2026/month=03/day=01/hour=12/t+1+0000000013+0000000013.parquet")
}
