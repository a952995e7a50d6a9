package graft.ingest

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.streaming.JobLog

/** Commit-log reads build their file index from the paths the log
  * names: no listing job however many files a read names, a loud
  * failure for a file that is not on disk, and the rows, `part` values
  * and schema of a plain `spark.read.load` of the same files. */
class LoggedReadSpec extends SparkSuite {
  import spark.implicits._

  private def frame(n: Long) =
    (0L until n).map(o => (o % 2, o, s"v$o")).toDF("part", "off", "payload")

  /** The reader these reads replaced: Spark lists the named files. */
  private def listedRead(paths: Seq[String], basePath: Option[String]): DataFrame = {
    val reader = spark.read.option("mergeSchema", "true")
    basePath.foreach(reader.option("basePath", _))
    val df = reader.parquet(paths: _*)
    if (basePath.isDefined)
      df.withColumnRenamed("partition", "part").withColumn("part", col("part").cast("long"))
    else
      df.withColumn("part",
        FileNaming.extractPartition(col("_metadata.file_name")).cast("long"))
  }

  private def rowsOf(df: DataFrame) =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toSeq.mkString("|")).sorted

  private def absPaths(out: String, topic: String) =
    CommitLog.snapshot(spark, out, topic).map(rel => s"$out/$topic/$rel")

  test("a read of 40 files starts the same jobs as a read of 8: the footer merge only") {
    val out = Files.createTempDirectory("logread-jobs").toString
    CommitLog.writeLogged(frame(80), out, "many", flushSize = 4)
    CommitLog.writeLogged(frame(16), out, "few", flushSize = 4)
    assert(CommitLog.snapshot(spark, out, "many").size === 40)
    assert(CommitLog.snapshot(spark, out, "few").size === 8)
    val log = new JobLog(spark)
    val sc = spark.sparkContext
    sc.addSparkListener(log)
    try {
      // jobs started while the frame is built, before any action
      def buildJobs(topic: String): Int = {
        val group = s"read-$topic-${java.util.UUID.randomUUID()}"
        sc.setJobGroup(group, s"build the $topic read")
        try CommitLog.read(spark, out, topic) finally sc.clearJobGroup()
        log.inGroup(group)
      }
      assert(buildJobs("many") === 1, "more than 32 files: no listing job")
      assert(buildJobs("few") === 1)
    } finally sc.removeSparkListener(log)
    assert(CommitLog.read(spark, out, "many").count() === 80)
    assert(rowsOf(CommitLog.read(spark, out, "many")) ===
      rowsOf(listedRead(absPaths(out, "many"), Some(s"$out/many"))))
  }

  test("a time-travel read of a vacuumed file fails and names the file") {
    val out = Files.createTempDirectory("logread-vac").toString
    CommitLog.writeLogged(frame(6), out, "t", flushSize = 3)              // v0
    val pinned = CommitLog.snapshot(spark, out, "t", asOf = 0L)
    CommitLog.deleteWhere(spark, out, "t", col("payload") === "v2")       // v1
    assert(CommitLog.read(spark, out, "t", asOf = 0L).count() === 6)
    val gone = pinned.filterNot(CommitLog.snapshot(spark, out, "t").toSet)
    assert(gone.nonEmpty)
    CommitLog.vacuum(spark, out, "t", graceMs = 0)
    val e = intercept[java.io.FileNotFoundException] {
      CommitLog.read(spark, out, "t", asOf = 0L)
    }
    assert(gone.exists(rel => e.getMessage.contains(new Path(rel).getName)), e.getMessage)
    assert(CommitLog.read(spark, out, "t").count() === 5)
  }

  test("an hourly-encoded read of more than 32 files: the rows and parts of a listed read") {
    val cfg = GraftConfig(Map("flush.size" -> "1",
      "partitioner.class" -> "hourly", "timestamp.field" -> "timestamp"))
    val out = Files.createTempDirectory("logread-hourly").toString
    val t0 = Timestamp.valueOf("2026-03-01 09:30:00").getTime
    val rows = (0L until 40L).map(o =>
      (o % 3, o / 3, new Timestamp(t0 + o * 7L * 60 * 1000), s"p$o"))
      .toDF("part", "off", "timestamp", "payload")
    val committed = cfg.write(rows, out, "t")
    val root = cfg.topicsRoot(out)
    val topicDir = new Path(s"$root/t").toUri.getPath
    CommitLog.publish(spark, root, "t",
      committed.map(c => new Path(c.path).toUri.getPath.stripPrefix(topicDir).stripPrefix("/")))
    val paths = absPaths(root, "t")
    assert(paths.size === 40 && paths.map(p => new Path(p).getParent).distinct.size > 1)
    val read = CommitLog.read(spark, root, "t")
    val listed = listedRead(paths, None)
    assert(read.schema === listed.schema)
    assert(rowsOf(read) === rowsOf(listed))
    assert(read.select("part").distinct().as[Long].collect().sorted === Array(0L, 1L, 2L))
    assert(read.inputFiles.sorted === listed.inputFiles.sorted)
  }
}
