package graft.ingest

import java.time.ZoneId

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Rotation math vs reference semantics:
  * size rotation `DataWriterAvroTest.java:63-77` (7 records, flush 3 →
  * offset ranges [0,2],[3,5]; the tail stays open in streaming, but a
  * finite batch commits it as [6,6]),
  * day-aligned schedule `DateTimeUtilsTest.java:23-41` incl. a period
  * that does not divide the day, and DST behavior under a zoned clock. */
class RotationSpec extends SparkSuite {
  import spark.implicits._

  test("longDiv is exact above 2^53 (decimal route, not double)") {
    // 3^35 * 4 + 1 ~ 2*10^17 > 2^53: a double-division quotient
    // rounds the exact multiple and lands one bucket off
    val big = 50031545098999707L * 4L + 1L
    val got = Seq(big).toDF("a")
      .select(Rotation.longDiv(col("a"), lit(4L)).as("q"))
      .as[Long].head()
    assert(got === big / 4L)
  }

  /** `(part, off, file_idx)` of `df` under both first-offset forms:
    * the aggregate (`df` as given, clustered by nothing) and the
    * in-task window (`df` clustered by `part`). */
  private def bothForms(df: DataFrame, flushSize: Int): Seq[Set[(Long, Long, Long)]] = {
    val forms = Seq(df, df.repartition(2, col("part")))
      .map(Rotation.withSizeFileIndex(_, Seq(col("part")), col("off"), flushSize))
    assert(forms.map(_.queryExecution.sparkPlan.exists(_.isInstanceOf[WindowExec])) ===
      Seq(false, true), "the input's clustering picks the form")
    forms.map(_.select(col("part"), col("off"), col("file_idx"))
      .as[(Long, Long, Long)].collect().toSet)
  }

  test("clusteredBy answers a local or file input without planning it; a repartition is planned") {
    import org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING
    def planned(df: DataFrame) = df.queryExecution.tracker.phases.contains(PLANNING)
    val rows = spark.createDataset((0L until 12L).map(o => (o % 3, o, s"v$o")))
      .toDF("part", "off", "payload")
    val out = java.nio.file.Files.createTempDirectory("rot-decide").toString
    CommitLog.writeLogged(rows, out, "t", flushSize = 2)
    assert(!planned(rows), "a local input is decided from its logical plan")
    val read = CommitLog.read(spark, out, "t").filter(col("off") > 1)
    assert(!Rotation.clusteredBy(read, Seq(col("part"))) && !planned(read))
    val byPart = rows.repartition(2, col("part"))
    assert(Rotation.clusteredBy(byPart, Seq(col("part"))), "the in-task path")
    assert(planned(byPart))
    CommitLog.writeLogged(byPart, out, "u", flushSize = 2)
    def names(topic: String) = CommitLog.snapshot(spark, out, topic)
      .map(new org.apache.hadoop.fs.Path(_).getName.replaceFirst("^[tu]\\+", "")).sorted
    assert(names("u") === names("t"), "both paths commit the same files")
  }

  test("withSizeFileIndex reproduces the flush.size=3 file split") {
    val df = (0L to 6L).map(o => ("t", 12L, o)).toDF("topic", "part", "off")
    val got = Rotation.withSizeFileIndex(df, Seq(col("part")), col("off"), 3)
      .groupBy(col("file_idx"))
      .agg(min(col("off")).as("s"), max(col("off")).as("e"))
      .orderBy(col("file_idx"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((0L, 0L, 2L), (1L, 3L, 5L), (2L, 6L, 6L)))
    val Seq(aggregate, inTask) = bothForms(df, 3)
    assert(inTask === aggregate)
  }

  test("withSizeFileIndex is relative to each partition's first offset") {
    val df = Seq(("t", 0L, 100L), ("t", 0L, 101L), ("t", 1L, 7L), ("t", 1L, 9L))
      .toDF("topic", "part", "off")
    val want = Set((0L, 100L, 0L), (0L, 101L, 0L), (1L, 7L, 0L), (1L, 9L, 1L))
    assert(bothForms(df, 2) === Seq(want, want))
  }

  test("sizeFileIndexByCount handles offset gaps (compacted topics)") {
    val df = Seq(("t", 0L, 10L), ("t", 0L, 50L), ("t", 0L, 51L), ("t", 0L, 90L))
      .toDF("topic", "part", "off")
    val got = df.withColumn("i",
        Rotation.sizeFileIndexByCount(Seq(col("part")), col("off"), 2))
      .select(col("off"), col("i")).as[(Long, Long)].collect().toSet
    assert(got === Set((10L, 0L), (50L, 0L), (51L, 1L), (90L, 1L)))
  }

  test("withIntervalBucket buckets by elapsed data time from first record") {
    val df = Seq(("t", 0L, 1000L), ("t", 0L, 3500L), ("t", 0L, 6200L))
      .toDF("topic", "part", "ts_ms")
    val got = Rotation.withIntervalBucket(df, Seq(col("part")), col("ts_ms"), 2500L)
      .select(col("ts_ms"), col("bucket_idx")).as[(Long, Long)].collect().toSet
    assert(got === Set((1000L, 0L), (3500L, 1L), (6200L, 2L)))
  }

  test("nextTimeAdjustedByDay aligns to local midnight (UTC)") {
    val utc = ZoneId.of("UTC")
    val midnight = 1420070400000L // 2015-01-01T00:00:00Z
    val hour = 3600000L
    // 00:30 with hourly period → next fire 01:00
    assert(Rotation.nextTimeAdjustedByDay(midnight + 1800000L, hour, utc) ===
      midnight + hour)
    // exactly on a boundary → strictly after
    assert(Rotation.nextTimeAdjustedByDay(midnight + hour, hour, utc) ===
      midnight + 2 * hour)
    // the reference's own edge vectors (DateTimeUtilsTest.java:24-30):
    // AT midnight → midnight+1h; one second BEFORE midnight → midnight;
    // one second AFTER → midnight+1h; 1h-1s → 01:00
    assert(Rotation.nextTimeAdjustedByDay(midnight, hour, utc) ===
      midnight + hour)
    assert(Rotation.nextTimeAdjustedByDay(midnight - 1000L, hour, utc) ===
      midnight)
    assert(Rotation.nextTimeAdjustedByDay(midnight + 1000L, hour, utc) ===
      midnight + hour)
    assert(Rotation.nextTimeAdjustedByDay(midnight + hour - 1000L, hour, utc) ===
      midnight + hour)
  }

  test("nextTimeAdjustedByDay with a period not dividing the day restarts at midnight") {
    val utc = ZoneId.of("UTC")
    val midnight = 1420070400000L
    val period = 7 * 3600000L // 7h: fires 00,07,14,21, then 24 = next midnight
    val lateEvening = midnight + 22 * 3600000L
    // after 21:00 the grid RE-ANCHORS at the next day start — the fire
    // is midnight, never 28:00 (the reference's own cross-midnight
    // vectors, DateTimeUtilsTest.java:33-42)
    assert(Rotation.nextTimeAdjustedByDay(lateEvening, period, utc) ===
      midnight + 24 * 3600000L)
    // the reference's cross-midnight vectors
    // (DateTimeUtilsTest.java:33-42): at/just-after midnight → +7h;
    // just before → midnight; 7h1s before midnight → the PREVIOUS
    // day's grid at 21:00
    assert(Rotation.nextTimeAdjustedByDay(midnight, period, utc) ===
      midnight + period)
    assert(Rotation.nextTimeAdjustedByDay(midnight + 1000L, period, utc) ===
      midnight + period)
    assert(Rotation.nextTimeAdjustedByDay(midnight - 1000L, period, utc) ===
      midnight)
    assert(Rotation.nextTimeAdjustedByDay(
      midnight - period - 1000L, period, utc) ===
      midnight - 86400000L + 21 * 3600000L)
  }

  test("nextTimeAdjustedByDay uses the zone's midnight (DST-aware zone)") {
    val la = ZoneId.of("America/Los_Angeles")
    // 2015-03-08 is US spring-forward. 2015-03-08T10:30:00-07:00
    val t = 1425835800000L
    val next = Rotation.nextTimeAdjustedByDay(t, 3600000L, la)
    // LA midnight was 08:00Z (PST); 23h elapsed wall time... the k*period
    // grid is anchored at that midnight instant, so next = midnight + (k+1)*1h
    val midnightLa = 1425801600000L // 2015-03-08T00:00:00-08:00
    assert(next === midnightLa + ((t - midnightLa) / 3600000L + 1) * 3600000L)
    assert(next > t && next - t <= 3600000L)
  }

  test("epoch-aligned trigger fire times equal the day-aligned schedule for divisor periods") {
    // StreamIngest.start's processing-time trigger relies on this:
    // Spark's ProcessingTime trigger aligns batches to epoch multiples
    // of the period, and the epoch is anchored at UTC midnight — so for
    // any period dividing 24h the fire grid is exactly
    // nextTimeAdjustedByDay's.
    val utc = ZoneId.of("UTC")
    val periods = Seq(60000L, 900000L, 3600000L, 7200000L, 21600000L, 86400000L)
    val rnd = new scala.util.Random(13)
    val times = Seq.fill(50)(1420070400000L + (rnd.nextLong(365L * 86400000L)))
    for (p <- periods; t <- times) {
      val epochAligned = (t / p + 1) * p
      assert(epochAligned === Rotation.nextTimeAdjustedByDay(t, p, utc),
        s"period=$p t=$t")
    }
  }

  test("column-form nextRotateMillis equals the pure function in UTC") {
    val tsMs = Seq(1704067798778L, 1704100000000L, 1704067200000L)
    val got = tsMs.toDF("ms")
      .select(Rotation.nextRotateMillis(timestamp_millis(col("ms")), 10800000L))
      .as[Long].collect().toSeq
    val want = tsMs.map(Rotation.nextTimeAdjustedByDay(_, 10800000L, ZoneId.of("UTC")))
    assert(got === want)
  }
}
