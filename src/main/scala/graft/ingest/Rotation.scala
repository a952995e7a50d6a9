package graft.ingest

import java.time.{Instant, ZoneId}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.ClusteredDistribution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** File-rotation policies as declarative column algebra.
  *
  * The reference rotates a per-(topic,partition) temp file when any of
  * (a) `flush.size` records were buffered, (b) the extracted data
  * timestamp advanced `rotate.interval.ms` past the file's first record,
  * (c) a wallclock day-aligned schedule fired
  * (`/root/reference/src/main/java/io/confluent/connect/hdfs/TopicPartitionWriter.java:507-524`).
  *
  * Scale design: Kafka offsets are dense per partition, so the
  * record→file assignment is pure arithmetic off the partition's first
  * offset. That first offset has two forms, and the input's own plan
  * picks between them ([[clusteredBy]] on the rotation keys):
  *
  *  - in-task, for an input already clustered by the keys (every
  *    streaming loop hashes its batch by `part` or `(topic, part)`): a
  *    window over the keys, inside each task — no exchange, no job;
  *  - aggregate, for any other input (batch writes such as
  *    `CommitLog.writeLogged`, compaction and the `IngestQueries` rows,
  *    often over few `part` values): the per-key minima as a tiny
  *    aggregate broadcast-joined back — an exchange and a broadcast
  *    job, but no single-task sort of a whole partition's history.
  *
  * Both forms yield the same first offset, so `file_idx` and the
  * committed file names are identical.
  */
object Rotation {

  /** Exact floor division for longs expressed in Column algebra. The
    * quotient routes through DECIMAL(38,0), not double: `(a −
    * pmod(a,b)) / b` on longs is a DOUBLE division in Spark, exact
    * only below 2⁵³ — an epoch-micros or wide-offset numerator above
    * that would round the exact multiple and land records one
    * file/bucket off. Decimal division of the exact multiple is exact
    * over the full long range. */
  def longDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)).cast("decimal(38,0)") / b.cast("decimal(38,0)"))
      .cast("long")

  /** Whether `df`'s physical plan already clusters its rows by `keys`,
    * so every row of one key value lives in one partition — the test
    * Spark's `EnsureRequirements` makes before it adds an exchange. A
    * key that is not a plain column of `df` answers false. Plans `df`
    * unless its logical plan alone settles the answer; runs no job. */
  private[ingest] def clusteredBy(df: DataFrame, keys: Seq[Column]): Boolean =
    !df.isStreaming && !neverClustered(df.queryExecution.withCachedData) &&
      df.queryExecution.sparkPlan.outputPartitioning.satisfies(
        ClusteredDistribution(df.select(keys: _*).queryExecution.analyzed.output))

  /** A plan of only projections, filters, local rows and unbucketed
    * file scans (after cached-data substitution) has no partitioning to
    * keep, so planning it cannot answer yes. Any other node (a join, an
    * aggregate, a window, a repartition, a cached relation) is planned.
    * A wrong "no" would cost an exchange, never correctness. */
  private def neverClustered(plan: LogicalPlan): Boolean = !plan.exists {
    case _: Project | _: Filter | _: LocalRelation => false
    case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.bucketSpec.isDefined
    case _ => true
  }

  /** Add the per-key minimum of `valueCol` as column `as`: a window
    * over the keys, inside each task, when `inTask` (the input is
    * clustered by them, see the object doc); otherwise a broadcast
    * join of the aggregate (one row per topic-partition). */
  private def withFirst(df: DataFrame, partitionBy: Seq[Column],
                        valueCol: Column, as: String, inTask: Boolean): DataFrame = {
    if (inTask)
      return df.withColumn(as, min(valueCol).over(Window.partitionBy(partitionBy: _*)))
    val keyed = df.withColumn("__rot_key",
      concat_ws("\u0000", partitionBy.map(_.cast("string")): _*))
    val firsts = keyed.groupBy(col("__rot_key")).agg(min(valueCol).as(as))
    keyed.join(broadcast(firsts), "__rot_key").drop("__rot_key")
  }

  /** Size-based rotation (`flush.size`,
    * `TopicPartitionWriter.java:521`, test `avro/DataWriterAvroTest.java:63-77`):
    * with dense per-partition offsets (the Kafka guarantee), the record
    * at `offset` lands in file `(offset - firstOffset) / flushSize`.
    * Adds column `as` (default "file_idx"). */
  def withSizeFileIndex(df: DataFrame, partitionBy: Seq[Column], offset: Column,
                        flushSize: Int, as: String = "file_idx"): DataFrame =
    withSizeFileIndex(df, partitionBy, offset, flushSize, as,
      clusteredBy(df, partitionBy))

  /** [[withSizeFileIndex]] for a writer that already holds the
    * [[clusteredBy]] answer for `partitionBy` (its staging needs it too). */
  private[ingest] def withSizeFileIndex(df: DataFrame, partitionBy: Seq[Column],
                                        offset: Column, flushSize: Int, as: String,
                                        inTask: Boolean): DataFrame =
    withFirst(df, partitionBy, offset, "__first_offset", inTask)
      .withColumn(as, longDiv(offset - col("__first_offset"), lit(flushSize.toLong)))
      .drop("__first_offset")

  /** General (non-dense offsets) size rotation: the i-th record in
    * offset order within its partition lands in file `i / flushSize`.
    * Needs a per-partition sort window — a single task per Kafka
    * partition's history. Use only for replay of compacted topics where
    * offsets have gaps; prefer [[withSizeFileIndex]] at scale. */
  def sizeFileIndexByCount(partitionBy: Seq[Column], offset: Column, flushSize: Int): Column = {
    val rn = row_number().over(
      Window.partitionBy(partitionBy: _*).orderBy(offset.asc)) - 1
    longDiv(rn.cast("long"), lit(flushSize.toLong))
  }

  /** Data-time interval BUCKETING: which interval each record's
    * timestamp falls in, relative to the partition's first record —
    * the batch-analysis view of `rotate.interval.ms` (query A12), off
    * the same first-value forms as [[withSizeFileIndex]]. Adds column
    * `as`.
    *
    * NOT a file-assignment policy: grouping FILES by bucket value lets
    * out-of-order event time interleave buckets and emit OVERLAPPING
    * offset ranges into one directory — use
    * [[withBucketChangeFileIndex]] to rotate files on data time
    * (the reference's actual write-side semantics,
    * `TopicPartitionWriter.java:516-519`: the in-offset-order stream
    * rotates when the incoming record's time crosses the interval). */
  def withIntervalBucket(df: DataFrame, partitionBy: Seq[Column], tsMillis: Column,
                         intervalMs: Long, as: String = "bucket_idx"): DataFrame =
    withFirst(df, partitionBy, tsMillis, "__first_ts", clusteredBy(df, partitionBy))
      .withColumn(as, longDiv(tsMillis - col("__first_ts"), lit(intervalMs)))
      .drop("__first_ts")

  /** Write-side data-time rotation (`rotate.interval.ms`,
    * `TopicPartitionWriter.java:516-519`): the offset-ORDERED stream
    * starts a new file whenever the record-time `bucket` expression
    * changes (and splits on `flushSize` records within a run), so
    * committed offset ranges in one directory are always disjoint and
    * contiguous — out-of-order event time just makes more, smaller
    * files, exactly like the reference's sequential writer. File ids
    * are dense per key (`dense_rank` over (segment, size split)) —
    * no composite-index collisions.
    *
    * Scale: three window passes over one shuffle key — each task sees
    * ONE key's slice of the current batch (the same sequential unit
    * the reference's per-writer rotation processes), batch-scale, not
    * corpus-scale. Adds column `as`. */
  def withBucketChangeFileIndex(df: DataFrame, partitionBy: Seq[Column],
                                offset: Column, bucket: Column, flushSize: Int,
                                as: String = "file_idx"): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(offset)
    val rotated = when(
      lag(bucket, 1).over(w).isNull || lag(bucket, 1).over(w) === bucket,
      0).otherwise(1)
    val wSeg = Window.partitionBy(partitionBy :+ col("__seg"): _*).orderBy(offset)
    val wFile = Window.partitionBy(partitionBy: _*)
      .orderBy(col("__seg"), col("__szi"))
    df.withColumn("__seg", sum(rotated).over(w))
      .withColumn("__rn", row_number().over(wSeg))
      .withColumn("__szi", expr(s"(__rn - 1) div $flushSize"))
      .withColumn(as, (dense_rank().over(wFile) - 1).cast("long"))
      .drop("__seg", "__rn", "__szi")
  }

  /** Next scheduled-rotation fire time, day-aligned
    * (`rotate.schedule.interval.ms`, `TopicPartitionWriter.java:297-310`,
    * `DateTimeUtils.java:19-21`, semantics `DateTimeUtilsTest.java:23-41`):
    * the smallest `midnight + k*period` strictly after `now`. */
  def nextTimeAdjustedByDay(nowMs: Long, periodMs: Long, tz: ZoneId): Long = {
    val day = Instant.ofEpochMilli(nowMs).atZone(tz).toLocalDate
    val midnight = day.atStartOfDay(tz).toInstant.toEpochMilli
    // the grid RE-ANCHORS at each day start ("adjusted by day" — the
    // reference's own vectors, `DateTimeUtilsTest.java:33-42`: with a
    // 7h period the fire after 21:00 is MIDNIGHT, not 28:00), so the
    // in-day grid point clamps to the next calendar midnight
    // (calendar-aware: a DST day is not 24h)
    val nextMidnight = day.plusDays(1).atStartOfDay(tz).toInstant.toEpochMilli
    math.min(midnight + ((nowMs - midnight) / periodMs + 1) * periodMs,
      nextMidnight)
  }

  /** Column form of [[nextTimeAdjustedByDay]] in the session timezone
    * (UTC in this engine — fixed 24h days, so the day-re-anchor clamp
    * is the literal `midnight + 86400000`). Integer-exact
    * ([[longDiv]]). */
  def nextRotateMillis(ts: Column, periodMs: Long): Column = {
    val nowMs = unix_millis(ts)
    val midnightMs = unix_millis(date_trunc("DAY", ts))
    least(
      midnightMs + (longDiv(nowMs - midnightMs, lit(periodMs)) + 1) * lit(periodMs),
      midnightMs + lit(86400000L))
  }
}
