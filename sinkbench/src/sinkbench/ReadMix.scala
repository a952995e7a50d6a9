package sinkbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.CommitLog

/** One row of the `read_mix` table (the logged stream shape). */
final case class RmRow(part: Long, off: Long, key: String, v: Double, value: String)

/** `read_mix`: the query half over a logged table built from many small
  * `writeLogged` appends. Each timed cycle is one small append and four
  * reads; every `maintain_every` cycles one maintenance round runs
  * (erase one key, compact, checkpoint, vacuum). */
object ReadMix {
  val Topic = "events"
  val Parts = 8
  val Keys = 200

  def run(ctx: Ctx): Map[String, Any] = {
    val o = ctx.o
    val rec = ctx.rec
    val spark = ctx.spark
    val setupAppends = 4
    val rowsPerPart = 50
    // one round per cycle: every timed cycle then starts from the same
    // compacted state, so a run's read mix does not depend on where in a
    // longer maintenance period its timed phase happens to stop. A longer
    // period is the read-build probe of report.py
    val every = o.int("maintain_every", 1)
    val warmCycles = 1
    val out = ctx.dir("readmix")
    val rng = new SplittableRandom(o.seed)
    val truth = (0 until Parts).map(p => p -> new Truth).toMap
    val keyOf = mutable.Map.empty[(Int, Long), String]
    val erased = mutable.Set.empty[String]

    def batch(): Seq[RmRow] = (0 until Parts).flatMap { p =>
      val t = truth(p)
      (0 until rowsPerPart).map { _ =>
        val off = t.next
        t.next += 1
        val key = s"k${rng.nextInt(Keys)}"
        val value = Gen.word(rng, 80, 120)
        t.crc(off) = Gen.crc32(value.getBytes(UTF_8))
        keyOf((p, off)) = key
        RmRow(p, off, key, rng.nextDouble() * 100, value)
      }
    }
    def live(): Long = truth.values.map(_.crc.size.toLong).sum
    def liveIn(p: Int, lo: Long, hi: Long): Long =
      truth(p).crc.keys.count(o => o >= lo && o <= hi).toLong
    def append(rows: Seq[RmRow]): Long = {
      import spark.implicits._
      CommitLog.writeLogged(spark.createDataset(rows).toDF(), out, Topic,
        flushSize = 1 << 20)
    }

    // setup: the table is many small appends (8 files each)
    (0 until setupAppends).foreach(_ => append(batch()))
    var pin = CommitLog.latestVersion(spark, out, Topic)
    var pinRows = live()
    var consumer = pin
    var cycle = 0
    var timedPhase = 0
    var timed = false

    /** A read op: build through `CommitLog`, run the action, check. */
    def read(kind: String, asOf: Long)(build: => DataFrame)(act: DataFrame => Boolean): Unit = {
      val op = s"$kind@$cycle"
      val id = rec.newId()
      val sc = spark.sparkContext
      sc.setJobGroup(op, op)
      val t0 = rec.now()
      try {
        val live =
          if (!rec.trace) 0
          else {
            val (snap, s) = rec.timed("snapshot", id, op)(
              CommitLog.snapshot(spark, out, Topic, asOf))
            if (timed) {
              rec.add("commitlog.snapshot_s", s)
              rec.add("commitlog.live_files", snap.size)
            }
            snap.size
          }
        val ok = rec.op {
          val (df, b) = rec.timed("read_build", id, op)(build)
          if (rec.trace && timed && kind != "added") {
            // (live files, build seconds) of every CommitLog.read: how the
            // build scales with the live set it lists and merges
            rec.add("fit.live_files", live)
            rec.add("fit.read_build_s", b)
          }
          val (good, e) = rec.timed("read_exec", id, op)(act(df))
          if (timed) { rec.add("commitlog.read_build_s", b); rec.add("commitlog.read_exec_s", e) }
          good
        }
        rec.check(s"read.$kind", ok, s"cycle $cycle")
      } finally sc.clearJobGroup()
      val t1 = rec.now()
      rec.record(id, if (timed) timedPhase else 0, s"read.$kind", op, t0, t1)
      if (timed) rec.add("query_s", t1 - t0)
    }

    def maintain(): Unit = {
      val op = s"maintain@$cycle"
      val id = rec.newId()
      spark.sparkContext.setJobGroup(op, op)
      val t0 = rec.now()
      def step[T](name: String)(body: => T): T = {
        val (r, s) = rec.timed(name, id, op)(rec.op(body))
        if (timed) rec.add(s"commitlog.${name}_s", s)
        r
      }
      // erase one key (right-to-be-forgotten), never one erased before
      val key = Iterator.continually(s"k${rng.nextInt(Keys)}").find(!erased(_)).get
      erased += key
      step("erase")(CommitLog.deleteWhere(spark, out, Topic, col("key") === key))
      truth.foreach { case (p, t) =>
        t.crc.keys.toSeq.filter(o => keyOf((p, o)) == key).foreach(t.crc.remove)
      }
      val before = CommitLog.snapshot(spark, out, Topic).toSet
      step("compact")(CommitLog.compactLogged(spark, out, Topic, targetRecords = 1L << 20))
      val after = CommitLog.snapshot(spark, out, Topic).toSet
      if (timed) {
        rec.add("commitlog.compact_files_in", (before -- after).size)
        rec.add("commitlog.compact_files_out", (after -- before).size)
      }
      step("checkpoint")(CommitLog.checkpoint(spark, out, Topic))
      // the grace keeps every file the time-travel pin still reads: the
      // oldest pinned-but-no-longer-live file is just inside it
      val pinned = CommitLog.snapshot(spark, out, Topic, pin).toSet -- after
      val oldest = pinned.toSeq.map(rel =>
        java.nio.file.Files.getLastModifiedTime(
          java.nio.file.Paths.get(out, Topic, rel)).toMillis)
      val grace = oldest.minOption.map(m => System.currentTimeMillis() - m + 1000).getOrElse(0L)
      step("vacuum")(CommitLog.vacuum(spark, out, Topic, graceMs = grace))
      spark.sparkContext.clearJobGroup()
      val t1 = rec.now()
      rec.record(id, if (timed) timedPhase else 0, "maintain", op, t0, t1)
      if (timed) rec.add("maintain_s", t1 - t0)
      // the pin and the consumer move past the round
      pin = CommitLog.latestVersion(spark, out, Topic)
      pinRows = live()
      consumer = pin
    }

    def oneCycle(): Unit = {
      val rows = batch()
      val op = s"append@$cycle"
      val id = rec.newId()
      val t0 = rec.now()
      val (v, _) = rec.timed("writeLogged", id, op)(rec.op(append(rows)))
      val t1 = rec.now()
      rec.record(id, if (timed) timedPhase else 0, "append", op, t0, t1)
      if (timed) {
        rec.add("append_s", t1 - t0)
        rec.add("append_rows", rows.size)
        // the live set each cycle's reads see, for a time-averaged
        // files-per-row that does not depend on where the run stops
        rec.add("live_files", CommitLog.snapshot(spark, out, Topic).size)
        rec.add("live_rows", live().toDouble)
      }
      val want = live()
      read("full", Long.MaxValue)(CommitLog.read(spark, out, Topic)) { df =>
        df.groupBy(col("part")).agg(count(lit(1)), sum(col("v"))).collect()
          .map(_.getLong(1)).sum == want
      }
      val p = rng.nextInt(Parts)
      val hi = truth(p).next - 1
      val lo = math.max(0L, hi - 3 * rowsPerPart)
      val wantPoint = liveIn(p, lo, hi)
      read("point", Long.MaxValue)(CommitLog.read(spark, out, Topic)) { df =>
        df.filter(col("part") === p && col("off").between(lo, hi))
          .select(col("off"), col("value")).collect().length == wantPoint
      }
      val wantPin = pinRows
      read("travel", pin)(CommitLog.read(spark, out, Topic, asOf = pin)) { df =>
        df.agg(count(lit(1))).head().getLong(0) == wantPin
      }
      val wantAdded = rows.map(r => (r.part, r.off)).toSet
      read("added", Long.MaxValue)(CommitLog.readAddedSince(spark, out, Topic, consumer)) { df =>
        df.select(col("part"), col("off")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet == wantAdded
      }
      consumer = v
      cycle += 1
      if (cycle % every == 0) maintain()
    }

    val warmPhase = ctx.enter("warmup")
    (0 until warmCycles).foreach(_ => oneCycle())
    // the timed phase starts on a fresh maintenance cycle
    maintain()
    cycle = 0
    timedPhase = ctx.enter("timed")
    timed = true
    val t0 = rec.now()
    while (rec.now() - t0 < o.seconds) oneCycle()
    val wall = rec.now() - t0
    timed = false
    ctx.enter("check")
    if (o.corrupt) Checks.corrupt(spark, out, Topic)
    val rows = Checks.committed(ctx, out, Topic, truth, (_, _) => true)
    Checks.recover(ctx, out, Topic)
    Checks.files(ctx, out, Seq(Topic)).foreach { case (k, v) => rec.set(k, v) }
    rec.set("committed.rows", rows.toDouble)
    rec.set("gen.rows", truth.values.map(_.next).sum.toDouble)
    rec.set("timed.wall_s", wall)
    rec.set("timed.cycles", cycle.toDouble)
    Map("timed_from" -> t0, "timed_to" -> (t0 + wall), "warm_phase" -> warmPhase)
  }
}
