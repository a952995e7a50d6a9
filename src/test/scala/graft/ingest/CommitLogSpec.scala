package graft.ingest

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Transactional metadata-log commit: list-free snapshots, atomic
  * source→replacement swap, vacuum of unreferenced files. */
class CommitLogSpec extends SparkSuite {
  import spark.implicits._

  private def frame(n: Long) =
    (0L until n).map(o => (o % 2, o, s"v$o")).toDF("part", "off", "payload")

  test("writeLogged publishes versions; read sees exactly the log") {
    val out = Files.createTempDirectory("clog").toString
    assert(CommitLog.writeLogged(frame(6), out, "t", flushSize = 3) === 0L)
    assert(CommitLog.latestVersion(spark, out, "t") === 0L)
    val back = CommitLog.read(spark, out, "t")
    assert(back.count() === 6)
    assert(back.select(countDistinct(col("part"), col("off")))
      .as[Long].head() === 6)
    assert(CommitLog.maxOffsets(spark, out, "t") === Map(0L -> 4L, 1L -> 5L))
  }

  test("deleteWhere: erased rows vanish atomically; untouched files never rewrite") {
    val out = Files.createTempDirectory("clog-del").toString
    // part 0: offs 0,2,4,6,8 in files [0,4],[6,8]; part 1: 1,3,5,7,9
    CommitLog.writeLogged(frame(6), out, "t", flushSize = 3)  // v0
    CommitLog.writeLogged(frame(10).filter(col("off") >= 6), out, "t", 3) // v1
    val before = CommitLog.snapshot(spark, out, "t")
    // erase a user's rows: payloads v3 and v6 (one per partition)
    val v = CommitLog.deleteWhere(spark, out, "t",
      col("payload").isin("v3", "v6"))
    assert(v === 2L)
    val back = CommitLog.read(spark, out, "t")
    assert(back.count() === 8)
    assert(!back.select("payload").as[String].collect()
      .exists(p => p == "v3" || p == "v6"))
    // only the files that HELD matches were swapped
    val after = CommitLog.snapshot(spark, out, "t")
    val untouched = before.toSet.intersect(after.toSet)
    assert(untouched.nonEmpty, "files without matches must survive as-is")
    // resume coverage unchanged: a replay of offsets 3/6 is still dropped
    assert(CommitLog.maxOffsets(spark, out, "t") ===
      Map(0L -> 8L, 1L -> 9L))
    // the change feed reports exactly the erasure
    val (added, removed) = CommitLog.diffRows(spark, out, "t", 1L, v)
    assert(added.count() === 0,
      "a delete's rewrites must contribute no added rows")
    assert(removed.select("payload").as[String].collect().sorted ===
      Array("v3", "v6"))
    // a delete is never new data for incremental consumers
    assert(CommitLog.readAddedSince(spark, out, "t", sinceVersion = 1L)
      .isEmpty)
    // time travel still serves the pre-delete pin until vacuum
    assert(CommitLog.read(spark, out, "t", asOf = 1L).count() === 10)
    CommitLog.vacuum(spark, out, "t", graceMs = 0)
    assert(CommitLog.read(spark, out, "t").count() === 8,
      "vacuum must not disturb the live set")
  }

  test("deleteWhere: spanning survivors split; shrunk coverage gets a keeper") {
    val out = Files.createTempDirectory("clog-del2").toString
    def one(os: Seq[Long]) = os.map(o => (0L, o, s"v$o")).toDF("part", "off", "payload")
    CommitLog.writeLogged(one(0L to 9L), out, "t", flushSize = 10) // one file [0,9]
    // interior delete: survivors span both endpoints -> the rewrite
    // SPLITS so its names cannot collide with the live original
    CommitLog.deleteWhere(spark, out, "t", col("off") === 5L)
    val snap1 = CommitLog.snapshot(spark, out, "t")
    assert(snap1.size === 2, s"spanning rewrite must split: $snap1")
    assert(!snap1.contains("partition=0/t+0+0000000000+0000000009.parquet"))
    assert(CommitLog.read(spark, out, "t").count() === 9)
    assert(CommitLog.maxOffsets(spark, out, "t") === Map(0L -> 9L))
    // top-end delete: coverage would shrink to 7 -> an empty keeper
    // file pins the partition max at 9 so replays keep dropping 8,9
    CommitLog.deleteWhere(spark, out, "t", col("off") >= 8L)
    assert(CommitLog.read(spark, out, "t").count() === 7)
    assert(CommitLog.maxOffsets(spark, out, "t") === Map(0L -> 9L),
      "erased offsets must stay covered for offset resume")
    assert(CommitLog.snapshot(spark, out, "t")
      .contains("partition=0/t+0+0000000009+0000000009.parquet"))
    // the keeper is schema-correct and empty: reads still work
    assert(CommitLog.read(spark, out, "t")
      .select("payload").as[String].collect().sorted ===
      (0L to 7L).filter(_ != 5L).map(o => s"v$o").sorted.toArray)

    // delete EVERYTHING in an interior file: pure remove, no keeper needed
    val out2 = Files.createTempDirectory("clog-del3").toString
    CommitLog.writeLogged(one(0L to 4L), out2, "t", flushSize = 5)  // [0,4]
    CommitLog.writeLogged(one(5L to 9L), out2, "t", flushSize = 5)  // [5,9]
    CommitLog.deleteWhere(spark, out2, "t", col("off") <= 4L)
    assert(CommitLog.read(spark, out2, "t").count() === 5)
    assert(CommitLog.snapshot(spark, out2, "t").size === 1)
    assert(CommitLog.maxOffsets(spark, out2, "t") === Map(0L -> 9L))

    // the irreducible corner: a single-offset partition-max file losing
    // its only row has no keeper name — refuse with remediation
    val out3 = Files.createTempDirectory("clog-del4").toString
    CommitLog.writeLogged(one(Seq(0L)), out3, "t", flushSize = 1) // [0,0]
    val e = intercept[IllegalArgumentException] {
      CommitLog.deleteWhere(spark, out3, "t", col("off") === 0L)
    }
    assert(e.getMessage.contains("compact"))

    // no matches: a clean no-op, no new version
    val vBefore = CommitLog.latestVersion(spark, out2, "t")
    assert(CommitLog.deleteWhere(spark, out2, "t",
      col("payload") === "nope") === vBefore)
  }

  test("readAddedSince on a not-yet-published topic is an empty poll, not a crash") {
    val out = Files.createTempDirectory("clog-prepoll").toString
    // consumer starts before the producer's first publish: the feed
    // has no schema to carry yet — zero-column empty frame
    val pre = CommitLog.readAddedSince(spark, out, "t", sinceVersion = -1L)
    assert(pre.count() === 0)
    // after the first publish the same poll carries the live schema
    CommitLog.writeLogged(frame(4), out, "t", flushSize = 4)
    val caught = CommitLog.readAddedSince(spark, out, "t", sinceVersion = 0L)
    assert(caught.count() === 0 && caught.columns.contains("payload"))
  }

  test("publish refuses a filesystem whose rename overwrites (CAS unsound there)") {
    val out = Files.createTempDirectory("clog-rawfs").toString
    // RawLocalFileSystem renames over an existing destination (POSIX
    // renameTo) — the version-number CAS would silently drop a
    // concurrent commit, so the probe must refuse it up front
    val raw = new org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val dir = new Path(s"$out/probe")
    raw.mkdirs(dir)
    val e = intercept[IllegalArgumentException] {
      CommitLog.requireRenameCas(raw, dir)
    }
    assert(e.getMessage.contains("overwrites an existing rename destination"))
    // the checksummed LocalFileSystem the engine actually gets is fine
    CommitLog.writeLogged(frame(2), out, "t", flushSize = 2)
    assert(CommitLog.read(spark, out, "t").count() === 2)
  }

  test("compactByKey: materialized log compaction keeps each key's latest row") {
    val out = Files.createTempDirectory("clog-kcompact").toString
    // changelog shape: key = payload prefix, several generations
    def gen(os: Seq[(Long, String)]) =
      os.map { case (o, k) => (0L, o, s"$k@$o") }.toDF("part", "off", "payload")
    CommitLog.writeLogged(gen(Seq(0L -> "a", 1L -> "b", 2L -> "a")),
      out, "t", flushSize = 3)                                  // [0,2]
    CommitLog.writeLogged(gen(Seq(3L -> "c", 4L -> "b")),
      out, "t", flushSize = 3)                                  // [3,4]
    CommitLog.writeLogged(gen(Seq(5L -> "d", 6L -> "e")),
      out, "t", flushSize = 3)                                  // [5,6] all-latest
    val before = CommitLog.snapshot(spark, out, "t")
    val v = CommitLog.compactByKey(spark, out, "t",
      substring(col("payload"), 1, 1))
    assert(v === 3L)
    // exactly the latest generation of every key survives
    assert(CommitLog.read(spark, out, "t")
      .select("payload").as[String].collect().sorted ===
      Array("a@2", "b@4", "c@3", "d@5", "e@6"))
    // the all-latest file was never rewritten
    assert(CommitLog.snapshot(spark, out, "t").toSet
      .intersect(before.toSet).nonEmpty)
    // resume coverage intact: offsets 0,1 stay dropped on replay
    assert(CommitLog.maxOffsets(spark, out, "t") === Map(0L -> 6L))
    // idempotent: a second pass finds nothing superseded
    assert(CommitLog.compactByKey(spark, out, "t",
      substring(col("payload"), 1, 1)) === v)
    // the change feed reports exactly the superseded generations
    val (added, removed) = CommitLog.diffRows(spark, out, "t", 2L, v)
    assert(added.count() === 0)
    assert(removed.select("payload").as[String].collect().sorted ===
      Array("a@0", "b@1"))
  }

  test("deleteWhere: NULL-predicate rows survive the rewrite (SQL DELETE semantics)") {
    val out = Files.createTempDirectory("clog-delnull").toString
    // one file holding a match, a non-match, and a NULL-predicate row
    val df = Seq((0L, 0L, "erase-me"), (0L, 1L, "keep"), (0L, 2L, null))
      .toDF("part", "off", "user")
    CommitLog.writeLogged(df, out, "t", flushSize = 10)
    CommitLog.deleteWhere(spark, out, "t", col("user") === "erase-me")
    // !predicate on the NULL row is NULL, not false — it must still
    // survive, exactly as SQL DELETE retains NULL-predicate rows
    assert(CommitLog.read(spark, out, "t")
      .select("off").as[Long].collect().sorted === Array(1L, 2L))
  }

  test("compactByKey: NULL-key rows are exempt from compaction, never lost") {
    val out = Files.createTempDirectory("clog-knull").toString
    // one file mixing keyed generations with NULL-key rows: the
    // equi-join can never match NULL, so they must be retained verbatim
    val df = Seq((0L, 0L, "a", "a@0"), (0L, 1L, null, "n@1"),
      (0L, 2L, "a", "a@2"), (0L, 3L, null, "n@3"))
      .toDF("part", "off", "k", "payload")
    CommitLog.writeLogged(df, out, "t", flushSize = 10)
    CommitLog.compactByKey(spark, out, "t", col("k"))
    assert(CommitLog.read(spark, out, "t")
      .select("payload").as[String].collect().sorted ===
      Array("a@2", "n@1", "n@3"),
      "superseded keyed rows go; every NULL-key row stays")
  }

  test("deleteWhere purges a crashed predecessor's colliding orphan instead of adopting it") {
    val out = Files.createTempDirectory("clog-orph").toString
    def one(os: Seq[Long]) = os.map(o => (0L, o, s"v$o")).toDF("part", "off", "payload")
    CommitLog.writeLogged(one(0L to 9L), out, "t", flushSize = 10) // one file [0,9]
    // a DIFFERENT earlier operation crashed after staging: an
    // unpublished file sits at exactly the name this delete will plan
    // ([0,4] — the lower half of the midpoint split) with WRONG content
    BatchWriter.write(one(Seq(0L, 1L, 2L, 3L, 4L)).filter(col("off") === 0L)
      .unionByName(one(Seq(4L)).filter(col("off") === 4L)),
      out, "t", flushSize = 10)
    val orphan = "partition=0/t+0+0000000000+0000000004.parquet"
    assert(BatchWriter.read(spark, out, "t").count() === 12,
      "the orphan must exist on disk before the delete")
    CommitLog.deleteWhere(spark, out, "t", col("off") === 5L)
    // idempotent-redo rename must NOT have adopted the stale orphan:
    // all five lower-half survivors are present
    assert(CommitLog.read(spark, out, "t")
      .select("off").as[Long].collect().sorted ===
      (0L to 9L).filter(_ != 5L).toArray)
    assert(CommitLog.snapshot(spark, out, "t").contains(orphan))
  }

  test("relay maintains a derived topic incrementally with exactly-once replay") {
    val out = Files.createTempDirectory("clog-relay").toString
    def one(os: Seq[Long]) = os.map(o => (0L, o, s"v$o")).toDF("part", "off", "payload")
    val redact: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.withColumn("payload", upper(col("payload")))
    CommitLog.writeLogged(one(0L to 4L), out, "src", flushSize = 3)
    // first relay: full catch-up
    CommitLog.relay(spark, out, "src", "dst", redact, flushSize = 10)
    assert(CommitLog.read(spark, out, "dst")
      .select("payload").as[String].collect().sorted ===
      (0L to 4L).map(o => s"V$o").toArray)
    // caught-up: a second call is a no-op (no new version)
    val v1 = CommitLog.latestVersion(spark, out, "dst")
    assert(CommitLog.relay(spark, out, "src", "dst", redact, 10) === v1)
    // append + relay: ONLY the new rows flow (old src files whose
    // range is consumed are pruned at the file list)
    CommitLog.writeLogged(one(5L to 7L), out, "src", flushSize = 3)
    CommitLog.relay(spark, out, "src", "dst", redact, 10)
    assert(CommitLog.read(spark, out, "dst").count() === 8)
    // crash-replay shape: relaying the same state again adds nothing —
    // and a partially-consumed source file replays only its tail
    assert(CommitLog.relay(spark, out, "src", "dst", redact, 10) ===
      CommitLog.latestVersion(spark, out, "dst"))
    assert(CommitLog.read(spark, out, "dst").count() === 8)
    // the derivative is an ordinary logged topic: erasure applies to it
    CommitLog.deleteWhere(spark, out, "dst", col("payload") === "V3")
    assert(CommitLog.read(spark, out, "dst").count() === 7)
    // transforms that drop the envelope are rejected up front
    intercept[IllegalArgumentException] {
      CommitLog.writeLogged(one(Seq(8L)), out, "src", flushSize = 3)
      CommitLog.relay(spark, out, "src", "dst",
        df => df.drop("off"), 10)
    }
  }

  test("compactLogged never adopts a retained pre-split file — erased rows stay erased") {
    val out = Files.createTempDirectory("clog-resurrect").toString
    def one(os: Seq[Long]) = os.map(o => (0L, o, s"v$o")).toDF("part", "off", "payload")
    CommitLog.writeLogged(one(0L to 9L), out, "t", flushSize = 10) // [0,9]
    CommitLog.deleteWhere(spark, out, "t", col("off") === 5L) // split [0,4]+[6,9]
    // merging the splits plans EXACTLY the pre-split name [0,9], whose
    // file is still on disk for version-0 pins — the idempotent-redo
    // rename would adopt it and resurrect the erased row
    CommitLog.compactLogged(spark, out, "t", targetRecords = 64)
    assert(CommitLog.read(spark, out, "t").count() === 9,
      "an erased row must not resurrect through compaction")
    // the colliding group was SKIPPED, not adopted or purged: splits
    // stay live, and the pre-delete pin still reads in full
    assert(CommitLog.snapshot(spark, out, "t").size === 2)
    assert(CommitLog.read(spark, out, "t", asOf = 0L).count() === 10)
    // once a newer append lets truncation advance and vacuum clear the
    // stale original, the merge proceeds
    CommitLog.writeLogged(one(10L to 12L), out, "t", flushSize = 10)
    CommitLog.maintain(spark, out, "t", targetRecords = 64, graceMs = 0)
    CommitLog.maintain(spark, out, "t", targetRecords = 64, graceMs = 0)
    assert(CommitLog.read(spark, out, "t").count() === 12)
    assert(CommitLog.snapshot(spark, out, "t").size === 1,
      "after vacuum clears the stale file the merge must proceed")
    assert(CommitLog.read(spark, out, "t")
      .select("off").as[Long].collect().sorted ===
      ((0L to 12L).filter(_ != 5L)).toArray)
  }

  test("compactLogged merges a zero-row keeper: name widens to the group span, no data loss") {
    val out = Files.createTempDirectory("clog-keeper-merge").toString
    def one(os: Seq[Long]) = os.map(o => (0L, o, s"v$o")).toDF("part", "off", "payload")
    CommitLog.writeLogged(one(0L to 4L), out, "t", flushSize = 5) // [0,4]
    CommitLog.writeLogged(one(5L to 9L), out, "t", flushSize = 5) // [5,9]
    // erase the whole partition-max file: pure remove + keeper [9,9]
    CommitLog.deleteWhere(spark, out, "t", col("off") >= 5L)
    assert(CommitLog.snapshot(spark, out, "t") === Seq(
      "partition=0/t+0+0000000000+0000000004.parquet",
      "partition=0/t+0+0000000009+0000000009.parquet"))
    // clear the retained pre-erasure [5,9] bytes so the group is
    // mergeable this cycle (compaction skips spans overlapping
    // retained files)
    CommitLog.vacuum(spark, out, "t", graceMs = 0)
    CommitLog.compactLogged(spark, out, "t", targetRecords = 64, graceMs = 0)
    // the merged output must NOT be named [0,4] (the live input — the
    // publish would add and remove the same path in one version,
    // which replay nets to removal: rows 0-4 silently lost); it
    // claims the full group span so keeper coverage rides along
    assert(CommitLog.snapshot(spark, out, "t") ===
      Seq("partition=0/t+0+0000000000+0000000009.parquet"))
    assert(CommitLog.read(spark, out, "t")
      .select("off").as[Long].collect().sorted === (0L to 4L).toArray,
      "rows must survive a keeper merge")
    // resume coverage still pins the erased top: offsets 5-9 are
    // covered by the merged name, so a restart never re-ingests them
    assert(CommitLog.maxOffsets(spark, out, "t") === Map(0L -> 9L))
  }

  test("compactLogged grace window shields an in-flight writer's renamed-but-unpublished file") {
    val out = Files.createTempDirectory("clog-grace").toString
    def one(os: Seq[Long]) = os.map(o => (0L, o, s"v$o")).toDF("part", "off", "payload")
    CommitLog.writeLogged(one(0L to 3L), out, "t", flushSize = 1) // 4 files of 1
    // simulate a concurrent updateWhere between data-rename and
    // publish: its replacement file [0,1] is on disk with a committed
    // name, live in no version, referenced by no retained version —
    // indistinguishable from a crashed writer's orphan except by age
    val inflight = "partition=0/t+0+0000000000+0000000001.parquet"
    Seq((0L, "patched0"), (1L, "patched1"))
      .toDF("off", "payload").coalesce(1)
      .write.parquet(s"$out/t/.stage")
    val f = CommitLog.fs(spark, out)
    val part = f.globStatus(new Path(s"$out/t/.stage/part-*"))(0).getPath
    assert(f.rename(part, new Path(s"$out/t/$inflight")))
    f.delete(new Path(s"$out/t/.stage"), true)
    // a maintenance compaction running NOW must not delete those bytes
    CommitLog.compactLogged(spark, out, "t", targetRecords = 64)
    assert(f.exists(new Path(s"$out/t/$inflight")),
      "grace window must shield the in-flight writer's renamed file")
    // and must not have ADOPTED them either: the overlapping group was
    // skipped, so the live rows still read their original payloads
    assert(CommitLog.read(spark, out, "t").filter(col("off") === 0L)
      .select("payload").as[String].head() === "v0")
    // the shielded writer's publish completes; its version reads back
    val v = CommitLog.publish(spark, out, "t", adds = Seq(inflight),
      removes = Seq("partition=0/t+0+0000000000+0000000000.parquet",
        "partition=0/t+0+0000000001+0000000001.parquet"))
    assert(v > 0L)
    assert(CommitLog.read(spark, out, "t").filter(col("off") === 0L)
      .select("payload").as[String].head() === "patched0")
    // grace elapsed (graceMs = 0): compaction runs its normal course
    // with every live row intact (stale-orphan purge convergence is
    // pinned by the crash-redo test above)
    CommitLog.compactLogged(spark, out, "t", targetRecords = 64,
      graceMs = 0)
    assert(CommitLog.read(spark, out, "t").count() === 4,
      "post-grace compaction keeps every live row")
  }

  test("relayDml cascades source deletes and updates into the derivative atomically") {
    val out = Files.createTempDirectory("clog-relaydml").toString
    def one(os: Seq[Long]) = os.map(o => (0L, o, s"v$o")).toDF("part", "off", "payload")
    // FILTERING + redacting transform: drops payloads ending in "7",
    // uppercases the rest — exercises every cascade branch below
    val clean: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.filter(!col("payload").endsWith("7"))
        .withColumn("payload", upper(col("payload")))
    CommitLog.writeLogged(one(0L to 9L), out, "src", flushSize = 5) // v0
    CommitLog.relay(spark, out, "src", "dst", clean, flushSize = 10)
    assert(CommitLog.read(spark, out, "dst").count() === 9) // v7 filtered
    val from = CommitLog.latestVersion(spark, out, "src")
    // source DML batch: an erasure, a plain update, an update the
    // filter now drops, and an update to a row the dst never held
    CommitLog.deleteWhere(spark, out, "src", col("off") === 3L)
    CommitLog.updateWhere(spark, out, "src", col("off") === 5L,
      Map("payload" -> lit("patched")))
    CommitLog.updateWhere(spark, out, "src", col("off") === 8L,
      Map("payload" -> lit("drop7")))
    CommitLog.updateWhere(spark, out, "src", col("off") === 7L,
      Map("payload" -> lit("reborn")))
    val to = CommitLog.latestVersion(spark, out, "src")
    val dstV = CommitLog.latestVersion(spark, out, "dst")
    CommitLog.relayDml(spark, out, "src", "dst", clean, from, to)
    // ONE atomic swap version carries the whole cascade
    assert(CommitLog.latestVersion(spark, out, "dst") === dstV + 1)
    val back = CommitLog.read(spark, out, "dst")
      .select(col("off"), col("payload")).as[(Long, String)].collect().toMap
    assert(!back.contains(3L), "erased key must cascade out")
    assert(back(5L) === "PATCHED", "updated key must re-transform")
    assert(!back.contains(8L), "a replacement the filter drops is a delete")
    assert(!back.contains(7L), "a never-held key must not late-add")
    assert(back(0L) === "V0" && back(9L) === "V9", "bystanders byte-stable")
    assert(back.size === 7)
    // coverage never shrinks: replays keep dropping cascaded offsets
    assert(CommitLog.maxOffsets(spark, out, "dst") === Map(0L -> 9L))
    // the change feed reports exactly the cascade
    val (added, removed) = CommitLog.diffRows(spark, out, "dst", dstV, dstV + 1)
    assert(added.select("off").as[Long].collect().sorted === Array(5L))
    assert(removed.select("off").as[Long].collect().sorted ===
      Array(3L, 5L, 8L))
    // re-running the same cascade is content-idempotent
    CommitLog.relayDml(spark, out, "src", "dst", clean, from, to)
    assert(CommitLog.read(spark, out, "dst").count() === 7)
    // a caught-up cascade (empty version range) is a version no-op
    assert(CommitLog.relayDml(spark, out, "src", "dst", clean, to, to) ===
      CommitLog.latestVersion(spark, out, "dst"))
  }

  test("maintainDerived survives source truncation below its watermark via full reconcile") {
    val out = Files.createTempDirectory("clog-maintder-trunc").toString
    def one(os: Seq[Long]) = os.map(o => (0L, o, s"v$o")).toDF("part", "off", "payload")
    val up: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.withColumn("payload", upper(col("payload")))
    CommitLog.writeLogged(one(0L to 4L), out, "src", flushSize = 5)
    CommitLog.maintainDerived(spark, out, "src", "dst", up, flushSize = 10)
    // source moves on: appends + DML, then maintenance that truncates
    // the log below the derived watermark (maintain knows nothing of
    // derived pins — the old behavior wedged every future tick on
    // 'history truncated')
    CommitLog.writeLogged(one(5L to 9L), out, "src", flushSize = 5)
    CommitLog.updateWhere(spark, out, "src", col("off") === 2L,
      Map("payload" -> lit("patched")))
    CommitLog.deleteWhere(spark, out, "src", col("off") === 7L)
    CommitLog.writeLogged(one(10L to 11L), out, "src", flushSize = 5)
    CommitLog.maintain(spark, out, "src", targetRecords = 64, graceMs = 0)
    CommitLog.maintain(spark, out, "src", targetRecords = 64, graceMs = 0)
    assert(!CommitLog.replayableAt(spark, out, "src", 0L),
      "precondition: the watermark version must actually be truncated")
    // the tick degrades to reconcile instead of refusing forever —
    // and the degrade is OBSERVABLE, not silent
    assert(MaintenanceMetrics.derivedReconcileCount(out, "dst") === 0L)
    CommitLog.maintainDerived(spark, out, "src", "dst", up, flushSize = 10)
    assert(MaintenanceMetrics.derivedReconcileCount(out, "dst") === 1L,
      "the reconcile fallback must bump the degrade counter")
    val back = CommitLog.read(spark, out, "dst")
      .select(col("off"), col("payload")).as[(Long, String)].collect().toMap
    assert(back === (0L to 11L).filter(_ != 7L)
      .map(o => o -> (if (o == 2L) "PATCHED" else s"V$o")).toMap,
      "reconcile must converge the derivative to transform(live source)")
    // and the NEXT tick is incremental again (watermark advanced) —
    // the degrade counter must NOT move
    CommitLog.deleteWhere(spark, out, "src", col("off") === 0L)
    CommitLog.maintainDerived(spark, out, "src", "dst", up, flushSize = 10)
    assert(!CommitLog.read(spark, out, "dst")
      .select("off").as[Long].collect().contains(0L))
    assert(MaintenanceMetrics.derivedReconcileCount(out, "dst") === 1L,
      "a replayable watermark must take the incremental path again")
  }

  test("maintainDerived: one tick forwards appends and cascades DML; watermark rides filenames") {
    val out = Files.createTempDirectory("clog-maintder").toString
    def one(os: Seq[Long]) = os.map(o => (0L, o, s"v$o")).toDF("part", "off", "payload")
    val up: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.withColumn("payload", upper(col("payload")))
    CommitLog.writeLogged(one(0L to 4L), out, "src", flushSize = 5) // v0
    // bootstrap tick: relay catches up, watermark pins at the current
    // source version (nothing older to cascade)
    CommitLog.maintainDerived(spark, out, "src", "dst", up, flushSize = 10)
    assert(CommitLog.read(spark, out, "dst").count() === 5)
    assert(CommitLog.maxOffsets(spark, out, "dst__cascade") === Map(0L -> 0L))
    // one tick covers an append AND a delete AND an update together
    CommitLog.writeLogged(one(5L to 7L), out, "src", flushSize = 5)   // v1
    CommitLog.deleteWhere(spark, out, "src", col("off") === 1L)       // v2
    CommitLog.updateWhere(spark, out, "src", col("off") === 3L,
      Map("payload" -> lit("patched")))                               // v3
    CommitLog.maintainDerived(spark, out, "src", "dst", up, flushSize = 10)
    val back = CommitLog.read(spark, out, "dst")
      .select(col("off"), col("payload")).as[(Long, String)].collect().toMap
    assert(back.keySet === Set(0L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(back(3L) === "PATCHED" && back(0L) === "V0" && back(7L) === "V7")
    assert(CommitLog.maxOffsets(spark, out, "dst__cascade") === Map(0L -> 3L))
    // a caught-up tick is a no-op: no new dst version, watermark stable
    val v = CommitLog.latestVersion(spark, out, "dst")
    assert(CommitLog.maintainDerived(spark, out, "src", "dst", up, 10) === v)
    assert(CommitLog.latestVersion(spark, out, "dst") === v)
    assert(CommitLog.maxOffsets(spark, out, "dst__cascade") === Map(0L -> 3L))
    // a normally-retained source NEVER takes the degrade path: every
    // tick above ran incremental, so the counter never moved
    assert(MaintenanceMetrics.derivedReconcileCount(out, "dst") === 0L,
      "normal-retention ticks must never degrade to the full reconcile")
    // crash between cascade and marker: re-running the cascade range
    // converges (content-idempotent), so simply re-cascading is safe
    CommitLog.relayDml(spark, out, "src", "dst", up, 0L, 3L)
    assert(CommitLog.read(spark, out, "dst").count() === 7)
    // the nightly sweep treats the marker as an ordinary topic and
    // must not disturb the watermark it carries
    CommitLog.maintainAll(spark, out, targetRecords = 64, graceMs = 0)
    assert(CommitLog.maxOffsets(spark, out, "dst__cascade") === Map(0L -> 3L))
    assert(CommitLog.read(spark, out, "dst").count() === 7)
  }

  test("schema-evolved topic: reads union file schemas; DML preserves evolved columns") {
    val out = Files.createTempDirectory("clog-evo").toString
    CommitLog.writeLogged(Seq((0L, 0L, "a"), (0L, 1L, "b"))
      .toDF("part", "off", "payload"), out, "t", flushSize = 10)
    // mid-stream evolution: later appends carry an extra column (the
    // schema-change rotation path writes the new shape into the topic)
    CommitLog.writeLogged(Seq((0L, 2L, "c", 7L), (0L, 3L, "d", 8L))
      .toDF("part", "off", "payload", "extra"), out, "t", flushSize = 10)
    // the read schema is the UNION — pre-evolution rows null-fill
    val all = CommitLog.read(spark, out, "t")
    assert(all.schema.fieldNames.toSet === Set("part", "off", "payload", "extra"),
      s"evolved column must not silently drop: ${all.schema.fieldNames.toSeq}")
    assert(all.filter(col("extra").isNull).count() === 2)
    // predicates on the evolved column resolve across the whole topic
    CommitLog.deleteWhere(spark, out, "t", col("extra") === 7L)
    val back = CommitLog.read(spark, out, "t").orderBy("off")
      .select(col("off"), col("payload"), col("extra"))
      .as[(Long, String, Option[Long])].collect()
    assert(back === Seq((0L, "a", None), (1L, "b", None), (3L, "d", Some(8L))),
      "the rewrite must keep the evolved column's surviving values")
    // DML touching ONLY a pre-evolution file stays in its own shape:
    // the untouched post-evolution file still carries its data
    CommitLog.deleteWhere(spark, out, "t", col("off") === 0L)
    assert(CommitLog.read(spark, out, "t")
      .filter(col("extra").isNotNull).count() === 1)
    // the change feed spans the evolution boundary: sides align to the
    // typed column union instead of failing on shape mismatch
    val (add01, rem01) = CommitLog.diffRows(spark, out, "t", 0L, 1L)
    assert(add01.select("off").as[Long].collect().sorted === Array(2L, 3L))
    assert(rem01.count() === 0)
    val (_, remDel) = CommitLog.diffRows(spark, out, "t", 1L, 3L)
    assert(remDel.select("off").as[Long].collect().sorted === Array(0L, 2L),
      "both erasures visible across the mixed-schema span")
    // one side all pre-evolution (2 columns), the other mixed (3): the
    // alignment branch pads the old side and unchanged rows cancel
    val (addW, remW) = CommitLog.diffRows(spark, out, "t", 0L, 3L)
    assert(addW.select("off").as[Long].collect().sorted === Array(3L))
    assert(remW.select("off").as[Long].collect().sorted === Array(0L))
  }

  test("deleteWhere runs on a json topic, including a json keeper file") {
    val out = Files.createTempDirectory("clog-del-json").toString
    def one(os: Seq[Long]) = os.map(o => (0L, o, s"v$o")).toDF("part", "off", "payload")
    CommitLog.writeLogged(one(0L to 9L), out, "t", flushSize = 10,
      format = "json")
    // top-end delete: rewrite + an empty JSON coverage keeper
    CommitLog.deleteWhere(spark, out, "t", col("off") >= 8L,
      format = "json")
    assert(CommitLog.read(spark, out, "t", format = "json")
      .select("off").as[Long].collect().sorted === (0L to 7L).toArray)
    assert(CommitLog.maxOffsets(spark, out, "t") === Map(0L -> 9L),
      "json keeper must pin resume coverage")
    assert(CommitLog.snapshot(spark, out, "t")
      .contains("partition=0/t+0+0000000009+0000000009.json"))
  }

  test("randomized DML fuzz: delete/update/key-compact/append vs a row model") {
    val out = Files.createTempDirectory("clog-dml-fuzz").toString
    val rnd = new scala.util.Random(20260814L)
    // model: (part, off) -> payload, payload = "k<key>@<off>" (+ "!"s)
    var model = Map.empty[(Long, Long), String]
    var nextOff = Map(0L -> 0L, 1L -> 0L)
    def appendBatch(): Unit = {
      val rows = (0L to 1L).flatMap { p =>
        val n = 2 + rnd.nextInt(4)
        (0 until n).map { _ =>
          val o = nextOff(p); nextOff += (p -> (o + 1))
          (p, o, s"k${rnd.nextInt(4)}@$o")
        }
      }
      CommitLog.writeLogged(rows.toDF("part", "off", "payload"), out, "t",
        flushSize = 2 + rnd.nextInt(3))
      model ++= rows.map(r => (r._1, r._2) -> r._3)
    }
    def check(prevMax: Map[Long, Long]): Map[Long, Long] = {
      val got = CommitLog.read(spark, out, "t")
        .select("part", "off", "payload")
        .as[(Long, Long, String)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(got === model, "live rows must equal the model")
      val mo = CommitLog.maxOffsets(spark, out, "t")
      prevMax.foreach { case (p, e) =>
        assert(mo.getOrElse(p, -1L) >= e,
          s"partition $p resume coverage shrank: ${mo.get(p)} < $e")
      }
      // skipping-plane leg: however stale the stats/bloom planes are
      // relative to the churn above (rewrites land uncovered, installs
      // lag), a pruned point read must equal the model filter — planes
      // may only lose coverage, never rows. One existing payload, one
      // ghost.
      val vals = model.values.toVector
      val probes =
        (if (vals.nonEmpty) Seq(vals(rnd.nextInt(vals.size))) else Nil) :+
          "k9@nowhere"
      probes.foreach { v =>
        val pruned = FileBloom.readPruned(spark, out, "t",
            col("payload") === v)
          .select("part", "off").as[(Long, Long)].collect().toSet
        val want = model.collect { case (ko, pv) if pv == v => ko }.toSet
        assert(pruned === want, s"pruned read diverged for '$v'")
      }
      mo
    }
    // derived-topic leg: a FILTERING relay derivative maintained by
    // relay (appends) + relayDml (DML cascades) after every op; its
    // expected content derives purely from the source model. Bang
    // counts only grow, so the filter is monotone: once a row crosses
    // two bangs it can never resurrect — the cascade's held-iff rule
    // stays a pure function of the current source model.
    val tf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.filter(!col("payload").endsWith("!!"))
        .withColumn("payload", concat(lit("D:"), col("payload")))
    var lastV = -1L
    def syncDerived(): Unit = {
      val vNow = CommitLog.latestVersion(spark, out, "t")
      CommitLog.relay(spark, out, "t", "dt", tf, flushSize = 3)
      try CommitLog.relayDml(spark, out, "t", "dt", tf, lastV, vNow)
      catch { case e: IllegalArgumentException =>
        // the documented remediation: widen single-offset destination
        // files, then the same cascade must succeed. An append first
        // (so log truncation can advance past the pre-split swap
        // versions), then TWO maintain passes: the first's compaction
        // rightly SKIPS merge groups whose planned range overlaps a
        // non-live pre-split file (the resurrection hazard this fuzz
        // exposed) while truncate+vacuum clear those files, and the
        // second pass merges.
        assert(e.getMessage.contains("compact"), e.getMessage)
        appendBatch()
        CommitLog.relay(spark, out, "t", "dt", tf, flushSize = 3)
        CommitLog.maintain(spark, out, "dt", targetRecords = 64, graceMs = 0)
        CommitLog.maintain(spark, out, "dt", targetRecords = 64, graceMs = 0)
        CommitLog.relayDml(spark, out, "t", "dt", tf, lastV, vNow)
      }
      lastV = vNow
      val got = CommitLog.read(spark, out, "dt")
        .select("part", "off", "payload")
        .as[(Long, Long, String)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val want = model.collect {
        case (ko, v) if !v.endsWith("!!") => ko -> s"D:$v"
      }
      assert(got === want, "derived rows must equal transform(model)")
    }
    appendBatch()
    // both skipping planes ride the fuzz from the start; refreshed only
    // every few ops, so most checks run against a STALE plane
    FileStats.install(spark, out, "t", Seq("payload", "off"))
    FileBloom.install(spark, out, "t", Seq("payload"))
    var cover = check(Map.empty)
    syncDerived()
    var op = 0
    for (_ <- 1 to 12) {
      val k = rnd.nextInt(4)
      rnd.nextInt(4) match {
        case 0 => appendBatch()
        case 1 => // erase one key's rows
          try {
            CommitLog.deleteWhere(spark, out, "t",
              col("payload").startsWith(s"k$k@"))
            model = model.filterNot(_._2.startsWith(s"k$k@"))
          } catch { case e: IllegalArgumentException =>
            assert(e.getMessage.contains("compact"), e.getMessage)
          }
        case 2 => // redact one key's rows in place
          try {
            CommitLog.updateWhere(spark, out, "t",
              col("payload").startsWith(s"k$k@"),
              Map("payload" -> concat(col("payload"), lit("!"))))
            model = model.map { case (ko, v) =>
              ko -> (if (v.startsWith(s"k$k@")) v + "!" else v)
            }
          } catch { case e: IllegalArgumentException =>
            assert(e.getMessage.contains("compact"), e.getMessage)
          }
        case _ => // materialized key compaction (key = prefix before @)
          try {
            CommitLog.compactByKey(spark, out, "t",
              split(col("payload"), "@").getItem(0))
            val keep = model.groupBy { case ((p, _), v) =>
              (p, v.split('@')(0))
            }.values.map(_.maxBy(_._1._2)).toSet
            model = model.filter(keep)
          } catch { case e: IllegalArgumentException =>
            assert(e.getMessage.contains("compact"), e.getMessage)
          }
      }
      op += 1
      if (op % 4 == 0) {
        FileStats.refresh(spark, out, "t")
        FileBloom.refresh(spark, out, "t")
      }
      cover = check(cover)
      syncDerived()
    }
    // erasure completes at vacuum; the live set is untouched by it
    CommitLog.vacuum(spark, out, "t", graceMs = 0)
    check(cover)
    ()
  }

  test("updateWhere: in-place redaction — offsets stable, untouched files intact") {
    val out = Files.createTempDirectory("clog-upd").toString
    CommitLog.writeLogged(frame(6), out, "t", flushSize = 3)              // v0
    CommitLog.writeLogged(frame(10).filter(col("off") >= 6), out, "t", 3) // v1
    val before = CommitLog.snapshot(spark, out, "t")
    val v = CommitLog.updateWhere(spark, out, "t",
      col("payload").isin("v3", "v6"),
      Map("payload" -> lit("[REDACTED]")))
    assert(v === 2L)
    val back = CommitLog.read(spark, out, "t")
    // same rows, same offsets — only the matched payloads changed
    assert(back.count() === 10)
    assert(CommitLog.maxOffsets(spark, out, "t") === Map(0L -> 8L, 1L -> 9L))
    val pay = back.select("off", "payload").as[(Long, String)].collect().toMap
    assert(pay(3L) === "[REDACTED]" && pay(6L) === "[REDACTED]")
    assert(pay(2L) === "v2" && pay(7L) === "v7",
      "rows riding along in rewritten files must be byte-stable")
    // only match-holding files swapped; the rest survive as-is
    assert(before.toSet.intersect(
      CommitLog.snapshot(spark, out, "t").toSet).nonEmpty)
    // the LOGICAL change feed carries the update as remove+add
    val (added, removed) = CommitLog.diffRows(spark, out, "t", 1L, v)
    assert(added.select("payload").as[String].collect().sorted ===
      Array("[REDACTED]", "[REDACTED]"))
    assert(removed.select("payload").as[String].collect().sorted ===
      Array("v3", "v6"))
    // offsets immutable by contract
    intercept[IllegalArgumentException] {
      CommitLog.updateWhere(spark, out, "t", lit(true),
        Map("off" -> lit(0L)))
    }
    // single-offset file cannot split in place: loud refusal
    val out2 = Files.createTempDirectory("clog-upd2").toString
    CommitLog.writeLogged(Seq((0L, 0L, "x")).toDF("part", "off", "payload"),
      out2, "t", flushSize = 1)
    val e = intercept[IllegalArgumentException] {
      CommitLog.updateWhere(spark, out2, "t", lit(true),
        Map("payload" -> lit("y")))
    }
    assert(e.getMessage.contains("compact"))
  }

  test("a file in the directory but not in the log is invisible; vacuum removes it") {
    val out = Files.createTempDirectory("clog-orphan").toString
    CommitLog.writeLogged(frame(4), out, "t", flushSize = 2)
    // an orphan from a crashed writer: committed NAME, but never logged
    val orphanData = Seq((0L, 99L, "zzz")).toDF("part", "off", "payload")
    BatchWriter.write(orphanData, out, "t", flushSize = 1) // dir-visible
    // drop the log version that write would NOT have created (BatchWriter
    // alone doesn't publish) — confirm it didn't
    assert(CommitLog.latestVersion(spark, out, "t") === 0L)
    assert(BatchWriter.read(spark, out, "t").count() === 5) // lister sees 5
    assert(CommitLog.read(spark, out, "t").count() === 4)   // log reader: 4
    val removed = CommitLog.vacuum(spark, out, "t", graceMs = 0)
    assert(removed === Seq("partition=0/t+0+0000000099+0000000099.parquet"))
    assert(BatchWriter.read(spark, out, "t").count() === 4)
  }

  test("compactLogged swaps sources for replacements in one version") {
    val out = Files.createTempDirectory("clog-compact").toString
    (0 until 3).foreach { b => // three tiny publishes -> 6 files of 1
      CommitLog.writeLogged(
        frame(6).filter(col("off").between(b * 2, b * 2 + 1)),
        out, "t", flushSize = 1)
    }
    assert(CommitLog.snapshot(spark, out, "t").size === 6)
    // offsets are strided per partition (0,2,4 / 1,3,5), so a span of
    // 5 offsets is what merges all three 1-record files
    val v = CommitLog.compactLogged(spark, out, "t", targetRecords = 5)
    assert(v === 3L)
    val snap = CommitLog.snapshot(spark, out, "t")
    assert(snap === Seq(
      "partition=0/t+0+0000000000+0000000004.parquet",
      "partition=1/t+1+0000000001+0000000005.parquet"))
    // data intact through the swap
    val back = CommitLog.read(spark, out, "t")
    assert(back.count() === 6)
    assert(back.select(countDistinct(col("part"), col("off")))
      .as[Long].head() === 6)
    // sources still on disk (readers don't care) until vacuum
    assert(BatchWriter.listCommitted(spark, out, "t").size === 8)
    assert(CommitLog.vacuum(spark, out, "t", graceMs = 0).size === 6)
    assert(BatchWriter.listCommitted(spark, out, "t") ===
      snap.map(_.split('/').last).sorted)
    // converged: another run is a no-op at this target
    assert(CommitLog.compactLogged(spark, out, "t", targetRecords = 5) === 3L)
  }

  test("topic roster + compactAllLogged sweep every logged topic independently") {
    val out = Files.createTempDirectory("graft-log-all").toString
    for (t <- Seq("alpha", "beta")) {
      CommitLog.writeLogged(frame(2), out, t, flushSize = 1)               // 2 files
      CommitLog.writeLogged(frame(4).filter(col("off") >= 2), out, t, 1)   // 2 more
    }
    // staging leftovers and non-logged dirs are not topics
    new java.io.File(s"$out/+tmp").mkdirs()
    new java.io.File(s"$out/scratch").mkdirs()
    assert(CommitLog.topics(spark, out) === Seq("alpha", "beta"))

    val versions = CommitLog.compactAllLogged(spark, out, targetRecords = 5)
    assert(versions.keySet === Set("alpha", "beta"))
    for (t <- Seq("alpha", "beta")) {
      // per-partition contiguous runs collapse to one file each
      assert(CommitLog.snapshot(spark, out, t).size === 2)
      assert(CommitLog.read(spark, out, t).count() === 4)
      assert(versions(t) === CommitLog.latestVersion(spark, out, t))
    }
    // idempotent: nothing left to compact, versions unchanged
    assert(CommitLog.compactAllLogged(spark, out, targetRecords = 5) === versions)
  }

  test("streaming: logged commits survive crash-between-rename-and-publish") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("clog-stream").toString
    val ckpt1 = Files.createTempDirectory("clog-sckpt1").toString

    val s1 = MemoryStream[(Long, Long, String)]
    val q1 = graft.streaming.StreamIngest.startLogged(
      s1.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 2, ckpt1)
    s1.addData((0L, 0L, "a"), (0L, 1L, "b"), (0L, 2L, "c"))
    q1.processAllAvailable()
    q1.stop()
    assert(CommitLog.maxOffsets(spark, out, "t") === Map(0L -> 2L))
    val v1 = CommitLog.latestVersion(spark, out, "t")

    // crash between data-rename and publish: data files exist, log
    // version doesn't — roll the log back
    CommitLog.fs(spark, out)
      .delete(new Path(s"$out/t/_commitlog/$v1"), false)
    assert(CommitLog.maxOffsets(spark, out, "t")
      .getOrElse(0L, -1L) < 2L) // log forgot the tail
    // fresh checkpoint, full at-least-once replay + one new offset
    val ckpt2 = Files.createTempDirectory("clog-sckpt2").toString
    val s2 = MemoryStream[(Long, Long, String)]
    val q2 = graft.streaming.StreamIngest.startLogged(
      s2.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 2, ckpt2)
    s2.addData((0L, 0L, "a"), (0L, 1L, "b"), (0L, 2L, "c"), (0L, 3L, "d"))
    q2.processAllAvailable()
    q2.stop()

    val back = CommitLog.read(spark, out, "t")
    assert(back.count() === 4) // orphans adopted, nothing doubled
    assert(back.select(countDistinct(col("part"), col("off")))
      .as[Long].head() === 4)
    assert(CommitLog.maxOffsets(spark, out, "t") === Map(0L -> 3L))
    // offset 3's arrival regrouped the tail to [2,3], so the crashed
    // batch's partial file [2,2] stays an unreferenced orphan — it
    // OVERLAPS the replacement, which is exactly why log readers must
    // never see it and the directory lister would double-read here
    assert(CommitLog.vacuum(spark, out, "t", graceMs = 0) ===
      Seq("partition=0/t+0+0000000002+0000000002.parquet"))
  }

  test("time travel: asOf pins historical snapshots across appends and compaction") {
    val out = Files.createTempDirectory("clog-tt").toString
    CommitLog.writeLogged(frame(2), out, "t", flushSize = 1)               // v0: offs 0,1
    CommitLog.writeLogged(frame(4).filter(col("off") >= 2), out, "t", 1)   // v1: offs 2,3
    CommitLog.compactLogged(spark, out, "t", targetRecords = 5)           // v2: swap
    assert(CommitLog.latestVersion(spark, out, "t") === 2L)

    assert(CommitLog.read(spark, out, "t", asOf = 0L).count() === 2)
    assert(CommitLog.read(spark, out, "t", asOf = 1L).count() === 4)
    // the compaction version changes files, not rows
    assert(CommitLog.read(spark, out, "t", asOf = 2L).count() === 4)
    assert(CommitLog.snapshot(spark, out, "t", asOf = 1L).size === 4)
    assert(CommitLog.snapshot(spark, out, "t", asOf = 2L).size === 2)
    // the change feed of the swap records both sides
    val (adds, removes) = CommitLog.changesAt(spark, out, "t", 2L)
    assert(adds.size === 2 && removes.size === 4)
    // vacuum invalidates history (documented): pinned readers must
    // retain — after it, asOf=1 files are gone but HEAD still reads
    CommitLog.vacuum(spark, out, "t", graceMs = 0)
    assert(CommitLog.read(spark, out, "t").count() === 4)
  }

  test("readAddedSince feeds only new rows, even across a compaction rewrite") {
    val out = Files.createTempDirectory("clog-inc").toString
    CommitLog.writeLogged(frame(2), out, "t", flushSize = 1)              // v0: offs 0,1
    CommitLog.writeLogged(frame(4).filter(col("off") >= 2), out, "t", 1)  // v1: offs 2,3
    // plain increment: exactly v1's rows
    val inc = CommitLog.readAddedSince(spark, out, "t", sinceVersion = 0L)
    assert(inc.select("off").as[Long].collect().sorted === Array(2L, 3L))
    // a compaction (v2) rewrites offsets 0-3 into merged files; the
    // incremental feed from v0 must STILL be just v1's rows — the
    // replacement covers already-consumed offsets
    CommitLog.compactLogged(spark, out, "t", targetRecords = 5)
    val inc2 = CommitLog.readAddedSince(spark, out, "t", sinceVersion = 0L)
    assert(inc2.select("off").as[Long].collect().sorted === Array(2L, 3L))
    // nothing new after the compaction-only version: an idle poll
    // returns an EMPTY frame at the live schema (a caught-up consumer
    // is a legitimate caller, not an error)
    val idle = CommitLog.readAddedSince(spark, out, "t", sinceVersion = 2L)
    assert(idle.isEmpty && idle.columns.contains("payload"))
    // append after the compaction: picked up from either baseline
    CommitLog.writeLogged(frame(6).filter(col("off") >= 4), out, "t", 1) // v3
    assert(CommitLog.readAddedSince(spark, out, "t", sinceVersion = 2L)
      .select("off").as[Long].collect().sorted === Array(4L, 5L))
    assert(CommitLog.readAddedSince(spark, out, "t", sinceVersion = 0L)
      .select("off").as[Long].collect().sorted === Array(2L, 3L, 4L, 5L))
  }

  test("readAddedSince: a swap merging ONLY post-checkpoint files still feeds once") {
    // single partition so the baseline file closes as its own group and
    // the replacement spans ONLY the new offsets — the case where a
    // start-offset freshness filter would double-feed
    def one(os: Seq[Long]) = os.map(o => (0L, o, s"v$o")).toDF("part", "off", "payload")
    val out = Files.createTempDirectory("clog-inc2").toString
    CommitLog.writeLogged(one(Seq(0L, 1L)), out, "t", flushSize = 2) // v0: [0,1]
    CommitLog.writeLogged(one(Seq(2L)), out, "t", flushSize = 1)     // v1: [2,2]
    CommitLog.writeLogged(one(Seq(3L)), out, "t", flushSize = 1)     // v2: [3,3]
    CommitLog.compactLogged(spark, out, "t", targetRecords = 2)      // v3: swap [2,3]
    assert(CommitLog.snapshot(spark, out, "t").exists(_.contains("0000000002+0000000003")))
    val inc = CommitLog.readAddedSince(spark, out, "t", sinceVersion = 0L)
    assert(inc.select("off").as[Long].collect().sorted === Array(2L, 3L),
      "the swap's replacement must not double-feed offsets 2,3")
  }

  test("scheduled rotation through the log: partial file published atomically") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("clog-sched").toString
    val ckpt = Files.createTempDirectory("clog-sched-ckpt").toString
    val s = MemoryStream[(Long, Long, String)]
    // flushSize 5 but only 2 records: the schedule fire must flush AND
    // publish the partial file as a log version (A13 through the log)
    val q = graft.streaming.StreamIngest.startLogged(
      s.toDF().toDF("part", "off", "payload"), out, "t", flushSize = 5, ckpt,
      Some(org.apache.spark.sql.streaming.Trigger.ProcessingTime(200L)))
    s.addData((0L, 0L, "a"), (0L, 1L, "b"))
    q.processAllAvailable()
    q.stop()
    assert(CommitLog.snapshot(spark, out, "t") ===
      Seq("partition=0/t+0+0000000000+0000000001.parquet"))
    assert(CommitLog.read(spark, out, "t").count() === 2)
  }

  test("publish CAS: a pre-existing version number is never overwritten") {
    val out = Files.createTempDirectory("clog-cas").toString
    CommitLog.writeLogged(frame(2), out, "t", flushSize = 2) // version 0
    // competing writer grabs version 1 with a conflicting entry
    val f = CommitLog.fs(spark, out)
    val dir = new Path(s"$out/t/_commitlog")
    val competitor = new Path(dir, "1")
    val os = f.create(competitor, false)
    os.write("a|partition=0/t+0+0000000050+0000000050.parquet\n".getBytes)
    os.close()
    val v = CommitLog.publish(spark, out, "t",
      adds = Seq("partition=0/t+0+0000000060+0000000060.parquet"))
    assert(v === 2L) // lost the race at 1, retried at 2
    val snap = CommitLog.snapshot(spark, out, "t")
    assert(snap.exists(_.contains("0000000050")))
    assert(snap.exists(_.contains("0000000060")))
  }

  test("crash before publish converges on redo (idempotent rename + replay)") {
    val out = Files.createTempDirectory("clog-crash").toString
    CommitLog.writeLogged(frame(4), out, "t", flushSize = 1) // 4 files of 1
    // simulate a compaction that staged+renamed replacements but died
    // before publish: run the data job via BatchWriter.compact-like path,
    // i.e. just pre-commit the replacement files
    val pre = CommitLog.compactLogged(spark, out, "t", targetRecords = 2)
    // now roll the LOG back one version to fake "publish never happened"
    // (the post-publish auto-checkpoint wouldn't exist either — both
    // are written after the crash point being simulated)
    val f = CommitLog.fs(spark, out)
    f.delete(new Path(s"$out/t/_commitlog/$pre"), false)
    f.delete(new Path(s"$out/t/_commitlog/$pre.ckpt"), false)
    // redo: replacement renames are skipped idempotently, publish redone
    // (graceMs = 0 simulates the grace window having elapsed — within
    // it, the redo is a safe no-op that a later maintain completes)
    val v2 = CommitLog.compactLogged(spark, out, "t", targetRecords = 2,
      graceMs = 0)
    assert(v2 === pre)
    val back = CommitLog.read(spark, out, "t")
    assert(back.count() === 4)
    assert(back.select(countDistinct(col("part"), col("off")))
      .as[Long].head() === 4)
    CommitLog.vacuum(spark, out, "t", graceMs = 0)
    assert(BatchWriter.listCommitted(spark, out, "t").size ===
      CommitLog.snapshot(spark, out, "t").size)
  }

  test("maintainAll: one sweep compacts, checkpoints, truncates, vacuums every topic") {
    val out = Files.createTempDirectory("clog-maint").toString
    for (t <- Seq("alpha", "beta"); b <- 0 until 3) {
      CommitLog.writeLogged(
        frame(6).filter(col("off").between(b * 2, b * 2 + 1)), out, t, 1)
    }
    val reports = CommitLog.maintainAll(spark, out, targetRecords = 5,
      graceMs = 0)
    assert(reports.keySet === Set("alpha", "beta"))
    for (t <- Seq("alpha", "beta")) {
      // compacted to one file per partition, data intact
      assert(CommitLog.snapshot(spark, out, t).size === 2)
      assert(CommitLog.read(spark, out, t).count() === 6)
      // log truncated to the newest APPEND (v2, schema recovery's
      // carrier) + the swap (v3) — the floor never passes the newest
      // adds-only version
      assert(CommitLog.versions(spark, out, t) === Seq(2L, 3L))
      assert(reports(t).truncated === Seq(0L, 1L))
      // vacuum reclaimed the six compacted source files
      assert(reports(t).vacuumed.size === 6)
      assert(BatchWriter.listCommitted(spark, out, t).size === 2)
    }
    // the sweep is idempotent: nothing left to do
    val again = CommitLog.maintainAll(spark, out, targetRecords = 5,
      graceMs = 0)
    for (t <- Seq("alpha", "beta")) {
      assert(again(t).truncated.isEmpty && again(t).vacuumed.isEmpty)
      assert(CommitLog.read(spark, out, t).count() === 6)
    }
  }

  test("cloneTopic: a pinned-version branch survives source retention; create-only") {
    val out = Files.createTempDirectory("clog-clone").toString
    CommitLog.writeLogged(frame(4), out, "t", flushSize = 2) // v0
    CommitLog.writeLogged(
      Seq((0L, 10L, "new")).toDF("part", "off", "payload"),
      out, "t", flushSize = 2) // v1
    // branch at v0: the clone must NOT see v1's record
    CommitLog.cloneTopic(spark, out, "t", "t_v0", asOf = 0L)
    assert(CommitLog.read(spark, out, "t_v0").count() === 4)
    assert(CommitLog.latestVersion(spark, out, "t_v0") === 0L)
    // source moves on: compaction + vacuum reclaim v0-era files —
    // the clone's copies are untouched and still read cleanly
    CommitLog.compactLogged(spark, out, "t", targetRecords = 100)
    CommitLog.vacuum(spark, out, "t", graceMs = 0)
    assert(CommitLog.read(spark, out, "t_v0").count() === 4)
    assert(CommitLog.read(spark, out, "t").count() === 5)
    // clones are create-only: cloning onto an existing log refuses
    val e = intercept[IllegalArgumentException] {
      CommitLog.cloneTopic(spark, out, "t", "t_v0")
    }
    assert(e.getMessage.contains("already has a commit log"))
  }

  test("topic names outside the filename charset are rejected at entry") {
    val out = Files.createTempDirectory("clog-charset").toString
    CommitLog.writeLogged(frame(2), out, "t", flushSize = 2)
    // a '+' in the dst would re-encode into names the committed-name
    // regex cannot parse — offset resume on the clone would silently
    // restart at 0; both entries refuse before touching disk
    val e1 = intercept[IllegalArgumentException] {
      CommitLog.cloneTopic(spark, out, "t", "t+bad")
    }
    assert(e1.getMessage.contains("charset"))
    val e2 = intercept[IllegalArgumentException] {
      CommitLog.writeLogged(frame(2), out, "has space", flushSize = 2)
    }
    assert(e2.getMessage.contains("charset"))
    assert(!FileNaming.isValidTopicName(""))
    assert(FileNaming.isValidTopicName("ok-topic_1.x"))
  }

  test("log checkpoints: snapshot rebases on the newest ckpt and replays only the tail") {
    val out = Files.createTempDirectory("clog-ckpt").toString
    CommitLog.writeLogged(frame(2), out, "t", flushSize = 1)              // v0
    CommitLog.writeLogged(frame(4).filter(col("off") >= 2), out, "t", 1) // v1
    val before = CommitLog.snapshot(spark, out, "t")
    assert(CommitLog.checkpoint(spark, out, "t") === 1L)
    val f = CommitLog.fs(spark, out)
    assert(f.exists(new Path(s"$out/t/_commitlog/1.ckpt")))
    // identical live set through the checkpointed read path
    assert(CommitLog.snapshot(spark, out, "t") === before)
    // appends above the checkpoint are tail-replayed on top of it
    CommitLog.writeLogged(frame(6).filter(col("off") >= 4), out, "t", 1) // v2
    assert(CommitLog.snapshot(spark, out, "t").size === 6)
    assert(CommitLog.read(spark, out, "t").count() === 6)
    // time travel BELOW the checkpoint still replays version files
    assert(CommitLog.snapshot(spark, out, "t", asOf = 0L).size === 2)
    // pinned AT the checkpoint version rides it
    assert(CommitLog.snapshot(spark, out, "t", asOf = 1L) === before)
    // idempotent + re-checkpoint rides the older checkpoint
    assert(CommitLog.checkpoint(spark, out, "t") === 2L)
    assert(CommitLog.checkpoint(spark, out, "t") === 2L)
    assert(CommitLog.snapshot(spark, out, "t").size === 6)
    // offset recovery and vacuum are checkpoint-oblivious
    assert(CommitLog.maxOffsets(spark, out, "t") === Map(0L -> 4L, 1L -> 5L))
    assert(CommitLog.vacuum(spark, out, "t", graceMs = 0) === Seq.empty)
    assert(f.exists(new Path(s"$out/t/_commitlog/1.ckpt")),
      "vacuum must never touch log internals")
  }

  test("compactLogged leaves a checkpoint at the swap; streaming checkpoints on cadence") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val out = Files.createTempDirectory("clog-ckpt-auto").toString
    (0 until 3).foreach { b =>
      CommitLog.writeLogged(
        frame(6).filter(col("off").between(b * 2, b * 2 + 1)), out, "t", 1)
    }
    val v = CommitLog.compactLogged(spark, out, "t", targetRecords = 5)
    val f = CommitLog.fs(spark, out)
    assert(f.exists(new Path(s"$out/t/_commitlog/$v.ckpt")))
    assert(CommitLog.read(spark, out, "t").count() === 6)
    // streaming: every 64th published version checkpoints the log — a
    // 63-version history (offsets 0..62, one file each), then two
    // micro-batches publish versions 63 and 64
    BatchWriter.write((0L until 63L).map(o => (0L, o, s"p$o"))
        .toDF("part", "off", "payload"), out, "u", flushSize = 1)
      .map(c => s"partition=0/${new Path(c.path).getName}").sorted
      .foreach(rel => CommitLog.publish(spark, out, "u", Seq(rel)))
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("clog-ckpt-sckpt").toString
    val s = MemoryStream[(Long, Long, String)]
    val q = graft.streaming.StreamIngest.startLogged(
      s.toDF().toDF("part", "off", "payload"), out, "u", flushSize = 10, ckpt)
    (63 until 65).foreach { i =>
      s.addData((0L, i.toLong, s"p$i"))
      q.processAllAvailable()
    }
    q.stop()
    assert(CommitLog.latestVersion(spark, out, "u") === 64L)
    assert(!f.exists(new Path(s"$out/u/_commitlog/63.ckpt")))
    assert(f.exists(new Path(s"$out/u/_commitlog/64.ckpt")))
    assert(CommitLog.read(spark, out, "u").count() === 65)
  }

  test("diffFiles shows churn; diffRows is the compaction-invariant logical change feed") {
    val out = Files.createTempDirectory("clog-diff").toString
    CommitLog.writeLogged(frame(2), out, "t", flushSize = 1)              // v0: offs 0,1
    CommitLog.writeLogged(frame(4).filter(col("off") >= 2), out, "t", 1) // v1: offs 2,3
    // append diff: v0 -> v1 adds exactly v1's rows, removes nothing
    val (add1, rem1) = CommitLog.diffRows(spark, out, "t", 0L, 1L)
    assert(add1.select("off").as[Long].collect().sorted === Array(2L, 3L))
    assert(rem1.count() === 0)
    // compaction (v2) rewrites all four files into two — heavy FILE
    // churn, ZERO row change
    CommitLog.compactLogged(spark, out, "t", targetRecords = 5)
    val (fAdd, fRem) = CommitLog.diffFiles(spark, out, "t", 1L, 2L)
    assert(fAdd.size === 2 && fRem.size === 4)
    val (add2, rem2) = CommitLog.diffRows(spark, out, "t", 1L, 2L)
    assert(add2.count() === 0 && rem2.count() === 0,
      "a swap preserves every row — the logical diff must be empty")
    // across the whole history: still just the v1 appends
    val (add3, rem3) = CommitLog.diffRows(spark, out, "t", 0L, 2L)
    assert(add3.select("off").as[Long].collect().sorted === Array(2L, 3L))
    assert(rem3.count() === 0)
    // equal pins: empty frames, right schema
    val (add4, rem4) = CommitLog.diffRows(spark, out, "t", 2L, 2L)
    assert(add4.count() === 0 && rem4.count() === 0)
    assert(add4.columns.contains("off"))
    // reversed range refuses
    intercept[IllegalArgumentException] {
      CommitLog.diffFiles(spark, out, "t", 2L, 0L)
    }
  }

  test("truncateLog bounds the log; HEAD, publish numbering, offsets, schema recovery survive") {
    val out = Files.createTempDirectory("clog-trunc").toString
    (0 until 4).foreach { b => // v0..v3, appends of 1-2 records each
      CommitLog.writeLogged(
        frame(8).filter(col("off").between(b * 2, b * 2 + 1)), out, "t", 2)
    }
    assert(CommitLog.checkpoint(spark, out, "t") === 3L)
    val before = CommitLog.snapshot(spark, out, "t")
    // floor = min(ckpt 3, newest append 3) = 3: versions 0-2 go
    assert(CommitLog.truncateLog(spark, out, "t") === Seq(0L, 1L, 2L))
    assert(CommitLog.versions(spark, out, "t") === Seq(3L))
    // HEAD reads rebase on the checkpoint — identical live set
    assert(CommitLog.snapshot(spark, out, "t") === before)
    assert(CommitLog.read(spark, out, "t").count() === 8)
    // offset recovery reads the snapshot, not the prefix
    assert(CommitLog.maxOffsets(spark, out, "t") === Map(0L -> 6L, 1L -> 7L))
    // publish numbering is monotone across the truncation
    assert(CommitLog.latestVersion(spark, out, "t") === 3L)
    CommitLog.writeLogged(
      frame(10).filter(col("off") >= 8), out, "t", 2) // v4
    assert(CommitLog.latestVersion(spark, out, "t") === 4L)
    assert(CommitLog.read(spark, out, "t").count() === 10)
    // restart schema recovery still finds its carrier
    assert(graft.streaming.StreamIngest
      .committedSchema(spark, out, "t").isDefined)
    // replay below the floor fails LOUDLY, never answers wrong
    val e = intercept[IllegalStateException] {
      CommitLog.snapshot(spark, out, "t", asOf = 1L)
    }
    assert(e.getMessage.contains("truncated"))
    // idempotent: re-running deletes nothing new
    CommitLog.checkpoint(spark, out, "t") // ckpt at 4
    assert(CommitLog.truncateLog(spark, out, "t") === Seq(3L))
    assert(CommitLog.snapshot(spark, out, "t").size ===
      CommitLog.read(spark, out, "t").inputFiles.length)
    // a topic with no checkpoint is never touched
    CommitLog.writeLogged(frame(2), out, "u", flushSize = 2)
    assert(CommitLog.truncateLog(spark, out, "u") === Seq.empty)
  }

  test("cloneTopic: inherited files re-encode to the clone topic — offset resume and compaction see them") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("clog-clone-writable").toString
    CommitLog.writeLogged(frame(4), out, "t", flushSize = 2) // offs 0-3 over parts 0,1
    CommitLog.cloneTopic(spark, out, "t", "branch")

    // every inherited filename embeds the CLONE topic (padding survives)
    val snap = CommitLog.snapshot(spark, out, "branch")
    assert(snap.nonEmpty && snap.forall(_.split('/').last.startsWith("branch+")))
    assert(snap.exists(_.contains("+0000000000+")), "pad width must survive the branch")
    // ...so the filename-as-metadata offset restore works on the clone
    // (part 0 holds offs 0,2; part 1 holds offs 1,3)
    assert(CommitLog.maxOffsets(spark, out, "branch") === Map(0L -> 2L, 1L -> 3L))
    assert(BatchWriter.maxCommittedOffsets(spark, out, "branch") === Map(0L -> 2L, 1L -> 3L))

    // stream into the clone with a FRESH checkpoint replaying offs 0-3
    // plus new offs 6,7: resume must start AFTER the inherited max,
    // not at 0 — the writable-branch contract
    val ckpt = Files.createTempDirectory("clog-clone-ckpt").toString
    val s = MemoryStream[(Long, Long, String)]
    val q = graft.streaming.StreamIngest.startLogged(
      s.toDF().toDF("part", "off", "payload"), out, "branch", flushSize = 2, ckpt)
    s.addData((0L until 8L).map(o => (o % 2, o, s"v$o")): _*)
    q.processAllAvailable()
    q.stop()
    val back = CommitLog.read(spark, out, "branch")
    assert(back.count() === 8, "replayed offsets must be skipped, new ones ingested")
    assert(back.select(countDistinct(col("part"), col("off")))
      .as[Long].head() === 8, "no duplicate ingestion on the clone")
    assert(CommitLog.maxOffsets(spark, out, "branch") === Map(0L -> 6L, 1L -> 7L))

    // compaction reaches the inherited files too: all four original
    // 2-record files merge with the appended ones per partition
    CommitLog.compactLogged(spark, out, "branch", targetRecords = 100)
    assert(CommitLog.snapshot(spark, out, "branch") === Seq(
      "partition=0/branch+0+0000000000+0000000006.parquet",
      "partition=1/branch+1+0000000001+0000000007.parquet"))
    assert(CommitLog.read(spark, out, "branch").count() === 8)
    // and vacuum reclaims the compacted inherited sources
    assert(CommitLog.vacuum(spark, out, "branch", graceMs = 0).nonEmpty)
    assert(CommitLog.read(spark, out, "branch").count() === 8)
    // the source topic is untouched throughout
    assert(CommitLog.read(spark, out, "t").count() === 4)
  }
}
