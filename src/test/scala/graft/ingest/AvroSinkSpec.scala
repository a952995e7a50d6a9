package graft.ingest

import java.nio.file.Files

import graft.SparkSuite

/** B1/B5 golden tests mirroring the reference's Avro writer suite:
  * file layout (`DataWriterAvroTest.java:63-77`), value round-trip
  * (`TestWithMiniDFSCluster.java:266-307`), codec configuration
  * (`DataWriterAvroTest.java:406-440`). */
class AvroSinkSpec extends SparkSuite {
  import spark.implicits._

  private def records(n: Long) =
    (0L until n).map(o => (12L, o, s"v$o", o * 1.5)).toDF("part", "off", "s", "d")

  test("golden .avro layout with flush splits, values round-trip") {
    val out = Files.createTempDirectory("avro-sink").toString
    val m = AvroSink.write(records(7), out, "topic", flushSize = 3)
    assert(BatchWriter.listCommitted(spark, out, "topic") === Seq(
      "topic+12+0000000000+0000000002.avro",
      "topic+12+0000000003+0000000005.avro",
      "topic+12+0000000006+0000000006.avro"))
    val (schema, rows) = AvroSink.readFile(m.head.path.stripPrefix("file:"))
    assert(schema.getName === "topic")
    assert(schema.getFields.size === 4)
    assert(rows.map(r => (r("off"), r("s"), r("d"))) ===
      Seq((0L, "v0", 0.0), (1L, "v1", 1.5), (2L, "v2", 3.0)))
  }

  test("multi-partition size and bucket rotation: golden committed names and manifest") {
    import org.apache.spark.sql.functions.col
    // three partitions, shuffled, with record time crossing a 60 s
    // bucket every few offsets (and one record running early)
    val df = new scala.util.Random(7).shuffle(for (p <- 0L to 2L; o <- 0L until 10L)
      yield (p, o, s"v$p-$o", new java.sql.Timestamp(
        (o * 23 + p * 11 - (if (o == 6) 40 else 0)) * 1000L)))
      .toDF("part", "off", "s", "ts").repartition(3)
    for ((bucket, golden) <- Seq(
        (None, SizeGolden),
        (Some(org.apache.spark.sql.functions.floor(
          org.apache.spark.sql.functions.unix_seconds(col("ts")) / 60)), BucketGolden))) {
      val out = Files.createTempDirectory("avro-golden").toString
      val m = AvroSink.write(df, out, "t", flushSize = 4, rotationBucket = bucket)
      val names = BatchWriter.listCommitted(spark, out, "t")
      assert(names === golden, names.mkString("\n", "\n", "\n"))
      assert(m.map(f => new org.apache.hadoop.fs.Path(f.path).getName).sorted === golden)
      assert(m.map(f => (f.partition, f.fileIdx)).distinct.size === m.size)
      assert(AvroSink.readDataFrame(spark, s"$out/t", df.drop("part").schema)
        .select(col("s")).as[String].collect().sorted ===
        df.select(col("s")).as[String].collect().sorted)
    }
  }

  private def names(p: Int, ranges: (Long, Long)*): Seq[String] =
    ranges.map { case (s, e) => FileNaming.encodeName("t", p, s, e, ".avro") }

  /** Committed names of the test above, recorded before the staging
    * job returned its own manifest. */
  private val SizeGolden: Seq[String] =
    (0 to 2).flatMap(names(_, (0L, 3L), (4L, 7L), (8L, 9L)))
  private val BucketGolden: Seq[String] =
    names(0, (0L, 2L), (3L, 6L), (7L, 7L), (8L, 9L)) ++
      names(1, (0L, 2L), (3L, 4L), (5L, 5L), (6L, 6L), (7L, 7L), (8L, 9L)) ++
      names(2, (0L, 1L), (2L, 4L), (5L, 6L), (7L, 9L))

  test("an out-of-charset topic name refuses before any write") {
    val out = java.nio.file.Files.createTempDirectory("avro-badname").toString
    // "x+1" would write names the committed-file regex never parses
    // back (offset recovery silently restarts at 0); "a/b" escapes
    // the directory layout entirely
    for (bad <- Seq("x+1", "a/b")) {
      intercept[IllegalArgumentException] {
        AvroSink.write(records(2), out, bad, flushSize = 2)
      }
    }
  }

  test("deflate, snappy and bzip2 codecs write readable files") {
    // the reference's full avro.codec lattice minus "null" (golden test
    // above), DataWriterAvroTest.java:406-440
    for (codec <- Seq("deflate", "snappy", "bzip2")) {
      val out = Files.createTempDirectory(s"avro-$codec").toString
      val m = AvroSink.write(records(4), out, "t", flushSize = 4, codec = codec)
      val (_, rows) = AvroSink.readFile(m.head.path.stripPrefix("file:"))
      assert(rows.size === 4, codec)
      assert(rows.map(r => (r("off"), r("s"))) ===
        (0L until 4L).map(o => (o, s"v$o")), codec)
    }
  }

  /** Staged-write fixture shared by the attempt-isolation tests:
    * 4 sized rows plus the avro schema/field plumbing writePartitionStaged needs. */
  private def stagedFixture(): (Seq[org.apache.spark.sql.Row], String, Seq[String]) = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StructType
    val sized = Rotation.withSizeFileIndex(records(4), Seq(col("part")), col("off"), 4)
    val payloadSchema = StructType(sized.schema.fields.filterNot(_.name == "file_idx"))
    (sized.collect().toSeq, AvroSink.avroSchemaFor(payloadSchema, "t").toString,
      payloadSchema.fieldNames.toSeq)
  }

  test("duplicate task attempts cannot interleave: each stages to its own temp") {
    val staged = Files.createTempDirectory("avro-attempts").toString
    val (rows, avroJson, names) = stagedFixture()
    // speculative execution: two attempts of the same partition both run
    AvroSink.writePartitionStaged(rows.iterator, avroJson, staged, "null", names, "attempt-1")
    AvroSink.writePartitionStaged(rows.iterator, avroJson, staged, "null", names, "attempt-2")
    val dir = new java.io.File(s"$staged/part=12/file_idx=0")
    val visible = dir.listFiles().filterNot(_.getName.startsWith(".")).map(_.getName).sorted
    assert(visible.toSeq === Seq("part-0.avro"), "exactly one winner, no temp leftovers")
    val (_, got) = AvroSink.readFile(s"$dir/part-0.avro")
    assert(got.map(_("off")) === Seq(0L, 1L, 2L, 3L), "winner file is complete")
  }

  test("a failed attempt deletes its temp; a retry then succeeds") {
    val staged = Files.createTempDirectory("avro-retry").toString
    val (rows, avroJson, names) = stagedFixture()
    val failing = rows.iterator.zipWithIndex.map { case (r, i) =>
      if (i == 2) throw new RuntimeException("executor died"); r
    }
    intercept[RuntimeException] {
      AvroSink.writePartitionStaged(failing, avroJson, staged, "null", names, "attempt-1")
    }
    val dir = new java.io.File(s"$staged/part=12/file_idx=0")
    assert(dir.listFiles().filterNot(_.getName.startsWith(".")).isEmpty,
      "failed attempt left no visible or temp file")
    AvroSink.writePartitionStaged(rows.iterator, avroJson, staged, "null", names, "attempt-2")
    val (_, got) = AvroSink.readFile(s"$dir/part-0.avro")
    assert(got.map(_("off")) === Seq(0L, 1L, 2L, 3L))
  }

  test("committed files read back as a DataFrame (binaryFile + avro-core)") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("avro-df").toString
    val df = (0L until 10L).map(o =>
        (o % 2, o, s"v$o", o * 1.5, if (o % 3 == 0) null else s"n$o"))
      .toDF("part", "off", "s", "d", "maybe")
    AvroSink.write(df, out, "events", flushSize = 4)
    val payloadSchema = df.schema
    val got = AvroSink.readDataFrame(spark, s"$out/events/partition=*", payloadSchema)
    assert(got.schema === payloadSchema)
    val gotRows = got.orderBy(col("off")).collect().toSeq
    val wantRows = df.orderBy(col("off")).collect().toSeq
    assert(gotRows === wantRows)
  }

  test("stale staging from a crashed previous run cannot win over fresh data") {
    val out = Files.createTempDirectory("avro-stale").toString
    // simulate a crashed earlier run: a bogus part-0.avro already sits
    // at the canonical staged path the new run's tasks promote into
    val staleDir = new java.io.File(s"$out/+tmp/t/part=12/file_idx=0")
    staleDir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$staleDir/part-0.avro"), "stale".getBytes)
    val m = AvroSink.write(records(3), out, "t", flushSize = 3)
    val (_, rows) = AvroSink.readFile(m.head.path.stripPrefix("file:"))
    assert(rows.map(_("s")) === Seq("v0", "v1", "v2"), "fresh data committed")
  }

  test("structTypeFor inverts avroSchemaFor across the type lattice (restart re-inference)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("b", BooleanType, nullable = false),
      StructField("i", IntegerType),
      StructField("l", LongType, nullable = false),
      StructField("f", FloatType),
      StructField("d", DoubleType),
      StructField("s", StringType),
      StructField("bin", BinaryType),
      StructField("ts", TimestampType))) // long + timestamp-micros tag
    val back = AvroSink.structTypeFor(AvroSink.avroSchemaFor(schema, "r"))
    assert(back === schema)
  }

  test("readSchemaOf recovers the writer schema from a committed container header") {
    val out = Files.createTempDirectory("avro-schemaof").toString
    val m = AvroSink.write(records(2), out, "t", flushSize = 2)
    val got = AvroSink.readSchemaOf(spark, m.head.path)
    val want = AvroSink.avroSchemaFor(
      org.apache.spark.sql.types.StructType(
        records(2).schema.fields), "t")
    assert(got === want)
  }

  test("unknown codec and unsupported column types fail fast") {
    val out = Files.createTempDirectory("avro-bad").toString
    intercept[IllegalArgumentException] {
      AvroSink.write(records(2), out, "t", 2, codec = "zstd-nope")
    }
    val arr = Seq((0L, 0L, Seq(1, 2))).toDF("part", "off", "a")
    intercept[IllegalArgumentException] {
      AvroSink.write(arr, out, "t", 2)
    }
  }
}
