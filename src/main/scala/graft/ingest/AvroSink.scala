package graft.ingest

import scala.collection.mutable

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Avro sink (B1) without the spark-avro DataSource module (absent from
  * this classpath): committed offset-ranged Avro container files are
  * written through the avro-core API per staged file group, with the
  * reference's `avro.codec` surface (null/deflate/snappy/bzip2 —
  * `avro/AvroRecordWriterProvider.java:51-103`, codec test
  * `DataWriterAvroTest.java:406-440`).
  *
  * Executors write one `DataFileWriter` per (partition, file) group —
  * the same lazy writer-per-encoded-partition shape as the reference
  * (`TopicPartitionWriter.java:547-584`) — into `+tmp` staging, and
  * report each file's offset range; the driver then commits by the same
  * idempotent rename as BatchWriter.
  *
  * Type surface matches the reference's exercised lattice (§1.3:
  * boolean/int/long/float/double/string + binary + timestamp-micros);
  * wider types should extend [[avroSchemaFor]].
  */
object AvroSink {

  /** StructType → Avro record schema (nullable fields become unions). */
  def avroSchemaFor(schema: StructType, name: String): Schema = {
    def base(dt: DataType): Schema = dt match {
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case IntegerType => Schema.create(Schema.Type.INT)
      case LongType => Schema.create(Schema.Type.LONG)
      case FloatType => Schema.create(Schema.Type.FLOAT)
      case DoubleType => Schema.create(Schema.Type.DOUBLE)
      case StringType => Schema.create(Schema.Type.STRING)
      case BinaryType => Schema.create(Schema.Type.BYTES)
      case TimestampType => // epoch micros, tagged so readers round-trip
        LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
      case other => throw new IllegalArgumentException(
        s"unsupported type for avro sink: $other")
    }
    val fields = schema.fields.foldLeft(
      SchemaBuilder.record(name).namespace("graft").fields()) { (b, f) =>
      if (f.nullable)
        b.name(f.name).`type`(Schema.createUnion(
          Schema.create(Schema.Type.NULL), base(f.dataType))).withDefault(null)
      else
        b.name(f.name).`type`(base(f.dataType)).noDefault()
    }
    fields.endRecord()
  }

  /** Inverse of [[avroSchemaFor]]'s type lattice — a committed file's
    * writer schema back as a StructType (nullable ⇔ union[null, T],
    * timestamp-micros ⇔ TimestampType). The consumer is restart schema
    * re-inference (`TopicPartitionWriter.java:334-350`): the streaming
    * committer re-reads the last committed schema through this on
    * recovery. */
  def structTypeFor(schema: Schema): StructType = {
    def base(s: Schema): DataType = s.getType match {
      case Schema.Type.BOOLEAN => BooleanType
      case Schema.Type.INT => IntegerType
      case Schema.Type.LONG =>
        if (s.getLogicalType != null &&
          s.getLogicalType.getName == "timestamp-micros") TimestampType
        else LongType
      case Schema.Type.FLOAT => FloatType
      case Schema.Type.DOUBLE => DoubleType
      case Schema.Type.STRING => StringType
      case Schema.Type.BYTES => BinaryType
      case other => throw new IllegalArgumentException(
        s"unsupported avro type for schema recovery: $other")
    }
    StructType(schema.getFields.asScala.toSeq.map { f =>
      val ts = f.schema()
      if (ts.getType == Schema.Type.UNION) {
        val nonNull = ts.getTypes.asScala.filterNot(_.getType == Schema.Type.NULL)
        require(nonNull.size == 1,
          s"unsupported union for field ${f.name()}: $ts")
        StructField(f.name(), base(nonNull.head), nullable = true)
      } else StructField(f.name(), base(ts), nullable = false)
    })
  }

  /** The writer schema of one committed container file, from its header
    * alone (streamed — no full-file read, works on any Hadoop FS). */
  def readSchemaOf(spark: org.apache.spark.sql.SparkSession,
                   path: String): Schema = {
    val p = new Path(path)
    val f = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    // open the raw stream first so a corrupt/truncated container (the
    // DataFileStream constructor throwing before the val is assigned)
    // still closes the handle — recovery probes a file per restart
    val in = f.open(p)
    try {
      val ds = new org.apache.avro.file.DataFileStream[GenericRecord](
        in, new GenericDatumReader[GenericRecord]())
      try ds.getSchema finally ds.close()
    } finally in.close()
  }

  private def toAvro(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case x => x
  }

  /** The reference's full `avro.codec` lattice —
    * null/deflate/snappy/bzip2 (`docs/configuration_options.rst`,
    * codec roundtrip test `DataWriterAvroTest.java:406-440`). bzip2
    * rides avro-core's commons-compress codec, already on a Spark
    * classpath. */
  private[ingest] def codecFor(codec: String): CodecFactory = codec match {
    case "null" => CodecFactory.nullCodec()
    case "deflate" => CodecFactory.deflateCodec(6)
    case "snappy" => CodecFactory.snappyCodec()
    case "bzip2" => CodecFactory.bzip2Codec()
    case other => throw new IllegalArgumentException(
      s"unknown avro.codec: $other (expected one of null, deflate, snappy, bzip2)")
  }

  /** Write a stream-shaped frame as committed offset-ranged `.avro`
    * files. Same commit contract as [[BatchWriter.write]].
    * `rotationBucket` switches the file split from size-only to the
    * bucket-CHANGE split (`rotate.interval.ms`,
    * `TopicPartitionWriter.java:516-519`) — the same
    * disjoint-contiguous-ranges discipline as the BatchWriter formats;
    * everything downstream keys on (part, file_idx) and is
    * split-scheme agnostic.
    *
    * One staging job writes the files and returns the commit manifest:
    * each task reports the offset range of every file it staged, so
    * nothing is pinned and no second pass computes the ranges. An input
    * already clustered by `part` (a streaming batch) is staged where it
    * lies; any other is exchanged by `(part, file_idx)` first. */
  def write(df: DataFrame, outDir: String, topic: String, flushSize: Int,
            pad: Int = FileNaming.DefaultZeroPadWidth,
            codec: String = "null",
            rotationBucket: Option[Column] = None)
      : Seq[BatchWriter.CommittedFile] = {
    codecFor(codec) // validate on the driver, not first-task
    // same charset gate as the BatchWriter formats: an out-of-charset
    // topic writes names the committed-file regex can never parse
    // back (offset recovery silently restarts at 0), and a '/'
    // escapes the layout entirely
    require(FileNaming.isValidTopicName(topic),
      s"illegal topic name: '$topic'")
    val spark = df.sparkSession
    // the sink pins nothing itself; the per-topic fan-out that feeds it
    // filters a persisted batch
    SessionSafety.disableNaNDroppingCachePruning(spark)
    val byPart = Seq(col("part"))
    val inTask = Rotation.clusteredBy(df, byPart)
    val sized = rotationBucket match {
      case Some(bucket) => Rotation.withBucketChangeFileIndex(
        df, byPart, col("off"), bucket, flushSize)
      case None => Rotation.withSizeFileIndex(
        df, byPart, col("off"), flushSize, "file_idx", inTask)
    }
    val staged = s"$outDir/+tmp/$topic"
    val payloadSchema = StructType(
      sized.schema.fields.filterNot(f => f.name == "file_idx"))
    val avroJson = avroSchemaFor(payloadSchema, topic.replaceAll("[^A-Za-z0-9_]", "_")).toString
    val fieldNames = payloadSchema.fieldNames.toSeq

    // wipe any staging leftovers from a previous crashed run BEFORE the
    // job: on HDFS the task-side promotion is rename-if-absent, and a
    // stale part-0.avro from an old run must not win over fresh data
    FileSystem.get(new Path(staged).toUri, spark.sparkContext.hadoopConfiguration)
      .delete(new Path(staged), true)

    // the staging job returns the manifest: each task reports the
    // (part, file_idx, first offset, last offset) of every file it
    // staged, and collect() keeps one successful attempt per partition
    import spark.implicits._
    val manifest = (if (inTask) sized else sized.repartition(col("part"), col("file_idx")))
      .sortWithinPartitions(col("part"), col("file_idx"), col("off"))
      .mapPartitions { rows: Iterator[Row] =>
        val tc = org.apache.spark.TaskContext.get()
        val tag =
          if (tc != null) s"attempt-${tc.taskAttemptId()}"
          else s"attempt-${java.util.UUID.randomUUID()}"
        writePartitionStaged(rows, avroJson, staged, codec, fieldNames, tag).iterator
      }
      .collect()
      .sortBy(t => (t._1, t._2))

    val fs = FileSystem.get(new Path(outDir).toUri, spark.sparkContext.hadoopConfiguration)
    val committed = manifest.toSeq.map { case (p, i, s, e) =>
      val src = new Path(s"$staged/part=$p/file_idx=$i/part-0.avro")
      val destDir = new Path(s"$outDir/$topic/partition=$p")
      fs.mkdirs(destDir)
      val dest = new Path(destDir, FileNaming.encodeName(topic, p.toInt, s, e, ".avro", pad))
      // environment failure → IOException so Retry.withBackoff re-runs
      // it (require/IAE is reserved for deterministic config errors)
      if (!fs.exists(dest) && !fs.rename(src, dest))
        throw new java.io.IOException(s"rename failed: $src -> $dest")
      BatchWriter.CommittedFile(topic, p, i, s, e, dest.toString)
    }
    fs.delete(new Path(staged), true)
    committed
  }

  /** One task attempt's staged write. Rows (grouped + sorted by
    * `(part, file_idx, off)`) go to ATTEMPT-UNIQUE temp files
    * (`part-0.avro.<tag>.tmp`), promoted to the canonical staged name
    * by an atomic rename only after every writer closed cleanly — so a
    * speculative or retried duplicate attempt can never interleave
    * container blocks with the winner's (the reference's temp→rename
    * staging discipline, `FileUtils.java:66-75`). On HDFS the rename is
    * first-wins (rename onto an existing path fails and the loser's
    * temp is dropped); on a POSIX local FS it is last-wins — either
    * way the visible file is ONE attempt's complete output, and both
    * attempts wrote identical logical content. A failed attempt
    * deletes its temps.
    *
    * Returns `(part, file_idx, min off, max off)` for each staged file:
    * the offsets this attempt wrote into it. */
  private[ingest] def writePartitionStaged(rows: Iterator[Row], avroJson: String,
      staged: String, codec: String, fieldNames: Seq[String],
      attemptTag: String): Seq[(Long, Long, Long, Long)] = {
    val schema = new Schema.Parser().parse(avroJson)
    val fs = FileSystem.get(new Path(staged).toUri, new Configuration())
    val writers = mutable.Map.empty[(Long, Long),
      (Path, DataFileWriter[GenericRecord], Array[Long])]
    var ok = false
    try {
      rows.foreach { r =>
        val key = (r.getAs[Long]("part"), r.getAs[Long]("file_idx"))
        val off = r.getAs[Long]("off")
        val (_, w, range) = writers.getOrElseUpdate(key, {
          val tmp = new Path(
            s"$staged/part=${key._1}/file_idx=${key._2}/part-0.avro.$attemptTag.tmp")
          val out = fs.create(tmp, true)
          val dfw = new DataFileWriter[GenericRecord](
            new GenericDatumWriter[GenericRecord](schema))
          dfw.setCodec(codecFor(codec))
          dfw.create(schema, out)
          (tmp, dfw, Array(off, off))
        })
        range(0) = math.min(range(0), off)
        range(1) = math.max(range(1), off)
        val rec = new GenericData.Record(schema)
        fieldNames.foreach(n => rec.put(n, toAvro(r.getAs[Any](n))))
        w.append(rec)
      }
      ok = true
    } finally {
      // close EVERY writer even when one close throws (disk-full at
      // final-block flush): a plain foreach would skip the rest,
      // leaking their output streams across task retries and
      // stranding their temps un-deleted
      val bodyOk = ok
      var firstClose: Throwable = null
      writers.values.foreach { case (_, w, _) =>
        try w.close()
        catch { case t: Throwable =>
          if (firstClose == null) firstClose = t else firstClose.addSuppressed(t)
          ok = false
        }
      }
      if (ok)
        writers.foreach { case ((p, i), (tmp, _, _)) =>
          val dest = new Path(s"$staged/part=$p/file_idx=$i/part-0.avro")
          if (!fs.rename(tmp, dest)) fs.delete(tmp, false) // lost to a winner
        }
      else
        writers.values.foreach { case (tmp, _, _) => fs.delete(tmp, false) }
      // a failed close means unflushed data: the task MUST fail even
      // though the row loop succeeded (returning normally here would
      // let the commit adopt a truncated file). When the BODY already
      // threw, let ITS exception propagate — rethrowing here would
      // mask the root cause.
      if (bodyOk && firstClose != null) throw firstClose
    }
    writers.toSeq.map { case ((p, i), (_, _, r)) => (p, i, r(0), r(1)) }
  }

  private def fromAvro(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (u: CharSequence, StringType) => u.toString
    case (b: java.nio.ByteBuffer, BinaryType) =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
    case (l: java.lang.Long, TimestampType) =>
      val micros = l.longValue()
      val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      ts
    case (x, _) => x
  }

  /** B5 end-to-end — committed Avro container files as a DataFrame,
    * without the spark-avro module: a distributed `binaryFile` scan
    * feeds avro-core container decoding on the executors (reference
    * readers `avro/AvroFileReader.java:42-53`). Each task decodes whole
    * container files — correct parallelism for flush-size-bounded sink
    * output, where file count >> executor count at scale. `schema`
    * must be the payload schema the files were written with (the
    * [[avroSchemaFor]] type lattice). */
  def readDataFrame(spark: org.apache.spark.sql.SparkSession, path: String,
                    schema: StructType): DataFrame = {
    val fieldNames = schema.fieldNames.toSeq
    val types = schema.fields.map(_.dataType).toSeq
    val rdd = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.avro").load(path)
      .select(col("content")).rdd
      .flatMap { row =>
        val in = new org.apache.avro.file.SeekableByteArrayInput(
          row.getAs[Array[Byte]](0))
        val rdr = new DataFileReader[GenericRecord](
          in, new GenericDatumReader[GenericRecord]())
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        try while (rdr.hasNext) {
          val rec = rdr.next()
          out += Row.fromSeq(fieldNames.zip(types).map {
            case (n, dt) => fromAvro(rec.get(n), dt)
          })
        } finally rdr.close()
        out
      }
    spark.createDataFrame(rdd, schema)
  }

  /** B5 — Avro schema + record read-back (driver-side, avro-core). */
  def readFile(path: String): (Schema, Seq[Map[String, Any]]) = {
    val reader = new DataFileReader[GenericRecord](
      new java.io.File(path), new GenericDatumReader[GenericRecord]())
    try {
      val schema = reader.getSchema
      val out = Seq.newBuilder[Map[String, Any]]
      while (reader.hasNext) {
        val r = reader.next()
        out += schema.getFields.toArray.map { f0 =>
          val f = f0.asInstanceOf[Schema.Field]
          val v = r.get(f.name()) match {
            case u: org.apache.avro.util.Utf8 => u.toString
            case x => x
          }
          f.name() -> v
        }.toMap
      }
      (schema, out.result())
    } finally reader.close()
  }
}
