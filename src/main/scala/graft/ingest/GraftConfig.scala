package graft.ingest

import java.time.ZoneId
import java.util.Locale

/** Unified typed sink configuration — the reference's
  * `HdfsSinkConnectorConfig` surface (key set from
  * `docs/configuration_options.rst`, validation behavior from
  * `HdfsSinkConnectorConfigTest.java:57-245`) as one Scala object
  * instead of `require()`s scattered across the writer components.
  *
  * Matches the reference's three validation behaviors:
  *   - per-key VALIDATION with recommender-style messages that list
  *     the valid values (`testUnsupportedAvroCompressionSettings`);
  *   - RECOMMENDED VALUES per enumerated key
  *     (`testRecommendedValues`);
  *   - partitioner-dependent key VISIBILITY — `partition.field.name`
  *     only matters under the field partitioner, duration/path
  *     format/locale/timezone only under the time-based family
  *     (`testVisibilityForPartitionerClassDependentConfigs`).
  *
  * `validate` reports EVERY key's state (Kafka `ConfigDef.validate`
  * shape); `apply` builds the typed config or throws ONE exception
  * aggregating all errors — a misconfigured job fails at
  * construction with the full list, not at the first `require()` it
  * happens to hit mid-write.
  */
object GraftConfig {

  /** One key's validation outcome (the `ConfigValue` shape). */
  final case class Validated(name: String, value: String,
                             errors: Seq[String], recommended: Seq[String],
                             visible: Boolean)

  // ---- key names: the reference's, minus the Hadoop/Kerberos plane
  //      this engine replaces with Spark's own deployment ----
  val FlushSize = "flush.size"
  val RotateIntervalMs = "rotate.interval.ms"
  val RotateScheduleIntervalMs = "rotate.schedule.interval.ms"
  val RetryBackoffMs = "retry.backoff.ms"
  val ShutdownTimeoutMs = "shutdown.timeout.ms"
  val ZeroPadWidth = "filename.offset.zero.pad.width"
  val Format = "format.class"
  val AvroCodec = "avro.codec"
  val PartitionerClass = "partitioner.class"
  val PartitionField = "partition.field.name"
  val PartitionDurationMs = "partition.duration.ms"
  val PathFormat = "path.format"
  val TimestampField = "timestamp.field"
  val LocaleKey = "locale"
  val Timezone = "timezone"
  val TopicsDir = "topics.dir"
  val DirectoryDelim = "directory.delim"
  val FileDelim = "file.delim"
  val SchemaCompatibility = "schema.compatibility"
  val StoreUrl = "store.url"
  val HdfsUrl = "hdfs.url"
  val TimestampExtractorKey = "timestamp.extractor"
  val LogsDir = "logs.dir"
  val HiveIntegration = "hive.integration"
  val SchemaCacheSize = "schema.cache.size"
  val Transforms = "transforms"
  val Predicates = "predicates"

  /** The reference's `schema.compatibility` lattice
    * (`docs/configuration_options.rst:273-274`). */
  val SchemaCompatibilities: Seq[String] =
    Seq("NONE", "BACKWARD", "FORWARD", "FULL")

  /** The reference's `timestamp.extractor` roster (short names for the
    * `partitioner.TimestampExtractor` classes). The reference defaults
    * to Wallclock; this engine defaults to RecordField — wallclock
    * routing makes a replayed batch land in different directories than
    * its first run, which breaks the deterministic-replay contract the
    * commit protocol is built on, so the deterministic extractor is
    * the default and Wallclock is opt-in. */
  val TimestampExtractors: Seq[String] = Seq("Wallclock", "Record", "RecordField")

  /** Reference keys whose PLANE this engine deliberately replaces with
    * a Spark-native mechanism — configured values have no consumer by
    * design, so setting one fails fast with the replacement named
    * (a friendlier answer than the generic unknown-key error). */
  private val ReplacedPlane: Map[String, String] = Map(
    "hadoop.conf.dir" -> "Spark's own Hadoop configuration",
    "hadoop.home" -> "Spark's own Hadoop configuration",
    "hdfs.authentication.kerberos" -> "Spark's Kerberos deployment (spark.kerberos.*)",
    "hdfs.namenode.principal" -> "Spark's Kerberos deployment (spark.kerberos.*)",
    "connect.hdfs.keytab" -> "Spark's Kerberos deployment (spark.kerberos.*)",
    "connect.hdfs.principal" -> "Spark's Kerberos deployment (spark.kerberos.*)",
    "kerberos.ticket.renew.period.ms" -> "Spark's Kerberos deployment (spark.kerberos.*)",
    "hive.metastore.uris" -> "the Spark session catalog (graft.catalog.TableCatalog)",
    "hive.conf.dir" -> "the Spark session catalog (graft.catalog.TableCatalog)",
    "hive.home" -> "the Spark session catalog (graft.catalog.TableCatalog)",
    "hive.database" -> "the Spark session catalog (graft.catalog.TableCatalog)",
    "storage.class" -> "Spark's Hadoop FileSystem abstraction")

  /** Formats this engine writes (BatchWriter + AvroSink — the
    * reference's `format.class` recommender list). */
  val Formats: Seq[String] = BatchWriter.Formats.keys.toSeq.sorted :+ "avro"

  /** The reference's `format.class` FQCN spellings, normalized to
    * engine formats. This is also the whole OLD-Format-API
    * compatibility story (`OldRecordWriterWrapper.java:1-40`,
    * `FormatAPIDataWriterCompatibilityTest.java`): the deprecated
    * `io.confluent.connect.hdfs.Format` and its replacement
    * `io.confluent.connect.storage.format.Format` are two JAVA
    * INTERFACES the same four config values implemented across
    * generations — a runtime-ABI concern with no counterpart in a
    * declarative engine, where a format is a config VALUE entering a
    * `DataFrameWriter`, not user code called record-at-a-time. Both
    * generations' configs carry these exact strings, so accepting them
    * here serves every old-API user the wrapper served, with nothing
    * left to wrap. */
  val FormatClassAliases: Map[String, String] = Map(
    "io.confluent.connect.hdfs.avro.AvroFormat" -> "avro",
    "io.confluent.connect.hdfs.parquet.ParquetFormat" -> "parquet",
    "io.confluent.connect.hdfs.json.JsonFormat" -> "json",
    "io.confluent.connect.hdfs.string.StringFormat" -> "text")

  /** Engine name for a `format.class` value (identity for the engine's
    * own short names). */
  def normalizeFormat(v: String): String = FormatClassAliases.getOrElse(v, v)

  /** The reference's `avro.codec` lattice (AvroSink.codecFor). */
  val AvroCodecs: Seq[String] = Seq("null", "deflate", "snappy", "bzip2")

  /** Partitioner roster (graft.partition.Partitioners — the
    * reference's partitioner.class recommender list). A value
    * containing '.' is instead treated as a fully-qualified class name
    * and loaded by reflection — the reference's custom-partitioner
    * extension point (`DataWriter.java:537-558`,
    * `docs/hdfs_connector.rst:205-208`); see
    * [[graft.partition.PluggablePartitioner]]. */
  val Partitioners: Seq[String] = Seq("default", "field", "time", "daily", "hourly")

  private val TimeBased = Set("time", "daily", "hourly")

  /** Roster names never contain '.'; a dotted value is a user class. */
  private def isCustom(v: String): Boolean = v.contains(".")

  private val Defaults: Map[String, String] = Map(
    RotateIntervalMs -> "-1",
    RotateScheduleIntervalMs -> "-1",
    RetryBackoffMs -> "5000",
    ShutdownTimeoutMs -> "3000",
    ZeroPadWidth -> FileNaming.DefaultZeroPadWidth.toString,
    Format -> "parquet",
    AvroCodec -> "null",
    PartitionerClass -> "default",
    PartitionField -> "",
    PartitionDurationMs -> "-1",
    PathFormat -> "",
    TimestampField -> "timestamp",
    LocaleKey -> "",
    Timezone -> "UTC",
    TopicsDir -> "topics",
    DirectoryDelim -> "/",
    FileDelim -> "+",
    SchemaCompatibility -> "NONE",
    StoreUrl -> "",
    HdfsUrl -> "",
    TimestampExtractorKey -> "RecordField",
    LogsDir -> "logs",
    HiveIntegration -> "false",
    SchemaCacheSize -> "1000",
    Transforms -> "",
    Predicates -> "")

  private def asLong(v: String): Either[String, Long] =
    try Right(v.trim.toLong) catch {
      case _: NumberFormatException => Left(s"'$v' is not a long")
    }
  private def asInt(v: String): Either[String, Int] =
    try Right(v.trim.toInt) catch {
      case _: NumberFormatException => Left(s"'$v' is not an int")
    }

  /** Validate every key (unknown keys error too — the reference's
    * ConfigDef rejects undefined names at the AbstractConfig layer).
    * Returns one [[Validated]] per defined key, resolved value
    * included, plus one per unknown key passed in. */
  def validate(props: Map[String, String]): Seq[Validated] = {
    val get = (k: String) => {
      val raw = props.getOrElse(k, Defaults.getOrElse(k, ""))
      if (k == Format) normalizeFormat(raw) else raw
    }
    val partitioner = get(PartitionerClass)
    def check(name: String): (Seq[String], Seq[String]) = name match {
      case FlushSize =>
        if (!props.contains(FlushSize)) (Seq(s"$FlushSize is required"), Nil)
        else (asInt(get(FlushSize)) match {
          case Right(n) if n > 0 => Nil
          case Right(n) => Seq(s"$FlushSize must be a positive record count, got $n")
          case Left(e) => Seq(e)
        }, Nil)
      case RotateIntervalMs | RotateScheduleIntervalMs =>
        (asLong(get(name)) match {
          case Right(n) if n == -1L || n > 0L => Nil
          case Right(n) => Seq(s"$name must be -1 (disabled) or a positive " +
            s"interval in milliseconds, got $n")
          case Left(e) => Seq(e)
        }, Nil)
      case PartitionDurationMs =>
        (asLong(get(name)) match {
          case Right(n) if n > 0L => Nil
          case Right(-1L) =>
            if (partitioner == "time")
              Seq(s"$PartitionDurationMs is required by the time partitioner")
            else Nil
          case Right(n) => Seq(s"$name must be -1 (unset) or a positive " +
            s"bucket width in milliseconds, got $n")
          case Left(e) => Seq(e)
        }, Nil)
      case RetryBackoffMs | ShutdownTimeoutMs =>
        (asLong(get(name)) match {
          case Right(n) if n >= 0L => Nil
          case Right(n) => Seq(s"$name must be >= 0 milliseconds, got $n")
          case Left(e) => Seq(e)
        }, Nil)
      case ZeroPadWidth =>
        (asInt(get(name)) match {
          case Right(n) if n >= 0 => Nil
          case Right(n) => Seq(s"$name must be >= 0, got $n")
          case Left(e) => Seq(e)
        }, Nil)
      case Format =>
        (if (Formats.contains(get(name))) Nil
         else Seq(s"unknown format '${get(name)}'; valid values are " +
           Formats.mkString(", ")), Formats)
      case AvroCodec =>
        (if (AvroCodecs.contains(get(name))) Nil
         else Seq(s"unknown $AvroCodec '${get(name)}'; valid values are " +
           AvroCodecs.mkString(", ")), AvroCodecs)
      case PartitionerClass =>
        val v = get(name)
        (if (Partitioners.contains(v)) Nil
         else if (isCustom(v))
           graft.partition.Plugins.load(v,
               classOf[graft.partition.PluggablePartitioner])
             .left.toSeq.map(e => s"$PartitionerClass: $e")
         else Seq(s"unknown partitioner '$v'; valid values are " +
           Partitioners.mkString(", ") + ", or a fully-qualified class " +
           "implementing graft.partition.PluggablePartitioner"), Partitioners)
      case PartitionField =>
        (if (partitioner == "field" && get(name).isEmpty)
           Seq(s"$PartitionField is required by the field partitioner")
         else Nil, Nil)
      case TimestampField =>
        (if (get(name).trim.nonEmpty) Nil
         else Seq(s"$TimestampField must name the record-time column " +
           "(consumed by time partitioners and rotate.interval.ms)"), Nil)
      case PathFormat =>
        // empty → the engine's native long format (year=/month=<name>/
        // day=/hour=). A custom Joda pattern is translated into a
        // Column chain covering the full Joda print alphabet (the
        // zone-name token z is gated on the configured zone having an
        // unambiguous offset→name map); anything untranslatable
        // refuses HERE rather than writing a wrong tree. A CUSTOM
        // partitioner class receives the full property map in
        // configure() and may consume path.format itself, so any value
        // is free there (the reference hands its config to the loaded
        // partitioner the same way).
        (if (get(name).isEmpty || isCustom(partitioner)) Nil
         else if (partitioner != "time")
           Seq(s"$PathFormat applies only to the time partitioner " +
             s"(got '$partitioner'); daily/hourly derive their formats")
         else {
           val loc = if (get(LocaleKey).isEmpty) Locale.US
             else Locale.forLanguageTag(get(LocaleKey).replace('_', '-'))
           val bad = graft.partition.Partitioners.jodaUnsupported(
             get(name), get(Timezone), loc)
           if (bad.isEmpty) Nil
           else Seq(s"$PathFormat '${get(name)}' has untranslatable " +
             s"tokens: ${bad.mkString(", ")} — supported: quoted " +
             "literals and the full Joda print alphabet (zone name " +
             "z needs an unambiguous offset→name map for the zone)")
         }, Nil)
      case DirectoryDelim =>
        (if (get(name) == "/") Nil
         else Seq(s"$DirectoryDelim supports only '/', got '${get(name)}'"), Nil)
      case FileDelim =>
        (if (get(name) == "+") Nil
         else Seq(s"$FileDelim supports only '+' (offset-ranged names " +
           s"are <topic>+<partition>+<start>+<end>), got '${get(name)}'"), Nil)
      case Timezone =>
        (try { ZoneId.of(get(name)); Nil } catch {
          case _: Exception => Seq(s"invalid $Timezone '${get(name)}'; use an " +
            "IANA zone id like UTC, America/Chicago, Europe/Paris")
        }, Nil)
      case LocaleKey =>
        val v = get(name)
        (if (v.isEmpty) Nil
         else if (Locale.forLanguageTag(v.replace('_', '-')).toLanguageTag != "und") Nil
         else Seq(s"invalid $LocaleKey '$v'; use a BCP-47 tag like en-US, fr-FR"),
          Nil)
      case TopicsDir =>
        val v = get(name)
        val segs = v.split('/')
        (if (v.isEmpty || v.startsWith("/") || v.endsWith("/") ||
           segs.exists(s => s.isEmpty || s == "." || s == ".."))
           Seq(s"$TopicsDir must be a relative path with no empty/./.. " +
             s"segments, got '$v'")
         else Nil, Nil)
      case SchemaCompatibility =>
        (if (SchemaCompatibilities.contains(get(name).toUpperCase(Locale.ROOT)))
           Nil
         else Seq(s"unknown $SchemaCompatibility '${get(name)}'; valid " +
           s"values are ${SchemaCompatibilities.mkString(", ")}"),
          SchemaCompatibilities)
      case TimestampExtractorKey =>
        val v = get(name)
        (if (TimestampExtractors.contains(v)) Nil
         else if (isCustom(v))
           graft.partition.Plugins.load(v,
               classOf[graft.partition.PluggableTimestampExtractor])
             .left.toSeq.map(e => s"$TimestampExtractorKey: $e")
         else Seq(s"unknown $TimestampExtractorKey '$v'; valid " +
           s"values are ${TimestampExtractors.mkString(", ")}, or a " +
           "fully-qualified class implementing " +
           "graft.partition.PluggableTimestampExtractor"),
          TimestampExtractors)
      case LogsDir =>
        (if (get(name) == "logs") Nil
         else Seq(s"$LogsDir is not relocatable: the transactional " +
           "commit log lives at <topic>/_commitlog (CommitLog replaces " +
           s"the reference's WAL directory), got '${get(name)}'"), Nil)
      case HiveIntegration =>
        (get(name) match {
          case "false" => Nil
          case "true" => Seq(s"$HiveIntegration is built in: tables " +
            "register through the Spark session catalog " +
            "(graft.catalog.TableCatalog) — the flag has no consumer")
          case v => Seq(s"$HiveIntegration must be true or false, got '$v'")
        }, Seq("false", "true"))
      case SchemaCacheSize =>
        (asInt(get(name)) match {
          case Right(1000) => Nil
          case Right(n) if n > 0 => Seq(s"$SchemaCacheSize is not " +
            "tunable: the engine does not cache converted schemas " +
            s"(leave at the default 1000), got $n")
          case Right(n) => Seq(s"$SchemaCacheSize must be positive, got $n")
          case Left(e) => Seq(e)
        }, Nil)
      case Transforms =>
        // the whole transforms.* + predicates.* family validates as
        // one unit — alias declarations, types, per-type params,
        // predicate references, reserved columns
        (Smt.parse(props, get(TimestampField)).left.getOrElse(Nil), Nil)
      case Predicates => (Nil, Nil) // validated with Transforms above
      case _ => (Nil, Nil)
    }
    val defined = Defaults.keySet + FlushSize
    val known = defined.toSeq.sorted.map { name =>
      val visible = name match {
        // a custom partitioner class may consume any dependent key
        // (it gets the full property map), so all stay visible there
        case PartitionField => partitioner == "field" || isCustom(partitioner)
        // duration and path format are free knobs only on the generic
        // time partitioner; daily/hourly derive both (the reference's
        // visibility matrix)
        case PartitionDurationMs | PathFormat =>
          partitioner == "time" || isCustom(partitioner)
        case LocaleKey | Timezone =>
          TimeBased(partitioner) || isCustom(partitioner)
        case _ => true
      }
      val (errors, recommended) = check(name)
      Validated(name, get(name), errors, recommended, visible)
    }
    // transforms.<alias>.<param> / predicates.<alias>.<param> keys are
    // validated as a family under the `transforms` entry above, not as
    // unknown keys
    val unknown = (props.keySet -- defined)
      .filterNot(k => k.startsWith("transforms.") ||
        k.startsWith("predicates.")).toSeq.sorted.map { name =>
      val err = ReplacedPlane.get(name) match {
        case Some(replacement) =>
          s"'$name' configures a plane this engine replaces with " +
            s"$replacement — the key has no consumer here"
        case scala.None => s"unknown configuration key '$name'"
      }
      Validated(name, props(name), Seq(err), Nil, visible = true)
    }
    known ++ unknown
  }

  /** Build the typed config, or throw one exception listing every
    * error (fail at construction, not mid-write). */
  def apply(props: Map[String, String]): GraftConfig = {
    val vs = validate(props)
    val errors = vs.flatMap(v => v.errors)
    if (errors.nonEmpty)
      throw new IllegalArgumentException(
        s"invalid sink configuration:\n  ${errors.mkString("\n  ")}")
    val m = vs.map(v => v.name -> v.value).toMap
    GraftConfig(
      flushSize = m(FlushSize).trim.toInt,
      rotateIntervalMs = m(RotateIntervalMs).trim.toLong,
      rotateScheduleIntervalMs = m(RotateScheduleIntervalMs).trim.toLong,
      retryBackoffMs = m(RetryBackoffMs).trim.toLong,
      shutdownTimeoutMs = m(ShutdownTimeoutMs).trim.toLong,
      zeroPadWidth = m(ZeroPadWidth).trim.toInt,
      format = m(Format),
      avroCodec = m(AvroCodec),
      partitioner = m(PartitionerClass),
      partitionField = m(PartitionField),
      partitionDurationMs = m(PartitionDurationMs).trim.toLong,
      pathFormat = m(PathFormat),
      timestampField = m(TimestampField),
      locale = m(LocaleKey),
      timezone = m(Timezone),
      topicsDir = m(TopicsDir),
      directoryDelim = m(DirectoryDelim),
      fileDelim = m(FileDelim),
      schemaCompatibility = m(SchemaCompatibility).toUpperCase(Locale.ROOT),
      // store.url overrides hdfs.url, the reference's own precedence
      // (DataWriter.java:129-137)
      storeUrl = Seq(m(StoreUrl), m(HdfsUrl)).find(_.nonEmpty),
      timestampExtractor = m(TimestampExtractorKey),
      smts = Smt.parse(props, m(TimestampField))
        .getOrElse(Seq.empty), // errors already thrown above
      customPartitioner = loadConfigured(m(PartitionerClass),
        classOf[graft.partition.PluggablePartitioner], props),
      customTimestampExtractor = loadConfigured(m(TimestampExtractorKey),
        classOf[graft.partition.PluggableTimestampExtractor], props))
  }

  /** Instantiate + configure a custom plug-in class, or None for a
    * roster name. Load errors were already raised by validate(). */
  private def loadConfigured[T <: graft.partition.Pluggable](
      v: String, iface: Class[T], props: Map[String, String]): Option[T] =
    if (!isCustom(v)) scala.None
    else {
      val inst = graft.partition.Plugins.load(v, iface)
        .fold(e => throw new IllegalArgumentException(e), identity)
      inst.configure(props)
      Some(inst)
    }
}

/** The validated, typed view the writer components consume. */
final case class GraftConfig(
    flushSize: Int,
    rotateIntervalMs: Long,
    rotateScheduleIntervalMs: Long,
    retryBackoffMs: Long,
    shutdownTimeoutMs: Long,
    zeroPadWidth: Int,
    format: String,
    avroCodec: String,
    partitioner: String,
    partitionField: String,
    partitionDurationMs: Long,
    pathFormat: String,
    timestampField: String,
    locale: String,
    timezone: String,
    topicsDir: String,
    directoryDelim: String,
    fileDelim: String,
    schemaCompatibility: String,
    storeUrl: Option[String],
    timestampExtractor: String,
    smts: Seq[Smt] = Seq.empty,
    customPartitioner: Option[graft.partition.PluggablePartitioner] =
      scala.None,
    customTimestampExtractor:
      Option[graft.partition.PluggableTimestampExtractor] = scala.None) {

  /** Apply the configured SMT chain (`transforms=`) to one batch, in
    * declared order — the Connect runtime's record transforms, run
    * before the sink logic sees the batch. Routers (topic rewrites)
    * only compose with the multi-topic plane; single-topic callers
    * pass `includeRouters = false` and must have rejected router
    * configs up front. */
  def applySmts(df: org.apache.spark.sql.DataFrame,
                includeRouters: Boolean): org.apache.spark.sql.DataFrame = {
    require(includeRouters || smts.forall(!_.routesTopic),
      "router SMTs configured on a single-topic stream")
    smts.foldLeft(df)((d, t) => t.apply(d))
  }

  /** The store's data root under `topics.dir` — the reference's
    * `<url>/<topics.dir>/<topic>/...` layout (`FileUtils.java:39-64`,
    * `topics.dir` default `topics`). Every [[write]] lands under this
    * root; pass the SAME root to the read-side helpers
    * (`BatchWriter.read`/`CommitLog.*`) when pairing them with a
    * config-driven writer. */
  def topicsRoot(outDir: String): String = s"$outDir/$topicsDir"

  /** Batch write with EVERY write-plane knob consumed — the one
    * dispatch point over [[BatchWriter]] and [[AvroSink]]:
    * format/codec/pad select the sink, `topics.dir` roots the layout
    * (`<outDir>/<topics.dir>/<topic>/...`, the reference's
    * `FileUtils.java:39-64` path scheme), `partitioner.class` (+
    * dependents) encodes the directory layout via [[partitionPath]],
    * and `rotate.interval.ms` > 0 additionally splits files on
    * record-time interval buckets (the reference's data-time rotation,
    * `TopicPartitionWriter.java:516-519`), both reading record time
    * from the `timestamp.field` column. The default partitioner with
    * rotation disabled reproduces `BatchWriter.write`'s layout
    * bit-for-bit (under the `topics.dir` root). Avro keeps the default
    * layout (its writer has its own staging path) — configuring it
    * with a non-default partitioner or interval rotation fails fast
    * here. */
  def write(df: org.apache.spark.sql.DataFrame, outDir: String,
            topic: String): Seq[BatchWriter.CommittedFile] = {
    import org.apache.spark.sql.functions.{col, lit, unix_millis}
    val root = topicsRoot(outDir)
    if (format == "avro") {
      require(partitioner == "default",
        "the avro sink writes the default layout; use a BatchWriter " +
          "format for partitioned layouts")
      val bucket =
        if (rotateIntervalMs > 0)
          Some(Rotation.longDiv(unix_millis(recordTime(col)),
            lit(rotateIntervalMs)))
        else None
      return AvroSink.write(df, root, topic, flushSize, zeroPadWidth,
        avroCodec, bucket)
    }
    if (partitioner == "default" && rotateIntervalMs <= 0)
      return BatchWriter.write(df, root, topic, flushSize, zeroPadWidth, format)

    val ts = recordTime(col)
    val withEnc = df.withColumn("__enc",
      partitionPath(col("part"), ts, col))
    val keys = Seq(col("__enc"), col("part"))
    val inTask = Rotation.clusteredBy(withEnc, keys)
    val grouped =
      if (rotateIntervalMs > 0)
        // bucket-CHANGE rotation, not bucket-value grouping — the
        // latter lets out-of-order event time emit overlapping offset
        // ranges into one directory (see the Rotation scaladoc)
        Rotation.withBucketChangeFileIndex(withEnc, keys, col("off"),
          Rotation.longDiv(unix_millis(ts), lit(rotateIntervalMs)), flushSize)
      else
        // size-only: `(off − first)/flush` partitions the offset space
        // — files can only run small where encoding makes offsets
        // gappy, never above flushSize records
        Rotation.withSizeFileIndex(withEnc, keys, col("off"), flushSize,
          "file_idx", inTask)
    // text files carry only the payload line; the routing timestamp was
    // consumed by the encoder/rotation above and must not count as a
    // second payload column (dropped AFTER grouping — the rotation
    // expressions read it). `timestamp.field` is dropped even when a
    // different extractor routed the batch, so switching the extractor
    // knob never turns a working text layout into a payload-count
    // failure (drop ignores absent columns)
    val sized =
      if (format == "text") grouped.drop(rotationDropColumns: _*)
      else grouped
    BatchWriter.writeAssignedEncoded(sized, root, topic, zeroPadWidth, format,
      inTask)
  }

  /** [[write]] against the configured store root — the consumer of
    * `store.url`/`hdfs.url` (store.url wins, the reference's own
    * precedence, `DataWriter.java:129-137`). */
  def write(df: org.apache.spark.sql.DataFrame,
            topic: String): Seq[BatchWriter.CommittedFile] =
    write(df, storeUrl.getOrElse(throw new IllegalArgumentException(
      "no store root configured: set store.url (or hdfs.url), or call " +
        "write(df, outDir, topic)")), topic)

  /** The record-time Column the configured `timestamp.extractor`
    * yields (the reference's `partitioner.TimestampExtractor` family):
    * RecordField reads `timestamp.field`, Record reads the stream
    * envelope's `ts` (KafkaSource.normalize), Wallclock stamps the
    * write time. Consumed by the time-partitioner family and
    * `rotate.interval.ms`. */
  def recordTime(field: String => org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.current_timestamp
    timestampExtractor match {
      case "RecordField" => field(timestampField)
      case "Record" => field("ts")
      case "Wallclock" => current_timestamp()
      // a dotted name loaded a user class (validated at construction)
      case _ => customTimestampExtractor.get.recordTime(field)
    }
  }

  /** The columns the text format must drop AFTER rotation/encoding
    * consumed them (record-time source + `timestamp.field`) — text
    * payloads are single-column, and a routing timestamp must never
    * count as payload. Shared by the single-topic write below and the
    * multi-topic demux plane. */
  def rotationDropColumns: Seq[String] =
    (recordTimeColumn.toSeq :+ timestampField).distinct

  /** The stream column [[recordTime]] consumes, if any (None for
    * Wallclock — nothing to drop from a text payload). */
  private def recordTimeColumn: Option[String] = timestampExtractor match {
    case "RecordField" => Some(timestampField)
    case "Record" => Some("ts")
    // Wallclock reads no payload column; a custom extractor's inputs
    // are unknowable here, so nothing extra is dropped for it either
    case _ => scala.None
  }

  /** The configured partitioner as a path Column — `partitioner.class`
    * plus its dependent keys actually CONSTRUCTING the partitioner
    * (the reference's `Partitioner.configure`). The three argument
    * kinds cover the family: `kafkaPartition` for default, `ts` for
    * the time family (rendered in the configured `timezone`/`locale`),
    * `field` resolves `partition.field.name` to its column. */
  def partitionPath(kafkaPartition: org.apache.spark.sql.Column,
                    ts: org.apache.spark.sql.Column,
                    field: String => org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import graft.partition.Partitioners
    import org.apache.spark.sql.functions.from_utc_timestamp
    def localTs = from_utc_timestamp(ts, timezone)
    partitioner match {
      case "default" => Partitioners.defaultPartition(kafkaPartition)
      case "field" => Partitioners.fieldPartition(partitionField,
        field(partitionField))
      case "daily" => Partitioners.dailyPath(localTs)
      case "hourly" => Partitioners.hourlyPath(localTs)
      case "time" =>
        val loc = if (locale.isEmpty) Locale.US
                  else Locale.forLanguageTag(locale.replace('_', '-'))
        if (pathFormat.isEmpty)
          Partitioners.timeBasedPath(ts, partitionDurationMs, timezone, loc)
        else Partitioners.jodaPath(ts, partitionDurationMs, timezone, loc,
          pathFormat)
      // a dotted name loaded a user class (validated at construction):
      // its Column is built once at plan time, exactly like the
      // built-ins — a custom layout costs nothing extra per record
      case _ => customPartitioner.get.encode(kafkaPartition, ts, field)
    }
  }
}
