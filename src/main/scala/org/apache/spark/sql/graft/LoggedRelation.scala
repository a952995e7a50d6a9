package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{DataSource, FileFormat,
  FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.v2.FileDataSourceV2
import org.apache.spark.util.HadoopFSUtils

/** A file-source read over a file list the caller already knows (the
  * commit log's snapshot), without Spark listing those files again.
  * `spark.read.load(paths)` builds an `InMemoryFileIndex` that lists
  * every path, in a Spark job once there are more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` of them.
  * Here the caller lists each directory once through Spark's own lister
  * ([[leafFiles]], private to `org.apache.spark`) and [[load]] builds the
  * same relation over an index whose status cache already holds every
  * file, so the index never lists. */
object LoggedRelation {

  /** Every file under `dirs`, listed with the session's listing
    * settings: on the driver, one call per directory, up to the
    * parallel-discovery threshold of directories. The statuses are
    * located without loading permissions, which the local filesystem
    * does by forking a process per file. */
  def leafFiles(spark: SparkSession, dirs: Seq[Path],
                hadoopConf: Configuration): Seq[FileStatus] = {
    val conf = spark.sessionState.conf
    HadoopFSUtils.parallelListLeafFiles(spark.sparkContext, dirs, hadoopConf,
      filter = null, ignoreMissingFiles = false,
      ignoreLocality = conf.ignoreDataLocality,
      parallelismThreshold = conf.parallelPartitionDiscoveryThreshold,
      parallelismMax = conf.parallelPartitionDiscoveryParallelism)
      .flatMap(_._2)
  }

  /** `spark.read.options(options).format(format).load(paths)` over the
    * given statuses, one per path (qualified as the reader qualifies
    * them): the same `HadoopFsRelation`, partition inference and schema
    * inference, and the same plan. */
  def load(spark: SparkSession, format: String, options: Map[String, String],
           paths: Seq[Path], statuses: Map[Path, FileStatus]): DataFrame = {
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        statuses.get(path).map(Array(_))
      def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, paths, options, None, cache)
    val fileFormat = DataSource.lookupDataSource(format, spark.sessionState.conf)
      .getConstructor().newInstance() match {
        case v2: FileDataSourceV2 => v2.fallbackFileFormat.getConstructor().newInstance()
        case f: FileFormat => f
        case other => throw new IllegalArgumentException(
          s"$format is not a file format: ${other.getClass.getName}")
      }
    val relOptions = CaseInsensitiveMap(options)
    val dataSchema = fileFormat.inferSchema(spark, relOptions, index.allFiles())
      .getOrElse(throw new IllegalArgumentException(
        s"cannot infer a $format schema from ${paths.size} file(s)"))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      dataSchema.asNullable, None, fileFormat, relOptions)(spark))
  }
}
