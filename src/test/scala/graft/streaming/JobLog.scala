package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Records every job start with its streaming query id, batch id and
  * job group (Spark's local properties on the job). The job-budget
  * specs count a streaming query's Spark jobs per micro-batch with it,
  * and the read specs the jobs of one job group. */
final class JobLog(spark: SparkSession) extends SparkListener {
  private val starts = new ConcurrentLinkedQueue[(String, String, String)]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties)
      .flatMap(p => Option(p.getProperty(k))).getOrElse("")
    starts.add((prop("sql.streaming.queryId"),
      prop("streaming.sql.batchId"), prop("spark.jobGroup.id")))
    ()
  }

  /** Jobs per micro-batch of one query. */
  def perBatch(queryId: String): Map[Long, Int] =
    drained().collect { case (`queryId`, b, _) if b.nonEmpty => b.toLong }
      .groupBy(identity).map { case (b, js) => b -> js.size }

  /** Jobs started under one job group. */
  def inGroup(group: String): Int = drained().count(_._3 == group)

  /** Every job start so far. The listener bus is asynchronous: a marker
    * job is run first, and once its start has arrived every earlier
    * event has too. */
  private def drained(): Seq[(String, String, String)] = {
    val sc = spark.sparkContext
    val marker = s"drain-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(marker, "listener drain")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!starts.asScala.exists(_._3 == marker)) {
      assert(System.nanoTime() < deadline, "listener bus did not drain")
      Thread.sleep(20)
    }
    starts.asScala.toSeq
  }
}
