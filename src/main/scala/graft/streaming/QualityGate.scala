package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.NativeExpressions
import graft.operators.LinearClassifier

/** Model-in-the-loop quality admission: [[StreamIngest.startLogged]]
  * plus a trained-classifier filter — only records whose linear-model
  * margin clears the calibrated threshold are ever committed. The
  * streaming deployment of `train_quality_classifier` →
  * `classifier_threshold_for_rate`: train and calibrate on a standing
  * corpus in batch, then hold the live firehose to that bar at the
  * gate, the way a production pretraining pipeline filters with a
  * fasttext-style scorer before data lands.
  *
  * Scale shape per micro-batch: the weight vector arrives as a PLAN
  * LITERAL (`buckets`+1 longs — [[LinearClassifier.collectWeights]]'s
  * deployment form, the KMeans literal-centroid idiom), so scoring is
  * a pure scan-side projection: tokenize, bucket-hash, map-lookup,
  * sum. No join, no shuffle, no index plane, no per-batch driver work —
  * the gate costs one codegen'd filter regardless of corpus or batch
  * size. Unlike the dedup gates there is no cross-batch state to keep
  * consistent: the decision is per-record, so crash-replay correctness
  * is entirely the offset resume filter's.
  *
  * Weights are snapshotted at stream START (the blocklist gate's
  * contract): a model retrained mid-stream takes effect on restart.
  */
object QualityGate {

  /** Start a logged stream that commits only records whose
    * [[LinearClassifier.scoreLiteral]] margin over `textCol` is
    * ≥ `minMargin`. `weights` is a fitted
    * [[LinearClassifier.collectWeights]] map over `buckets` hash
    * buckets (plus the bias slot); `minMargin` comes from the raw
    * perceptron sign (1) or a `classifier_threshold_for_rate`-style
    * calibration. A batch whose every record scores below the bar
    * publishes nothing and still advances the checkpoint. */
  def startLoggedQualityFiltered(stream: DataFrame, outDir: String,
                                 topic: String, weights: Map[Long, Long],
                                 buckets: Int, flushSize: Int,
                                 checkpoint: String, minMargin: Long = 1L,
                                 textCol: String = "text",
                                 trigger: Option[Trigger] = None,
                                 format: String = "parquet",
                                 avroCodec: String = "null"): StreamingQuery = {
    val spark = stream.sparkSession
    NativeExpressions.register(spark)
    require(stream.columns.contains(textCol),
      s"quality gate needs a `$textCol` column, got: " +
        stream.columns.mkString(", "))
    val margin = LinearClassifier.scoreLiteral(col(textCol), weights, buckets)
    // a scan-side filter: partitioning preserved (r18), and only the
    // write reads it, so nothing is pinned
    StreamIngest.commitLoop(stream, checkpoint, trigger, outDir, Left(topic),
      StreamIngest.writerFor(outDir, topic, flushSize, format, avroCodec),
      admit = fresh =>
        StreamIngest.Admission(fresh.filter(margin >= lit(minMargin))))
  }
}
