package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.BatchWriter
import graft.operators.{IvfIndex, KMeans}

/** Streaming ingestion into a SERVED ANN index: embedding vectors
  * arriving as `(id, v)` are assigned under the index's FROZEN
  * quantizer — a literal-centroid projection, so it runs inside the
  * streaming plan with no extra job — and appended to the
  * cell-partitioned `ivf_vectors` topic as one commit-log version per
  * micro-batch.
  *
  * Contracts inherited wholesale from the logged commit loop:
  *   - exactly-once across crash replays (the vector id IS the offset;
  *     arrivals must be id-ascending like any offset stream, and the
  *     resume filter drops already-committed ids per cell partition —
  *     globally ascending ids are ascending within every cell),
  *   - concurrent searches flip atomically between log versions and
  *     can never see a torn batch,
  *   - the quantizer never moves under a running stream (geometry
  *     drift is a REBUILD — `emb_drift_cells` is the monitor; this
  *     loop only encodes).
  *
  * This closes the index lifecycle: build once (batch), grow forever
  * (this stream), serve always (`IvfIndex.search*`), rebuild on
  * measured drift. */
object IndexIngest {

  def startIvfIngest(stream: DataFrame, indexDir: String,
                     checkpoint: String,
                     flushSize: Int = 1 << 20,
                     trigger: Option[Trigger] = None): StreamingQuery = {
    val spark = stream.sparkSession
    val cents = IvfIndex.centroids(spark, indexDir) // frozen at start
    val framed = KMeans.assign(stream, cents)
      .select(col("cell").as("part"), col("id").as("off"), col("v"),
        col("cell"))
    ingest(framed, indexDir, IvfIndex.VectorsTopic, checkpoint, flushSize, trigger)
  }

  /** The IVF-PQ twin: `(id, v)` vectors assign to their coarse cell,
    * residual-encode under the FROZEN codebooks (one projection — the
    * centroid lookup is a plan-literal map), and append to the
    * cell-partitioned codes topic, so streamed vectors prune at
    * serving time exactly like built ones. Same exactly-once contract:
    * globally ascending ids are ascending within every cell, so the
    * per-(cell)-partition resume filter drops crash replays. */
  def startIvfPqIngest(stream: DataFrame, indexDir: String,
                       checkpoint: String,
                       flushSize: Int = 1 << 20,
                       trigger: Option[Trigger] = None): StreamingQuery = {
    val spark = stream.sparkSession
    val cents = IvfIndex.centroids(spark, indexDir) // frozen at start
    val (books, subDims) = IvfIndex.pqBooks(spark, indexDir,
      IvfIndex.IvfPqCodebooksTopic) // frozen at start
    val framed = IvfIndex.ivfPqEncodeFrame(stream, cents, books, subDims)
    ingest(framed, indexDir, IvfIndex.IvfPqCodesTopic, checkpoint, flushSize, trigger)
  }

  /** The PQ twin: `(id, v)` vectors encode to M codes under the
    * FROZEN codebooks (M literal-centroid argmins — one projection in
    * the streaming plan) and append to the codes topic with the same
    * exactly-once contract. */
  def startPqIngest(stream: DataFrame, indexDir: String,
                    checkpoint: String,
                    parts: Int = 4,
                    flushSize: Int = 1 << 20,
                    trigger: Option[Trigger] = None): StreamingQuery = {
    val spark = stream.sparkSession
    val (books, subDims) = IvfIndex.pqBooks(spark, indexDir) // frozen
    val framed = IvfIndex.pqEncodeFrame(stream, books, subDims, parts)
    ingest(framed, indexDir, IvfIndex.PqCodesTopic, checkpoint, flushSize, trigger)
  }

  /** Commit an encoded `(part, off, ...)` frame into one index topic
    * through the logged commit loop. */
  private def ingest(framed: DataFrame, indexDir: String, topic: String,
                     checkpoint: String, flushSize: Int,
                     trigger: Option[Trigger]): StreamingQuery =
    StreamIngest.commitLoop(framed, checkpoint, trigger, indexDir, Left(topic),
      b => BatchWriter.write(b, indexDir, topic, flushSize))
}
