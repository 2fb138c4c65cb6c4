package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Streaming ANN index maintenance — the ingest half of a deployed
  * similarity service: vectors arrive continuously, and each micro-batch is
  * assigned + encoded into the persisted IVF index's TRAINED centroids (and,
  * for an IVF-PQ store, its frozen codebook — [[Similarity.appendToIvfIndex]]
  * reads the code from the store; one pass over the batch, zero over the
  * base corpus) and lands as its own immutable cell-partitioned delta
  * segment (`indexDir/delta_b<batchId>`) — exactly how an
  * object-store-resident index grows: new parquet files per ingest cycle,
  * never a rewrite of existing segments. Searches between batches discover
  * every landed delta via [[Similarity.searchIvfIndex]], so index freshness
  * is one micro-batch behind ingest with no coordination beyond directory
  * listing.
  *
  * Trade-offs carried honestly (same as the batch append path): centroids
  * drift as the distribution shifts, so append-heavy indexes degrade probe
  * recall until the next retrain — the batch-path recall pins measure that
  * degradation; and many tiny deltas accumulate file-listing overhead, so a
  * deployment periodically folds `delta_b*` into `segments` through
  * [[graft.io.DeltaStore.compactDeltas]] ([[Similarity.compactIvfDeltas]];
  * the spec pins that deltas compose associatively, which is what makes
  * compaction a pure rewrite).
  */
object VectorIngest {

  /** Start the ingest stream. Each non-empty micro-batch (needs `vec_id` +
    * `embedding` columns) writes one delta segment; `onBatch(batchId, n)`
    * fires after the segment lands with the number of vectors appended.
    * The foreachBatch replay contract (a failed batch re-runs under the
    * SAME batchId) maps to exactly-once because the append OVERWRITES its
    * own segment name.
    *
    * `compactRatio` (when set) runs the ratio-triggered auto-compaction
    * after each landed segment ([[Similarity.maybeCompactIvfDeltas]]): the
    * trigger check is a directory walk, and a fold runs only when the
    * accumulated deltas actually exceed that fraction of the base — the
    * maintenance loop a deployed index otherwise needs a side scheduler
    * for. Replay-idempotence, delta discovery and mid-stream compaction
    * safety come from the shared [[graft.io.DeltaStore]] protocol.
    */
  def ivfIngestStream(vectors: DataFrame, indexDir: String,
                      compactRatio: Option[Double] = None)
                     (onBatch: (Long, Long) => Unit = (_, _) => ()): StreamingQuery =
    vectors.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val summary = Similarity.appendToIvfIndex(batch.toDF, indexDir,
            segment = s"delta_b$batchId")
          val n = summary.agg(sum(col("n_vectors"))).head().getLong(0)
          compactRatio.foreach(r =>
            Similarity.maybeCompactIvfDeltas(batch.sparkSession, indexDir, r))
          onBatch(batchId, n)
        }
    }.start()
}
