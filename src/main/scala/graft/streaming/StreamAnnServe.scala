package graft.streaming

import graft.operators.{IvfCodec, IvfIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Streaming ANN query serving — the READ half of the continuously-updated
 * vector service whose write half is [[VectorIngest]]: each micro-batch
 * of query vectors is answered from the persisted IVF index via
 * [[IvfIndex.searchIndex]] (the same partition-pruned probe the batch
 * tier serves), and the per-batch result lands as a batch-id-addressed
 * slice of the output root.
 *
 * Freshness by construction: every batch re-plans the probe over the
 * index's LIVE slice set, so vectors a concurrent [[VectorIngest]]
 * appended BETWEEN query batches are visible to the next batch with no
 * coordination — the two streams meet only at the [[DeltaLayout]]
 * liveness rules (an uncommitted slice is invisible, a committed one is
 * complete). The serving MODEL (centroids) is frozen at start like the
 * ingest side's; a rebuild that retrains centroids requires restarting
 * both streams with the new model ([[IvfIndex.rebuildIndex]]'s
 * documented contract).
 *
 * Output exactly-once at the batch level: a foreachBatch replay finds
 * its result slice already committed and writes nothing
 * ([[DeltaLayout.writeSlice]] — the [[VectorIngest]] discipline applied
 * to the answer stream), so downstream consumers of [[results]] can sum
 * and join without dedup.
 *
 * Scale shape: per batch, one broadcast of (query × nprobe) probe rows
 * against the cell-pruned index scan — queries per micro-batch bound the
 * broadcast, nprobe/nlist bounds the scanned fraction; nothing grows
 * with the number of batches served except the output slices, which
 * [[DeltaLayout]] compaction folds like any other delta root.
 */
object StreamAnnServe {

  /** Start answering the query-vector stream (`vec_id`, `embedding`)
    * from the `codec` layout at `indexPath`; top-`k` per query at
    * `nprobe`, exact-reranked when `rerank` is given (code layouts).
    * Output slice ids (and the `batch_id` column) are offset by
    * [[DeltaLayout.sliceOffset]] — a fresh checkpoint serving into a
    * populated output root must not drop its first answer batches as
    * replays of already-present slice names (the ingest advisory,
    * output flavor). */
  def start[M](
      queries: DataFrame,
      codec: IvfCodec[M],
      model: M,
      indexPath: String,
      out: String,
      checkpoint: String,
      k: Int,
      nprobe: Int,
      rerank: Option[IvfIndex.Rerank] = None,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val spark = queries.sparkSession
    val offset = DeltaLayout.sliceOffset(spark, checkpoint, out)
    val serve = serveBatch(spark, codec, model, indexPath, out, k, nprobe,
      rerank)
    queries.writeStream
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        serve(batch, offset + batchId))
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** One micro-batch: probe the live index, commit the answer slice.
    * Exposed so a replay (same batchId) is directly testable. */
  private[graft] def serveBatch[M](spark: SparkSession, codec: IvfCodec[M],
      model: M, indexPath: String, out: String, k: Int, nprobe: Int,
      rerank: Option[IvfIndex.Rerank] = None): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val res = IvfIndex.searchIndex(codec, spark, indexPath, batch, model,
          k, nprobe, rerank)
        .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      DeltaLayout.writeSlice(res, out, s"delta=b$batchId")
      ()
    }

  /** Every answer served so far (live output slices, unioned). */
  def results(spark: SparkSession, out: String): DataFrame = {
    val dirs = DeltaLayout.liveDirs(spark, out)
    require(dirs.nonEmpty, s"no served results under $out")
    spark.read.parquet(dirs: _*)
  }

  /** Fold the answer slices into one base generation
    * ([[DeltaLayout.compactConcat]] — answers are per-batch facts, the
    * fold is a union): run occasionally so the output root's slice
    * count — and with it every [[results]] listing — stays bounded no
    * matter how many batches were served. Guarded like every fold in
    * the engine: an answer slice committed by a concurrent serve batch
    * aborts the fold loudly instead of being swept un-read. */
  def compact(spark: SparkSession, out: String): Unit =
    DeltaLayout.compactConcat(spark, out)

  /** [[compact]] behind the slice-count policy
    * ([[DeltaLayout.compactConcatIfNeeded]]): the maintenance entry a
    * long-running service calls on a cadence — a healthy output root is
    * never touched, a sprawling one folds. Returns true when it folded. */
  def compactIfNeeded(spark: SparkSession, out: String,
      maxSlices: Long = DeltaLayout.DefaultMaxSlices): Boolean =
    DeltaLayout.compactConcatIfNeeded(spark, out, maxSlices)
}
