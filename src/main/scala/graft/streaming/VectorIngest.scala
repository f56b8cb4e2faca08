package graft.streaming

import graft.operators.{IvfCodec, IvfIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Streaming vector ingest with online index maintenance — the write half
 * of a continuously-updated ANN service: each micro-batch of new vectors
 * is routed into the persisted IVF index's EXISTING cell partitions
 * ([[IvfIndex.appendToIndex]] — assign against the frozen centroids, no
 * retrain, no rewrite), so searches running against the index see the new
 * vectors through the same dynamic partition pruning as the original
 * build.
 *
 * Maintenance stays the batch operator's job: the footer-only
 * [[IvfIndex.cellStats]]/`driftReport` watches cell balance as the stream
 * appends, and a triggered `rebuildIndex` swaps in a retrained layout —
 * the ingest itself never blocks on a retrain. (The coupling of a cheap
 * always-on append path with an offline rebuild trigger is how large ANN
 * deployments stay fresh without write amplification.)
 *
 * Batch-level EXACTLY-ONCE: each micro-batch lands as the
 * batch-id-addressed slice `delta=b<batchId>` of the index's
 * [[DeltaLayout]] root, committed with one rename. foreachBatch may
 * replay a batch after a crash BEFORE its checkpoint commit — the replay
 * finds its slice already present and appends nothing, so populations
 * cannot double. (The id space belongs to this stream's checkpoint:
 * batch-API appends interleaved with a live ingest stream would collide
 * with its future ids — run one or the other per index, or resume the
 * same checkpoint.) A rebuild folds slices into `delta=base@<N>`
 * STRICTLY ABOVE every live batch id, so later micro-batch ids stay
 * live.
 */
object VectorIngest {

  /** Start appending the embedding stream into the index at `path`, each
    * micro-batch encoded by `codec` against the frozen `model`. Slice ids
    * are offset by [[DeltaLayout.sliceOffset]] so a fresh checkpoint on a
    * populated index can never silently drop its first batches as
    * replays of already-present slice names (the round-17 advisory — see
    * the offset's scaladoc): offset + micro-batch id IS the slice
    * address, so same-checkpoint replays are no-ops and fresh
    * checkpoints can never collide with or land beneath slices an
    * earlier stream or fold already committed. */
  def start[M](
      embeddings: DataFrame,
      codec: IvfCodec[M],
      model: M,
      path: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val offset =
      DeltaLayout.sliceOffset(embeddings.sparkSession, checkpoint, path)
    embeddings.writeStream
      .foreachBatch((batch: DataFrame, batchId: Long) => {
        IvfIndex.appendToIndex(codec, batch, model, path, offset + batchId)
        ()
      })
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }
}
