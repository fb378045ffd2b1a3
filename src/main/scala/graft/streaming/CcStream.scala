package graft.streaming

import graft.ops.{Dedup, Pins}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming near-dup component maintenance — the streaming twin of
  * [[graft.ops.Dedup.mergeComponents]]: each micro-batch of newly
  * discovered pair edges (from a banded LSH pass or the bloom-gated
  * exact join over the batch) folds into the RUNNING labeling as a
  * supernode merge. State is the labels table itself, maintained
  * incrementally at O(batch edges + one labels pass) per trigger —
  * never a closure recompute, never a corpus re-pair.
  *
  * `foreachBatch`, not a stateful operator: the fold is a multi-stage
  * batch job (semi-join probe, label-level CC, broadcast relabel) —
  * the same reasoning as [[graft.sources.AnnLayout.appendStream]].
  * Each trigger's result is localCheckpoint'd so lineage stays O(1)
  * across micro-batches (the connectedComponents round trick).
  * Deterministic: labels after any prefix of batches equal the batch
  * [[graft.ops.Dedup.connectedComponents]] over the union of all
  * edges seen so far (StreamingSpec pins it across triggers).
  */
final class CcStream(initial: DataFrame) {

  // holds the current labeling's checkpoint
  private var statePins = new Pins
  @volatile private var state: DataFrame =
    statePins(initial.select(col("id"), col("comp")))

  /** The current labeling (id, comp). VALID ONLY UNTIL THE NEXT
    * [[fold]]: each fold releases the superseded labels checkpoint,
    * and a local checkpoint cannot recompute — an action on a stale
    * reference (or a read racing a concurrent fold) fails with missing
    * blocks. Consumers that must hold a labeling across triggers
    * snapshot it first (collect a bounded slice, or write it out).
    */
  def labels: DataFrame = state

  /** Fold one micro-batch of edges; returns the new labeling. The
    * merge's internal checkpoints (edge frame, endpoint map,
    * merged-root map) join the superseded labeling's [[Pins]], which
    * closes once the new labeling is materialized — a long-running
    * stream holds ONE labels copy, not four cached frames per trigger.
    * The flip side is the [[labels]] invalidation contract above:
    * previously returned labelings are dead after this call.
    */
  def fold(edges: DataFrame): DataFrame = synchronized {
    val next = new Pins
    state = next(Dedup.mergeComponents(state, edges, pins = statePins))
    statePins.close()
    statePins = next
    state
  }

  /** Attach to a stream of (id_a, id_b) edges. */
  def start(edges: DataFrame, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    edges.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => fold(batch); () }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()
}

object CcStream {
  /** Start from an empty labeling. */
  def empty(spark: org.apache.spark.sql.SparkSession): CcStream = {
    import spark.implicits._
    new CcStream(Seq.empty[(Long, Long)].toDF("id", "comp"))
  }
}
