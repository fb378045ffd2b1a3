package graft.streaming

import graft.ops.Pins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The probe → fold → append micro-batch lifecycle shared by
  * [[NearDupStream]] (MinHash index) and [[SigDupStream]] (Hamming
  * index), parameterized over the index maintainer's two operations so
  * the release discipline lives in ONE place:
  *
  *  - the batch is localCheckpoint'd so probe and append see one frame;
  *  - probe runs BEFORE append (a batch never pairs with itself twice);
  *  - the fold materializes the new labeling (CcStream localCheckpoints
  *    it) before append mutates the maintainer's cached metadata;
  *  - every per-trigger checkpoint — the batch plus the probe's — goes
  *    to one [[Pins]] that closes once the fold has materialized, so a
  *    long-running stream holds ONE labels copy, nothing batch-sized.
  *
  * `probe` must return the found pairs (id_a, id_b, ...), checkpointing
  * into the given [[Pins]]; `append` must extend the index with the
  * batch.
  */
private[streaming] final class DupStreamCore(
    cc: CcStream,
    probe: (DataFrame, Pins) => DataFrame,
    append: DataFrame => Unit) {

  def labels: DataFrame = cc.labels

  def processBatch(batch: DataFrame): DataFrame = {
    val pins = new Pins
    try {
      val b = pins(batch) // probe and append must see ONE batch
      val next = cc.fold(probe(b, pins).select(col("id_a"), col("id_b")))
      append(b)
      next
    } finally pins.close()
  }

  def start(rows: DataFrame, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => processBatch(batch); () }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()
}
