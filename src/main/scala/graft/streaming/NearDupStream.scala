package graft.streaming

import graft.sources.MinhashIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end streaming near-duplicate maintenance — the r10 closure
  * of the whole dedup lifecycle in one operator: each micro-batch of
  * arriving documents is (1) PROBED against the persisted
  * [[MinhashIndex]] (new fuzzy pairs vs all history AND within the
  * batch — posting lookups, never a history re-band), (2) the found
  * edges FOLD into the running component labeling ([[CcStream]]'s
  * supernode merge, O(batch edges + one labels pass)), and (3) the
  * batch is APPENDED to the index ([[MinhashIndex.append]],
  * delta-sized manifest extension) so later batches pair against it.
  *
  * `foreachBatch`, not a stateful operator — each step is a
  * multi-stage batch job (the [[CcStream]] /
  * [[graft.sources.AnnLayout.appendStream]] reasoning). Probe runs
  * BEFORE append, so a batch never pairs with itself twice.
  * Determinism: labels after ANY prefix of batches equal the batch
  * [[graft.ops.Dedup.connectedComponents]] over
  * [[graft.ops.Dedup.minhashLsh]] pairs of (history ∪ batches so far)
  * — NearDupStreamSpec pins it across triggers. Delivery is
  * at-least-once (checkpointed source offsets; a replayed batch
  * re-appends postings — byte cost, not pair cost — and re-folds
  * edges the labeling already absorbed, a no-op merge).
  *
  * [[CcStream.labels]]' invalidation contract applies to [[labels]]
  * here too: a returned frame dies at the next trigger's fold.
  */
final class NearDupStream private (spark: SparkSession, indexPath: String,
                                   idCol: String, textCol: String,
                                   threshold: Double, maxBucket: Int,
                                   initialLabels: DataFrame) {

  // params + manifests cached across triggers (the probe fixed-floor
  // amortization): this stream is the index's single writer, so the
  // Maintainer's in-memory manifest extension stays consistent
  private val ix = new MinhashIndex.Maintainer(spark, indexPath)
  private val core = new DupStreamCore(new CcStream(initialLabels),
    (b, pins) => ix.probe(b, idCol, textCol, threshold, maxBucket, pins),
    b => ix.append(b, idCol, textCol))

  /** Current near-dup component labeling (id, comp) — ids that never
    * paired are absent (singletons label themselves downstream).
    */
  def labels: DataFrame = core.labels

  /** Probe → fold → append for one batch; returns the new labeling.
    * Every per-trigger checkpoint (the batch frame, the probe's batch
    * signatures + capped band keys, append's — released by append
    * itself) is freed once the fold has materialized the new labeling
    * and the append has written — a long-running stream holds ONE
    * labels copy, nothing batch-sized (the [[DupStreamCore]]
    * lifecycle, end to end).
    */
  def processBatch(batch: DataFrame): DataFrame = core.processBatch(batch)

  /** Attach to a stream of documents (idCol, textCol, ...). */
  def start(docs: DataFrame, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    core.start(docs, checkpoint)
}

object NearDupStream {

  /** Over a freshly built history index whose labeling the caller
    * already holds (e.g. `connectedComponents(minhashLsh(history))`) —
    * `initialLabels` is (id, comp).
    */
  def apply(spark: SparkSession, indexPath: String,
            idCol: String, textCol: String,
            initialLabels: DataFrame,
            threshold: Double = 0.8, maxBucket: Int = 0): NearDupStream =
    new NearDupStream(spark, indexPath, idCol, textCol, threshold,
      maxBucket, initialLabels.select(col("id"), col("comp")))

  /** Over an empty (or pair-free) history. */
  def empty(spark: SparkSession, indexPath: String,
            idCol: String, textCol: String,
            threshold: Double = 0.8, maxBucket: Int = 0): NearDupStream = {
    import spark.implicits._
    apply(spark, indexPath, idCol, textCol,
      Seq.empty[(Long, Long)].toDF("id", "comp"), threshold, maxBucket)
  }
}
