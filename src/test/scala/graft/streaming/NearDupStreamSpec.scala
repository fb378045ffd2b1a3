package graft.streaming

import graft.SparkTestSession
import graft.ops.Dedup
import graft.sources.{MinhashIndex, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The full streaming near-dup lifecycle (probe → fold → append):
  * labels after every trigger prefix must equal the BATCH pipeline —
  * connectedComponents over minhashLsh pairs of everything seen so far
  * — and the index must keep absorbing each batch so later batches
  * pair across trigger boundaries.
  */
class NearDupStreamSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private def pairLabels(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  test("labels after every trigger == batch CC over minhashLsh of all docs seen; cross-trigger pairs found") {
    val spark0 = spark
    import spark0.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .localCheckpoint()
    // history = doc_id % 4 ∈ {2,3}; triggers feed %4==1 then %4==0
    val hist = docs.filter(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3)
    val t1 = docs.filter(col("doc_id") % 4 === 1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val t2 = docs.filter(col("doc_id") % 4 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val path = scratch("graft-nds") + "/ix"
    MinhashIndex.build(hist, "doc_id", "text", path,
      nPostingFiles = 32, nDocFiles = 8)
    val histLabels = Dedup.connectedComponents(
      Dedup.minhashLsh(hist, "doc_id", "text",
        k = 3, numPerm = 64, bands = 16, threshold = 0.8, maxBucket = -1))
    val nds = NearDupStream(spark, path, "doc_id", "text",
      initialLabels = histLabels, threshold = 0.8, maxBucket = -1)

    val input = MemoryStream[(Long, String)](spark)
    val q = nds.start(input.toDF().toDF("doc_id", "text"),
      scratch("graft-nds-ck"))
    try {
      var seen = hist
      for (batch <- Seq(t1, t2)) {
        input.addData(batch: _*)
        q.processAllAvailable()
        seen = seen.unionByName(batch.toDF("doc_id", "text"))
        val expected = pairLabels(Dedup.connectedComponents(
          Dedup.minhashLsh(seen, "doc_id", "text",
            k = 3, numPerm = 64, bands = 16, threshold = 0.8, maxBucket = -1)))
        pairLabels(nds.labels) shouldBe expected
      }
      // the stream really paired across generations: some component
      // holds both a %4==0 and a non-%4==0 member
      val comps = nds.labels.withColumn("is_t2", (col("id") % 4 === 0).cast("int"))
        .groupBy("comp")
        .agg(max("is_t2").as("has_t2"), min("is_t2").as("all_t2"))
      comps.filter(col("has_t2") === 1 && col("all_t2") === 0).count() should be > 0L
    } finally q.stop()
  }

  test("per-trigger checkpoints are released: persisted-RDD count stays flat across triggers") {
    val spark0 = spark
    import spark0.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val hist = docs.filter(col("doc_id") % 2 === 0)
    val path = scratch("graft-nds-leak") + "/ix"
    MinhashIndex.build(hist, "doc_id", "text", path,
      nPostingFiles = 16, nDocFiles = 4)
    val nds = NearDupStream.empty(spark, path, "doc_id", "text")
    val rows = docs.filter(col("doc_id") % 2 === 1)
      .collect().map(r => (r.getLong(0), r.getString(1))).grouped(10).toSeq
    // snapshot the RDD-id SET, not the size: the count is a
    // SESSION-GLOBAL gauge on the shared test session, so another
    // suite's lingering cached RDD (or the async ContextCleaner
    // reclaiming one mid-loop) would shift a count-based assertion
    // without any leak here (the r10 415/416 flake). Ids CREATED
    // during the loop are attributable to this stream alone —
    // unpersist removes an id from the map synchronously even with
    // blocking = false, so the released set is immediately visible.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // many folds: each trigger checkpoints the batch, the probe's batch
    // signatures (+ capped band keys), append's sig frame and the new
    // labels — all but the labels must be freed per trigger
    for (batch <- rows.take(5))
      nds.processBatch(batch.toSeq.toDF("doc_id", "text"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // current labels (+ one in-flight merge frame at most)
    leaked.size should be <= 2
  }
}
