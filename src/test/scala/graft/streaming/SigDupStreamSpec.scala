package graft.streaming

import graft.SparkTestSession
import graft.ops.Dedup
import graft.sources.{HammingIndex, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The streaming signature near-dup lifecycle (probe → fold → append):
  * because pigeonhole banding is COMPLETE, labels after every trigger
  * prefix must EXACTLY equal the batch pipeline — connectedComponents
  * over hammingPairs of everything seen so far — and the index must
  * keep absorbing each batch so later batches pair across triggers.
  */
class SigDupStreamSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private def pairLabels(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  private def batchLabelsDf(corpus: org.apache.spark.sql.DataFrame) =
    Dedup.connectedComponents(
      Dedup.hammingPairs(corpus, "doc_id", "sig",
        maxDist = 3, pieces = 8, maxBucket = -1))

  test("labels after every trigger == batch CC over hammingPairs of all sigs seen; cross-trigger pairs found") {
    val spark0 = spark
    import spark0.implicits._
    // planted exact copies across the trigger boundary so the
    // cross-generation assertion never rides on simhash luck. NB the
    // planted ids (900000 + an %4==2 original) are THEMSELVES ≡ 2
    // mod 4, so `hist` must exclude them explicitly — otherwise they
    // sit in the history index AND in trigger 1 (violating the
    // unique-ids contract) and the cross-generation assertion is
    // vacuous (initialLabels would already hold the planted pairs).
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Dedup.simhash64("text").as("sig"))
    val planted = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 4 === 2).orderBy("doc_id").limit(2)
      .select((col("doc_id") + 900000L).as("doc_id"), Dedup.simhash64("text").as("sig"))
    val sigs = base.unionByName(planted).localCheckpoint()

    val hist = sigs.filter(
      (col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3) &&
        col("doc_id") < 900000L)
    val t1 = sigs.filter(col("doc_id") % 4 === 1 || col("doc_id") >= 900000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val t2 = sigs.filter(col("doc_id") % 4 === 0 && col("doc_id") < 900000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    val path = scratch("graft-sds") + "/ix"
    HammingIndex.build(hist, "doc_id", "sig", path,
      pieces = 8, nPostingFiles = 32, nDocFiles = 8)
    val sds = SigDupStream(spark, path, "doc_id", "sig",
      initialLabels = batchLabelsDf(hist), maxDist = 3, maxBucket = -1)

    val input = MemoryStream[(Long, Long)](spark)
    val q = sds.start(input.toDF().toDF("doc_id", "sig"),
      scratch("graft-sds-ck"))
    try {
      var seen = hist
      for (batch <- Seq(t1, t2)) {
        input.addData(batch: _*)
        q.processAllAvailable()
        seen = seen.unionByName(batch.toDF("doc_id", "sig"))
        pairLabels(sds.labels) shouldBe pairLabels(batchLabelsDf(seen))
      }
      // the stream really paired across generations: the planted ids
      // (fed in trigger 1) share a component with their %4==2 originals
      // (history)
      val comps = sds.labels
        .withColumn("is_planted", (col("id") >= 900000L).cast("int"))
        .groupBy("comp")
        .agg(max("is_planted").as("has_p"), min("is_planted").as("all_p"))
      comps.filter(col("has_p") === 1 && col("all_p") === 0).count() should be > 0L
    } finally q.stop()
  }

  test("per-trigger checkpoints are released: RDD ids created during the loop are freed") {
    val spark0 = spark
    import spark0.implicits._
    val sigs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Dedup.simhash64("text").as("sig"))
    val hist = sigs.filter(col("doc_id") % 2 === 0)
    val path = scratch("graft-sds-leak") + "/ix"
    HammingIndex.build(hist, "doc_id", "sig", path,
      pieces = 8, nPostingFiles = 16, nDocFiles = 4)
    val sds = SigDupStream.empty(spark, path, "doc_id", "sig")
    val rows = sigs.filter(col("doc_id") % 2 === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).grouped(10).toSeq
    // id-set attribution, not a global count (the NearDupStreamSpec
    // discipline): only ids CREATED during the loop are this stream's
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (batch <- rows.take(5))
      sds.processBatch(batch.toSeq.toDF("doc_id", "sig"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // current labels (+ one in-flight merge frame at most)
    leaked.size should be <= 2
  }
}
