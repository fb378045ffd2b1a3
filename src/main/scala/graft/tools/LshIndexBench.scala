package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measured contract for the persisted MinHash band-posting index
  * ([[graft.sources.MinhashIndex]], r10): daily new-pair discovery must
  * cost O(batch), not O(history). Two axes:
  *
  *  1. fixed history, growing batch — probe time should track batch
  *     size, with the full re-band (`minhashLsh` over history ∪ batch)
  *     as the counter-baseline that pays the history scan every time;
  *  2. fixed batch, 10× history — probe time should grow far slower
  *     than 10× (posting reads only), while the re-band pays the full
  *     10× text re-signature.
  *
  * Batches are history docs re-suffixed with fresh ids and one
  * appended token, so every batch doc has a genuine ≥0.8-Jaccard
  * history partner and the verify stage does real work.
  */
object LshIndexBench {

  private def time2(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; val d0 = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime(); f; val d1 = (System.nanoTime() - t1) / 1e9
    math.min(d0, d1)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val big = if (args.length > 1) args(1) else "/root/repo/localdata/sf1"
    val spark = graft.GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ops.Dedup
    import graft.sources.MinhashIndex

    def docsOf(dir: String) = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text")
    def mkBatch(dir: String, n: Int): DataFrame =
      docsOf(dir).filter(col("doc_id") % 17 === 0).limit(n)
        .select((col("doc_id") + 900000000L).as("doc_id"),
          concat(col("text"), lit(" zqx")).as("text"))
        .localCheckpoint()

    for (dir <- Seq(small, big)) {
      val tag = new java.io.File(dir).getName
      if (new java.io.File(dir).exists()) {
        val nHist = docsOf(dir).count()
        val path = java.nio.file.Files.createTempDirectory(s"graft-lshix-$tag")
          .toString + "/ix"
        val tBuild = time2(MinhashIndex.build(docsOf(dir), "doc_id", "text",
          path, nPostingFiles = 256, nDocFiles = 64))
        println(f"| $tag build ($nHist docs) | ${tBuild}%.2f s | once, write-time |")
        for (bs <- Seq(500, 5000)) {
          val batch = mkBatch(dir, bs)
          val nb = batch.count()
          val tProbe = time2(noop(MinhashIndex.probe(spark, path, batch,
            "doc_id", "text").select("id_a", "id_b")))
          val nPairs = MinhashIndex.probe(spark, path, batch, "doc_id", "text").count()
          val tReband = time2(noop(Dedup.minhashLsh(
            docsOf(dir).unionByName(batch), "doc_id", "text",
            k = 3, numPerm = 64, bands = 16, threshold = 0.8)
            .filter(col("id_a") >= 900000000L || col("id_b") >= 900000000L)
            .select("id_a", "id_b")))
          println(f"| $tag probe batch=$nb | ${tProbe}%.2f s ($nPairs pairs) " +
            f"| re-band: ${tReband}%.2f s | ${tReband / math.max(tProbe, 1e-9)}%.1fx |")
        }
        // micro-batch fixed floor (r11): a 50-doc probe is dominated by
        // per-probe metadata work — params read + two manifest reads +
        // their job launches. The Maintainer caches those across
        // probes; this row measures the floor both ways
        val tiny = mkBatch(dir, 50)
        val tStatic = time2(noop(MinhashIndex.probe(spark, path, tiny,
          "doc_id", "text").select("id_a", "id_b")))
        val mnt = new MinhashIndex.Maintainer(spark, path)
        val tCached = time2(noop(mnt.probe(tiny, "doc_id", "text")
          .select("id_a", "id_b")))
        println(f"| $tag probe batch=50 | static ${tStatic}%.2f s " +
          f"| maintainer ${tCached}%.2f s | ${tStatic / math.max(tCached, 1e-9)}%.1fx |")
      } else println(s"[lshix] $dir missing, skipped")
    }
    println("== LSHIX DONE ==")
    spark.stop()
  }
}
