package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measured contract for the persisted Hamming chunk-posting index
  * ([[graft.sources.HammingIndex]], r11) — the [[LshIndexBench]] axes
  * applied to the 64-bit signature family: daily new-pair discovery
  * over an indexed signature history must cost O(batch), not
  * O(history), with the full [[graft.ops.Dedup.hammingPairs]] re-band
  * over history ∪ batch as the counter-baseline. Signatures are
  * simhash64 over the documents corpus; batches are history docs
  * re-suffixed with fresh ids and one appended token, so most batch
  * signatures sit within a few bits of a history partner and the
  * popcount verify does real work.
  */
object HammingIndexBench {

  private def time2(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; val d0 = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime(); f; val d1 = (System.nanoTime() - t1) / 1e9
    math.min(d0, d1)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0) else "/root/repo/localdata/sf1"
    val big = if (args.length > 1) args(1) else "/root/repo/localdata/sf10docs"
    val spark = graft.GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ops.Dedup
    import graft.sources.HammingIndex

    def sigsOf(dir: String) = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), Dedup.simhash64("text").as("sig"))
    def mkBatch(dir: String, n: Int): DataFrame =
      graft.sources.Tables.documents(spark, dir)
        .filter(col("doc_id") % 17 === 0).limit(n)
        .select((col("doc_id") + 900000000L).as("doc_id"),
          concat(col("text"), lit(" zqx")).as("text"))
        .select(col("doc_id"), Dedup.simhash64("text").as("sig"))
        .localCheckpoint()

    for (dir <- Seq(small, big)) {
      val tag = new java.io.File(dir).getName
      if (new java.io.File(dir).exists()) {
        val hist = sigsOf(dir).localCheckpoint() // signatures computed once:
        // the bench isolates INDEX cost from the signature scan both
        // sides would share
        val nHist = hist.count()
        val path = java.nio.file.Files.createTempDirectory(s"graft-hmix-$tag")
          .toString + "/ix"
        val tBuild = time2(HammingIndex.build(hist, "doc_id", "sig",
          path, pieces = 8, nPostingFiles = 256, nDocFiles = 64))
        println(f"| $tag build ($nHist sigs) | ${tBuild}%.2f s | once, write-time |")
        for (bs <- Seq(500, 5000)) {
          val batch = mkBatch(dir, bs)
          val nb = batch.count()
          val tProbe = time2(noop(HammingIndex.probe(spark, path, batch,
            "doc_id", "sig", maxDist = 3, maxBucket = -1)
            .select("id_a", "id_b")))
          val nPairs = HammingIndex.probe(spark, path, batch,
            "doc_id", "sig", maxDist = 3, maxBucket = -1).count()
          val tReband = time2(noop(Dedup.hammingPairs(
            hist.unionByName(batch), "doc_id", "sig",
            maxDist = 3, pieces = 8, maxBucket = -1)
            .filter(col("id_a") >= 900000000L || col("id_b") >= 900000000L)
            .select("id_a", "id_b")))
          println(f"| $tag probe batch=$nb | ${tProbe}%.2f s ($nPairs pairs) " +
            f"| re-band: ${tReband}%.2f s | ${tReband / math.max(tProbe, 1e-9)}%.1fx |")
        }
        // micro-batch fixed floor (the LshIndexBench row for this
        // family): params + manifest metadata vs the Maintainer cache
        // with driver-side file pruning (r12)
        val tiny = mkBatch(dir, 50)
        val tStatic = time2(noop(HammingIndex.probe(spark, path, tiny,
          "doc_id", "sig", maxDist = 3, maxBucket = -1)
          .select("id_a", "id_b")))
        val mnt = new HammingIndex.Maintainer(spark, path)
        val tCached = time2(noop(mnt.probe(tiny, "doc_id", "sig",
          maxDist = 3, maxBucket = -1).select("id_a", "id_b")))
        println(f"| $tag probe batch=50 | static ${tStatic}%.2f s " +
          f"| maintainer ${tCached}%.2f s | ${tStatic / math.max(tCached, 1e-9)}%.1fx |")
      } else println(s"[hmix] $dir missing, skipped")
    }
    println("== HMIX DONE ==")
    spark.stop()
  }
}
