package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Knob-contract demonstrator for the ANN decade sweeps: the bench
  * entries deliberately pin their index knobs (nlist/nprobe, nBits) so
  * decade ratios are apples-to-apples — but a fixed bucket count means
  * per-bucket occupancy grows linearly with the corpus, so the >3×
  * rows in a 100× sweep are a KNOB artifact, not an operator defect.
  * The production contract (FAISS guideline: nlist ≈ 4√n with nprobe a
  * small constant fraction; LSH nBits ≈ log₂(n/target-bucket)) scales
  * bucket COUNT with the corpus and keeps per-query candidate volume
  * flat. This main measures both settings side-by-side on the same
  * corpus so SCALE_r08 can cite numbers, not prose.
  */
object KnobSweep {

  private def time2(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; val d0 = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime(); f; val d1 = (System.nanoTime() - t1) / 1e9
    math.min(d0, d1)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/repo/localdata/sf10ann"
    val spark = graft.GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val e = graft.sources.Tables.embeddings(spark, dir)
    val n = e.count()
    val q = e.filter(col("vec_id") < 5)
    println(s"corpus: $n vectors ($dir)")

    // warm-up
    noop(e.groupBy().count())

    def ivfpq(nlist: Int, nprobe: Int): DataFrame =
      graft.ops.Ann.ivfPqTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, nlist = nlist, nprobe = nprobe, m = 8, ksub = 32, refine = 10)
    def lsh(nBits: Int): DataFrame =
      graft.ops.Ann.lshTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, nBits = nBits)

    val tIvfFixed = time2(noop(ivfpq(16, 4)))
    val tIvfScaled = time2(noop(ivfpq(128, 8)))
    println(f"| ivfpq nlist=16 nprobe=4 (bench pin) | $tIvfFixed%.2f s | probes n/4 of the corpus |")
    println(f"| ivfpq nlist=128 nprobe=8 (scaled contract) | $tIvfScaled%.2f s | probes n/16 |")

    val tLshFixed = time2(noop(lsh(8)))
    val tLshScaled = time2(noop(lsh(12)))
    println(f"| lsh nBits=8 (bench pin) | $tLshFixed%.2f s | 256 buckets/table |")
    println(f"| lsh nBits=12 (scaled contract) | $tLshScaled%.2f s | 4096 buckets/table |")

    // r9: the contract is now CODE — nlist/nprobe/nBits left at 0
    // resolve to the computed defaults (Ann.defaultNlist ≈ 4√n etc.);
    // measure them as-is so the decade holds with NO manual tuning
    val autoNl = graft.ops.Ann.defaultNlistOneShot(n)
    val tIvfAuto = time2(noop(ivfpq(0, 0)))
    println(f"| ivfpq AUTO (one-shot nlist=$autoNl nprobe=${graft.ops.Ann.defaultNprobe(autoNl)}; layouts use 4√n=${graft.ops.Ann.defaultNlist(n)}) | $tIvfAuto%.2f s | computed defaults |")
    val tLshAuto = time2(noop(lsh(0)))
    println(f"| lsh AUTO (nBits=${graft.ops.Ann.defaultNBits(n)}) | $tLshAuto%.2f s | computed defaults |")

    println("== KNOBSWEEP DONE ==")
    spark.stop()
  }
}
