package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measured contract for the blocklist join (r10 rewrite, r11 slicing):
  * per-row cost of [[graft.ops.Text.blocklistFlag]] (broadcast suffix
  * joins) must be FLAT in blocklist size, while the r9 exists()-scan
  * shape ([[graft.ops.Text.blocklistFlagScan]]) is linear in it; and
  * since r11 the TOTAL broadcast across the depth levels must be ≈ 1×
  * the list (each level ships only its own depth's domains — the r10
  * shape shipped depth × full copies). Sweeps a synthetic host corpus
  * against mixed-depth lists up to 4M domains, reports the summed
  * BroadcastExchange dataSize, and cross-checks both shapes' blocked
  * counts where the scan still terminates.
  */
object BlocklistBench {

  private def time2(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; val d0 = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime(); f; val d1 = (System.nanoTime() - t1) / 1e9
    math.min(d0, d1)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Execute `df` and sum the final plan's BroadcastExchange dataSize
    * metrics (reused exchanges count once — they are shipped once).
    * The execution must go through THIS df's QueryExecution — a
    * `.write` or `.count()` builds a fresh plan, leaving this one's
    * AQE stages unmaterialized and every metric at zero.
    */
  private def broadcastBytes(df: DataFrame): Long = {
    df.queryExecution.toRdd.foreach(_ => ())
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(p: SparkPlan): Seq[BroadcastExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      // AQE hides materialized exchanges inside query stages, which do
      // NOT expose them as children — descend into the stage plan or
      // every broadcast reads as 0 bytes
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => Seq.empty // shipped once — count once
      case b: BroadcastExchangeExec => b +: b.children.flatMap(walk)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
      .map(b => b.metrics.get("dataSize").map(_.value).getOrElse(0L)).sum
  }

  def main(args: Array[String]): Unit = {
    val nRows = if (args.length > 0) args(0).toLong else 2000000L
    val joinsOnly = args.length > 1 && args(1) == "joins-only"
    val spark = graft.GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ops.Text

    // corpus: ~1/8 of hosts are subdomains of a blocked-list member at
    // every list size (the depth-3 slice's lists are prefixes of each
    // other)
    val corpus = spark.range(nRows).select(col("id"),
        concat(lit("https://"),
          when(col("id") % 8 === 0,
            concat(lit("sub"), col("id") % 97, lit(".dom"), col("id") % 1000, lit(".example.net")))
            .otherwise(concat(lit("host"), col("id") % 100000, lit(".clean.org"))),
          lit("/p"), col("id")).as("url"))
      .localCheckpoint()
    println(s"corpus: ${corpus.count()} urls")

    // mixed-depth list (the UT1 shape — real lists span 2–5 labels):
    // one third depth-3 (the matching slice), one third depth-2 and one
    // third depth-4 (never match this corpus) — so the depth slicing is
    // actually exercised, not just a single-depth degenerate case
    def mkList(n: Long): DataFrame = spark.range(n)
      .select(when(col("id") % 3 === 0,
          // `/` on longs is DOUBLE division ("dom1.0.example.net" —
          // never matches, and the stray dot shifts the label depth);
          // the list must spell the same hosts the corpus builds
          concat(lit("dom"), expr("id div 3"), lit(".example.net")))
        .when(col("id") % 3 === 1, concat(lit("blk"), col("id"), lit(".zz")))
        .otherwise(concat(lit("x"), col("id"), lit(".dom0.example.net")))
        .as("domain"))

    // join shape at every list size — the flat-in-|list| claim, with
    // the total broadcast bytes (r11: ≈ 1× the list across all depths)
    for (listSize <- Seq(1000, 100000, 1000000, 4000000)) {
      val domsDf = mkList(listSize)
      def q = Text.blocklistFlagJoin(corpus, col("url"), domsDf, "domain")
        .select("id", "blocked")
      val tJoin = time2(noop(q))
      val bytes = broadcastBytes(q)
      val nJoin = Text.blocklistFlagJoin(corpus, col("url"), domsDf, "domain")
        .agg(sum("blocked")).head.getLong(0)
      println(f"| join  | list=$listSize%7d | $tJoin%6.2f s | $nRows rows " +
        f"| $nJoin blocked | bcast ${bytes / 1048576.0}%7.1f MiB |")
    }
    // exists()-scan counter-baseline: linear in |list| — measured where
    // it still terminates (10k domains × 2M rows is already 2·10¹⁰
    // suffix comparisons; 100k+ was killed at >15 min in r10) and
    // cross-checked against the join shape for agreement
    for (listSize <- Seq(1000, 10000) if !joinsOnly) {
      val doms = (0 until listSize).map { i =>
        if (i % 3 == 0) s"dom${i / 3}.example.net"
        else if (i % 3 == 1) s"blk$i.zz"
        else s"x$i.dom0.example.net"
      }
      val domsDf = mkList(listSize)
      val tScan = time2(noop(
        Text.blocklistFlagScan(corpus, col("url"), doms).select("id", "blocked")))
      val nScan = Text.blocklistFlagScan(corpus, col("url"), doms)
        .agg(sum("blocked")).head.getLong(0)
      val nJoin = Text.blocklistFlagJoin(corpus, col("url"), domsDf, "domain")
        .agg(sum("blocked")).head.getLong(0)
      println(f"| scan  | list=$listSize%7d | $tScan%6.2f s | $nRows rows | $nScan blocked | agree: ${nScan == nJoin} |")
    }
    println("== BLOCKLIST DONE ==")
    spark.stop()
  }
}
