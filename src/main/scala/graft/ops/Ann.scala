package graft.ops

import graft.functions.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (SURVEY.md §2.9).
  *
  * Three paths: brute-force cosine top-k (exact baseline — broadcast the
  * query set, score with codegen'd vector folds, rank via the bounded-heap
  * aggregate), random-hyperplane LSH (signatures computed scan-side in one
  * pass, candidates from a bucket equi-join instead of a cross product,
  * multiprobe flips single signature bits to recover boundary losses),
  * and IVF (cluster once, probe the nearest lists per query).
  *
  * At 100 TB: brute-force cost is queries×corpus and only works for
  * small query sets; LSH shuffles (bucket, id, vector) once and bounds
  * per-bucket work, with AQE splitting hot buckets.
  */
object Ann {

  /** Per-query top-k through the bounded-heap aggregate
    * (graft.functions.TopKAgg): ranked exactly like
    * `row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id)`, but as
    * an algebraic aggregate — each partition reduces to ≤k rows per query
    * BEFORE the shuffle, instead of shuffling every scored row into a few
    * hot query partitions.
    */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("qid")
      .agg(graft.functions.FunctionDefs.callAgg("topk_by_score",
        col("id"), col("cos"), lit(k)).as("__top"))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col("qid"), col("__t.id").as("id"),
        (col("__r") + 1).cast("int").as("rank"), col("__t.score").as("cos"))

  /** Exact top-k by cosine for each query row. `queries` is expected to
    * be small (it is broadcast). Output: (qid, id, rank, cos).
    */
  def bruteForce(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), Vectors.toDouble(col(vecCol)).as("__v"))
    val q = queries.select(col(qidCol).as("qid"), Vectors.toDouble(col(qvecCol)).as("__qv"))
    rankTopK(
      c.crossJoin(broadcast(q))
        .filter(col("id") =!= col("qid"))
        .withColumn("cos", Vectors.cosine(col("__qv"), col("__v"))),
      k)
  }

  /** Hard-negative mining for contrastive training data: for each query,
    * the k most-similar corpus vectors whose label DIFFERS from the
    * query's label (the classic in-batch-negatives upgrade — Karpukhin
    * et al. 2020 (DPR) mine the highest-scoring non-positives as
    * training negatives). Output: (qid, id, rank, cos, neg_label).
    *
    * Shape is [[bruteForce]] with the label inequality fused into the
    * scan-side filter BEFORE scoring, so mismatched pairs are never
    * scored; ranking uses the same bounded-heap aggregate (≤k rows per
    * partition reach the shuffle). At 100 TB the exact pass is for
    * query batches; swap the candidate generator for [[lshTopK]] /
    * [[ivfTopK]] shortlists (mine negatives from the top-C candidates,
    * then apply the same label filter) when the corpus side dominates.
    * Ids must be integral: `topk_by_score` type-checks its id argument
    * (long/int) at analysis, so a non-numeric id fails loudly rather
    * than silently reordering. Labels are only compared for equality
    * here, so any label type works.
    */
  def hardNegatives(
      corpus: DataFrame, idCol: String, vecCol: String, labelCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, qlabelCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(labelCol).as("__cl"),
      Vectors.toDouble(col(vecCol)).as("__v"))
    val q = queries.select(col(qidCol).as("qid"), col(qlabelCol).as("__ql"),
      Vectors.toDouble(col(qvecCol)).as("__qv"))
    val ranked = rankTopK(
      c.crossJoin(broadcast(q))
        .filter(col("id") =!= col("qid") && !(col("__cl") <=> col("__ql")))
        .withColumn("cos", Vectors.cosine(col("__qv"), col("__v"))),
      k)
    // the ranked set is queries×k rows — broadcast it back onto the
    // corpus to recover each negative's label without shuffling the corpus
    corpus.select(col(idCol).as("id"), col(labelCol).as("neg_label"))
      .join(broadcast(ranked), Seq("id"))
      .select("qid", "id", "rank", "cos", "neg_label")
  }

  /** Per-label prototype centroids: one vec_sum-aggregated mean vector
    * per label — label-cardinality rows to the driver/broadcast, never
    * data. Output: (label, n, centroid).
    */
  def labelCentroids(corpus: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    import graft.functions.FunctionDefs.callAgg
    corpus.select(col(labelCol).as("label"), Vectors.toDouble(col(vecCol)).as("__v"))
      .groupBy("label")
      .agg(callAgg("vec_sum", col("__v")).as("__sum"), count(lit(1)).as("n"))
      .select(col("label"), col("n"), expr("transform(__sum, x -> x / n)").as("centroid"))
  }

  /** Prototype-cosine audit: every vector's cosine to its OWN label's
    * centroid (the SemDeDup-paper-style prototype distance; low scores
    * are candidate mislabels/outliers — the geometric complement of
    * [[knnClassify]]'s vote-based audit). The centroid table is
    * label-cardinality-sized and broadcasts onto the scan; the corpus
    * never shuffles. Output: (id, label, proto_cos).
    */
  def prototypeCos(
      corpus: DataFrame, idCol: String, vecCol: String, labelCol: String): DataFrame =
    corpus.select(col(idCol).as("id"), col(labelCol).as("label"),
        Vectors.toDouble(col(vecCol)).as("__v"))
      .join(broadcast(labelCentroids(corpus, vecCol, labelCol)), Seq("label"))
      .select(col("id"), col("label"),
        Vectors.cosine(col("__v"), col("centroid")).as("proto_cos"))

  /** kNN label classification / label-quality audit: majority label over
    * each query's k cosine-nearest neighbors (the standard kNN vote —
    * the training-data use is auditing noisy labels: `correct = 0` rows
    * are candidate mislabels). Tie-break: most votes, then smallest
    * label — expressed as `min(struct(−votes, label))`, an aggregate
    * (no window), so the per-query argmax reduces map-side. The label
    * is compared RAW (not negated), so any orderable label type works —
    * negating a string label would silently cast to null-double and
    * invert the documented smallest-label contract.
    *
    * The neighbor pass is [[bruteForce]] (swap in an index path at
    * scale); labels rejoin by broadcasting the queries×k ranked set onto
    * the corpus scan. Output: (qid, pred_label, n_votes, correct).
    */
  def knnClassify(
      corpus: DataFrame, idCol: String, vecCol: String, labelCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, qlabelCol: String,
      k: Int): DataFrame = {
    val nn = bruteForce(corpus, idCol, vecCol, queries, qidCol, qvecCol, k)
    val voted = corpus.select(col(idCol).as("id"), col(labelCol).as("__nl"))
      .join(broadcast(nn), Seq("id"))
      .groupBy(col("qid"), col("__nl"))
      .agg(count(lit(1)).as("__votes"))
      .groupBy(col("qid"))
      .agg(min(struct((-col("__votes")).as("__negv"), col("__nl"))).as("__best"))
      .select(col("qid"), col("__best.__nl").as("pred_label"),
        (-col("__best.__negv")).as("n_votes"))
    voted.join(
        broadcast(queries.select(col(qidCol).as("qid"), col(qlabelCol).as("__ql"))),
        Seq("qid"))
      .select(col("qid"), col("pred_label"), col("n_votes"),
        (col("pred_label") === col("__ql")).cast("int").as("correct"))
  }

  /** MMR (maximal-marginal-relevance) diversified top-k — Carbonell &
    * Goldstein 1998: greedily pick the candidate maximizing
    * λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), so the result set trades
    * relevance against redundancy (the dedup-aware flavor of retrieval a
    * training-data pipeline wants when many near-identical documents
    * score equally well).
    *
    * Distributed shape: relevance scoring + pool selection is exactly
    * [[bruteForce]] (broadcast queries, bounded-heap top-`pool`), so the
    * corpus-sized work is unchanged; the inherently sequential greedy
    * loop then runs per-query over the ≤`pool` pooled candidates inside
    * `flatMapGroups` — one task per query, never on the driver, touching
    * queries×pool rows total. Swap the pool generator for an index path
    * (LSH/IVF/PQ) at scale; the greedy stage is identical.
    *
    * Determinism contract (oracle-replayable): every comparison — pool
    * cut, greedy argmax — runs on UNROUNDED doubles. The ascending-order
    * cosine folds are bit-identical between this loop, the vec_cosine
    * expression, and the oracle's list_dot_product, so both engines make
    * identical picks (ties between genuinely identical vectors break by
    * ascending id); scores are rounded to 6 dp only for display. Rounding
    * before the λ-blend would be WORSE, not safer: λ×(a 6-dp decimal)
    * lands exactly on 7th-digit decimal ties where Spark's HALF_UP and
    * a binary-double engine's rounding systematically disagree. Rank 1
    * is the pure-relevance argmax with score λ·rel (max-sim over the
    * empty set is 0).
    *
    * Output: (qid, id, rank, rel, mmr); ids must be integral.
    */
  def mmrTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, lambda: Double = 0.7, pool: Int = 50): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(idCol).cast("long").as("id"),
      Vectors.toDouble(col(vecCol)).as("__v"))
    val q = queries.select(col(qidCol).cast("long").as("qid"),
      Vectors.toDouble(col(qvecCol)).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("id") =!= col("qid"))
      .withColumn("cos", Vectors.cosine(col("__qv"), col("__v")))
    val pooled = rankTopK(scored, pool)
      .select(col("qid"), col("id"), col("cos").as("rel"))
    // recover pooled candidates' vectors by broadcasting the tiny pool
    // back onto the corpus scan (queries×pool rows — no corpus shuffle)
    val withVec = c.join(broadcast(pooled), Seq("id"))
      .select(col("qid"), col("id"), col("rel"), col("__v"))
      .as[(Long, Long, Double, Seq[Double])]

    // ascending-order fold, dot/(sqrt·sqrt) — same order as vec_cosine
    def cosv(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }

    withVec.groupByKey(_._1).flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Seq[Double])]) =>
      val cands = it.map { case (_, id, rel, v) => (id, rel, v.toArray) }.toBuffer
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double, Double)]
      val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Array[Double])]
      while (selected.size < k && cands.nonEmpty) {
        val pick =
          if (selected.isEmpty)
            cands.map { case (id, rel, v) => (id, rel, v, lambda * rel) }
              .minBy { case (id, rel, _, _) => (-rel, id) }
          else
            cands.map { case (id, rel, v) =>
              val ms = selected.iterator.map(s => cosv(v, s._3)).max
              (id, rel, v, lambda * rel - (1.0 - lambda) * ms)
            }.minBy { case (id, _, _, mmr) => (-mmr, id) }
        selected += ((pick._1, pick._2, pick._3))
        out += ((qid, pick._1, selected.size, pick._2, pick._4))
        cands.remove(cands.indexWhere(_._1 == pick._1))
      }
      out.iterator
    }.toDF("qid", "id", "rank", "rel", "mmr")
      .select(col("qid"), col("id"), col("rank").cast("int").as("rank"),
        round(col("rel"), 6).as("rel"), round(col("mmr"), 6).as("mmr"))
  }

  /** Random-hyperplane signature: bit i is the sign of v·h_i where h_i is
    * a deterministic Rademacher (±1) vector derived from xxhash64(i*dim+d)
    * — computed scan-side by the native codegen'd lsh_bucket expression,
    * no shuffle, no stored hyperplane matrix.
    */
  /** Per-corpus-row maximum cosine against a SMALL broadcast reference
    * set — the semantic twin of n-gram benchmark decontamination
    * (reference = the eval suite's embeddings; a train item too close to
    * any eval item is flagged), also usable as a nearest-centroid /
    * nearest-exemplar audit. All |ref| candidates are scored scan-side
    * off the broadcast and reduced by a map-side
    * min(struct(−cos, ref_id, cos)) — complete before the shuffle, so
    * the corpus contributes one row per id to the exchange regardless of
    * reference size. Ties break toward the LOWER reference id; the id is
    * compared RAW (negating it would null-cast non-numeric ids), and the
    * un-negated cosine rides along so the reported score keeps its exact
    * bits. Output: (id, ref_id, cos).
    */
  def maxSimToSet(
      corpus: DataFrame, idCol: String, vecCol: String,
      ref: DataFrame, refIdCol: String, refVecCol: String): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), Vectors.toDouble(col(vecCol)).as("__v"))
    val r = ref.select(col(refIdCol).as("__rid"), Vectors.toDouble(col(refVecCol)).as("__rv"))
    c.crossJoin(broadcast(r))
      .withColumn("__c", Vectors.cosine(col("__v"), col("__rv")))
      .select(col("id"),
        struct((-col("__c")).as("nc"), col("__rid"), col("__c")).as("__s"))
      .groupBy("id")
      .agg(min(col("__s")).as("__m"))
      .select(col("id"), col("__m.__rid").as("ref_id"), col("__m.__c").as("cos"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of
    * heterogeneous rankings — the standard hybrid-retrieval combiner
    * (sparse BM25 + dense cosine, or any mix): each system's rank list
    * contributes 1/(c + rank) and the fused score is the sum, so
    * systems never need score calibration, only ranks. Input rankings
    * each carry (qid, id, rank); output (qid, id, rank, rrf) is the
    * fused top-k per query. `excludeSelf` drops id == qid rows before
    * fusion (query-by-example retrieval).
    *
    * Scale shape: each input ranking is already ≤k·queries rows (built
    * by bounded-heap rankers), so the union + partial-agg sum is tiny
    * regardless of corpus size; the final per-query top-k reuses the
    * same bounded-heap aggregate — no window shuffle anywhere. Fusion
    * sums are order-safe across engines: with ≤2 systems the sum is one
    * commutative IEEE add of exact dyadic-free terms computed
    * identically from integer ranks.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60,
              excludeSelf: Boolean = false): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val u = rankings
      .map(_.select(col("qid"), col("id"), col("rank")))
      .reduce(_ unionByName _)
    val filtered = if (excludeSelf) u.filter(col("id") =!= col("qid")) else u
    val fused = filtered
      .groupBy("qid", "id")
      .agg(sum(lit(1.0) / (lit(c) + col("rank"))).as("__rrf"))
    fused
      .groupBy("qid")
      .agg(graft.functions.FunctionDefs.callAgg("topk_by_score",
        col("id"), col("__rrf"), lit(k)).as("__top"))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col("qid"), col("__t.id").as("id"),
        (col("__r") + 1).cast("int").as("rank"), col("__t.score").as("rrf"))
  }

  // ------------------------------------------------- computed knob defaults

  /** FAISS-guideline computed knobs, wired as the DEFAULTS wherever a
    * caller leaves nlist/nprobe/nBits at 0 (auto). SCALE_r08.md:118 and
    * SCALE_r09.md:75 record the failure mode these prevent: FIXED knobs degrade
    * across data decades (nlist=16 at 200k vectors → 12.5k-row lists;
    * nBits=8 → bucket occupancy grows linearly with n), while
    * nlist ≈ 4√n and nBits ≈ log₂(n / targetBucket) held 2k → 200k
    * (bench/r08_knobs_sf10ann.txt). One count() over the corpus sizes
    * them — metadata-cheap for a SOURCE-BACKED frame (parquet row
    * counts come from footers), but an auto knob on a DERIVED corpus
    * (filters/joins upstream) replays that lineage as an extra eager
    * job at call time: materialize the corpus first with [[Pins]]
    * (`Pins.once(corpus)`), or pass explicit knobs, when the input is
    * not a plain scan.
    * Explicit knobs always win (the CORRECTNESS entries pin theirs so
    * decade ratios compare the same plan).
    */
  def defaultNlist(n: Long): Int =
    math.max(16, math.min(65536, math.round(4.0 * math.sqrt(n.toDouble)).toInt))

  /** nprobe ≈ nlist/16 — the sweep's operating point (128/8 at 200k). */
  def defaultNprobe(nlist: Int): Int = math.max(4, nlist / 16)

  /** The ONE-SHOT (in-memory train+assign+search in a single job)
    * variant of [[defaultNlist]]: the self-contained entries pay the
    * coarse assignment (n·nlist·dim multiplies) on every call, so the
    * un-capped 4√n curve that is right for the build-once
    * [[graft.sources.AnnLayout]] path inverts here — measured 69 s at
    * 200k vectors with nlist=1789 vs 5.5 s at the 128 cap
    * (bench/r09_knobs). Capped at 128; the serving layouts keep the
    * full curve (their assignment amortizes over every future query).
    */
  def defaultNlistOneShot(n: Long): Int =
    math.min(128, defaultNlist(n))

  /** Hyperplane bits so expected bucket occupancy ≈ `targetBucket`. */
  def defaultNBits(n: Long, targetBucket: Int = 64): Int =
    math.max(4, math.min(24, math.ceil(
      math.log(math.max(2.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt))

  def lshBucket(vecCol: String, nBits: Int, seed: Long = 7): org.apache.spark.sql.Column =
    graft.functions.FunctionDefs.call("lsh_bucket",
      Vectors.toDouble(col(vecCol)), lit(nBits), lit(seed))

  /** (id, bucket) for every corpus row. */
  def lshBuckets(
      corpus: DataFrame, idCol: String, vecCol: String,
      nBits: Int, seed: Long = 7): DataFrame =
    corpus.select(col(idCol).as("id"), col(vecCol),
      lshBucket(vecCol, nBits, seed).as("bucket"))

  /** Multi-table LSH top-k: `tables` independent signature tables (the
    * standard recall amplifier — candidate recall is 1-(1-p)^tables),
    * each probed at the query's bucket and every 1-bit flip (multiprobe).
    * Candidates are deduped across tables, then scored exactly.
    * Output: (qid, id, rank, cos) — ranks are per-query over candidates.
    */
  def lshTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nBits: Int = 0, tables: Int = 8, seed: Long = 7): DataFrame = {
    val bits = if (nBits > 0) nBits else defaultNBits(corpus.count())
    def tabled(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(col(id).as("__id"), Vectors.toDouble(col(vec)).as("__vec"),
        posexplode(array((0 until tables).map(t =>
          lshBucket(vec, bits, seed + t * 7919)): _*)).as(Seq("__tbl", "__bucket")))
    val c = tabled(corpus, idCol, vecCol)
      .select(col("__id").as("id"), col("__vec").as("__v"), col("__tbl"), col("__bucket"))
    val q = tabled(queries, qidCol, qvecCol)
      .select(col("__id").as("qid"), col("__vec").as("__qv"), col("__tbl"), col("__bucket"))
      // multiprobe: the bucket itself plus every 1-bit flip
      .withColumn("__probe", explode(expr(
        s"array_union(array(__bucket), transform(sequence(0, ${bits - 1}), i -> cast(__bucket as bigint) ^ shiftleft(cast(1 as bigint), i)))")))
    val candidates = c.join(broadcast(q),
        c("__tbl") === q("__tbl") && c("__bucket") === q("__probe"))
      .filter(col("id") =!= col("qid"))
      .select("qid", "__qv", "id", "__v").distinct()
    rankTopK(
      candidates.withColumn("cos", Vectors.cosine(col("__qv"), col("__v"))),
      k)
  }

  /** IVF (inverted-file) ANN: cluster the corpus around `nlist` centroids
    * (spherical k-means — deterministic hashed-id sample init plus `iters`
    * distributed Lloyd rounds), then answer each query by probing only its
    * `nprobe` cosine-nearest lists.
    *
    * At 100 TB: centroids are nlist×dim doubles (a literal in the plan, no
    * broadcast join needed); assignment is one scan-side native expression;
    * the clustered corpus is written once and reused across query batches;
    * a query scans ~nprobe/nlist of the data. Training is sample-bounded
    * ([[kmeansCentroids]]): one hash-ordered TakeOrdered collects ≤
    * [[trainCap]] rows and every Lloyd round runs driver-side, so the
    * corpus is scanned once for training however many rounds run.
    * Output: (qid, id, rank, cos) — exact cosines over probed candidates.
    */
  /** Effective training-sample bound: explicit `maxTrain` wins; 0 means
    * the FAISS-style auto bound of 256 points per centroid (floored at
    * 4096 so tiny k still trains on a meaningful slice, capped at 2^17
    * rows so the driver-side sample stays tens of MB at typical dims).
    */
  private def trainCap(maxTrain: Int, k: Int): Int =
    if (maxTrain > 0) maxTrain
    else math.min(math.max(256 * k, 4096), 1 << 17)

  /** Driver-side mirror of the scan-side `ivf_assign` expression
    * (GeomImpl.ivfNearest): argmax cosine, accumulated in index order
    * with the identical IEEE expression `dot / sqrt(nv·nc)` and the
    * same -2.0 zero-norm sentinel and first-max tie-break — so a
    * residual trained here and re-assigned by the scan lands on the
    * same codeword bit-for-bit (the zero-error `_full` regimes rely on
    * that agreement).
    */
  private[graft] def localCosNearest(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = -1; var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      val cd = math.min(v.length, cent.length)
      var dot = 0.0; var nv = 0.0; var ncn = 0.0
      var d = 0
      while (d < cd) {
        val x = v(d); val y = cent(d)
        dot += x * y; nv += x * x; ncn += y * y
        d += 1
      }
      val sim = if (nv == 0.0 || ncn == 0.0) -2.0 else dot / math.sqrt(nv * ncn)
      if (sim > bestSim) { best = c; bestSim = sim }
      c += 1
    }
    best
  }

  /** Local Lloyd rounds over a driver-side training sample: assignment
    * via [[localCosNearest]], centroid update = arithmetic mean in
    * sample order (fully deterministic — unlike a distributed float sum,
    * whose order varies with partitioning), empty clusters keep their
    * centroid. The sample is bounded by [[trainCap]], so this is
    * microseconds-to-milliseconds of driver CPU — the FAISS shape:
    * codebooks are write-once artifacts trained on a fixed-size sample
    * however big the corpus is.
    */
  private[graft] def lloydLocal(points: Array[Array[Double]],
                                init: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    var cents = init
    var it = 0
    while (it < iters) {
      val dim = if (points.isEmpty) 0 else points(0).length
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      var i = 0
      while (i < points.length) {
        val p = points(i)
        val ci = localCosNearest(p, cents)
        if (ci >= 0) {
          val s = sums(ci)
          var d = 0
          while (d < p.length) { s(d) += p(d); d += 1 }
          counts(ci) += 1
        }
        i += 1
      }
      cents = Array.tabulate(cents.length) { ci =>
        if (counts(ci) == 0L) cents(ci)
        else {
          val n = counts(ci).toDouble
          sums(ci).map(_ / n)
        }
      }
      it += 1
    }
    cents
  }

  /** k-means centroids trained on a bounded deterministic sample
    * (deterministic hashed-id order, first `nlist` rows as init, `iters`
    * local Lloyd rounds via [[lloydLocal]]). The corpus pays exactly ONE
    * distributed job — the hash-ordered TakeOrdered that collects the
    * sample (≤ [[trainCap]] rows) — however many Lloyd rounds run;
    * the previous formulation re-scanned the full corpus once per round
    * (correct, but at 100 TB a write-once artifact costing `iters`
    * corpus scans is the wrong trade; FAISS trains on ≤256·k points for
    * the same reason). `df` needs (idCol, vecCol); the result is small
    * enough to embed as a plan literal downstream (nlist×dim doubles).
    */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      nlist: Int, iters: Int, seed: Long,
                      maxTrain: Int = 0): Array[Seq[Double]] = {
    val c = df.select(col(idCol).as("id"), Vectors.toDouble(col(vecCol)).as("__v"))
    val sample: Array[Array[Double]] =
      c.orderBy(xxhash64(col("id"), lit(seed)), col("id"))
        .limit(trainCap(maxTrain, nlist))
        .select("__v").collect().map(_.getSeq[Double](0).toArray)
    lloydLocal(sample, sample.take(nlist), iters).map(_.toSeq)
  }

  def ivfTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nlist: Int = 0, nprobe: Int = 0, iters: Int = 2, seed: Long = 7): DataFrame = {
    import graft.functions.FunctionDefs.call
    val nl = if (nlist > 0) nlist else defaultNlistOneShot(corpus.count())
    val np = if (nprobe > 0) nprobe else defaultNprobe(nl)
    val c = corpus.select(col(idCol).as("id"), Vectors.toDouble(col(vecCol)).as("__v"))
    val centroids = kmeansCentroids(corpus, idCol, vecCol, nl, iters, seed)
    val cent = typedlit(centroids.toSeq)
    val assigned = c.withColumn("__c", call("ivf_assign", col("__v"), cent))
    val q = queries
      .select(col(qidCol).as("qid"), Vectors.toDouble(col(qvecCol)).as("__qv"))
      .withColumn("__c", explode(call("ivf_probes", col("__qv"), cent, lit(np))))
    rankTopK(
      assigned.join(broadcast(q), "__c")
        .filter(col("id") =!= col("qid"))
        .withColumn("cos", Vectors.cosine(col("__qv"), col("__v"))),
      k)
  }

  /** Product-quantization ANN (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search" — public): vectors are L2-normalized,
    * split into `m` subspaces, and each subvector is replaced by the id
    * of its nearest codeword from a per-subspace `ksub`-entry codebook
    * (trained with the same sample-bounded local Lloyd as [[ivfTopK]],
    * on sliced vectors). A coded vector is m small ints instead of dim
    * doubles — at dim=64/m=8 a 32× shrink; the codebook itself is a plan
    * literal.
    *
    * Search is asymmetric distance computation: the scan over the CODED
    * corpus scores each row with the native `pq_adc` expression (sum of
    * query-subvector · codeword dots — on normalized vectors this
    * approximates cosine), keeps `refine`·k candidates per query through
    * the bounded-heap aggregate, and only the shortlist is re-ranked
    * with exact cosines on the raw vectors. At 100 TB the ADC pass
    * reads m bytes-per-code columns, not the embeddings; the raw
    * vectors are fetched for refine·k·queries rows only.
    * Output: (qid, id, rank, cos) — exact cosines on the final ranking.
    */
  def pqTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, m: Int = 8, ksub: Int = 16, iters: Int = 2,
      refine: Int = 4, seed: Long = 7, maxTrain: Int = 0): DataFrame = {
    import graft.functions.FunctionDefs.{call, callAgg}
    val raw = corpus.select(col(idCol).as("id"), Vectors.toDouble(col(vecCol)).as("__v"))
    val c = raw
      .withColumn("__n", call("vec_norm", col("__v")))
      .withColumn("__vn", when(col("__n") === 0.0, col("__v"))
        .otherwise(expr("transform(__v, x -> x / __n)")))
      .select("id", "__v", "__vn")

    // ONE corpus job for ALL training: a hash-ordered bounded sample
    // carrying the per-subspace init-order hashes; every codebook (all m
    // subspaces × all Lloyd rounds) then trains driver-side on it —
    // the previous formulation was m loops of `iters` collect-jobs each,
    // every one a full corpus re-scan.
    val sampleRows = c
      .orderBy(xxhash64(col("id"), lit(seed)), col("id"))
      .limit(trainCap(maxTrain, ksub))
      .select(col("__vn"),
        array((0 until m).map(j => xxhash64(col("id"), lit(seed + j))): _*).as("__h"))
      .collect()
    require(sampleRows.nonEmpty, "pqTopK: empty corpus")
    val sampleVecs = sampleRows.map(_.getSeq[Double](0).toArray)
    val sampleHash = sampleRows.map(_.getSeq[Long](1).toArray)
    val dim = sampleVecs(0).length
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
    val subdim = dim / m

    // per-subspace codebooks: deterministic hashed-id sample init +
    // local Lloyd (assignment mirrors ivf_assign bit-for-bit)
    val codebooks: Array[Array[Seq[Double]]] = Array.tabulate(m) { j =>
      val slices = sampleVecs.map(v => java.util.Arrays.copyOfRange(v, j * subdim, (j + 1) * subdim))
      val order = slices.indices.sortBy(i => (sampleHash(i)(j), i))
      val init = order.take(ksub).map(slices(_)).toArray
      lloydLocal(slices, init, iters).map(_.toSeq)
    }

    // scan-side encode: m nearest-codeword ids per row; at scale the
    // coded corpus (and only it) is what the ADC pass reads
    val codeCols = (0 until m).map(j =>
      call("ivf_assign", slice(col("__vn"), j * subdim + 1, subdim), typedlit(codebooks(j).toSeq)))
    val coded = c.select(col("id"), array(codeCols: _*).as("__codes"))
    val flatLit = typedlit(codebooks.flatMap(_.flatMap(_.toArray)).toSeq)

    val q = queries.select(col(qidCol).as("qid"), Vectors.toDouble(col(qvecCol)).as("__qv"))
      .withColumn("__qn", call("vec_norm", col("__qv")))
      .withColumn("__qvn", when(col("__qn") === 0.0, col("__qv"))
        .otherwise(expr("transform(__qv, x -> x / __qn)")))
      .select("qid", "__qv", "__qvn")
    val shortlist = coded.crossJoin(broadcast(q.select("qid", "__qvn")))
      .filter(col("id") =!= col("qid"))
      .withColumn("__adc", call("pq_adc", col("__qvn"), col("__codes"), flatLit, lit(m)))
      .groupBy("qid")
      .agg(callAgg("topk_by_score", col("id"), col("__adc"), lit(refine * k)).as("__top"))
      .select(col("qid"), explode(col("__top")).as("__t"))
      .select(col("qid"), col("__t.id").as("id"))
    rankTopK(
      shortlist
        .join(raw, "id")
        .join(broadcast(q.select("qid", "__qv")), "qid")
        .withColumn("cos", Vectors.cosine(col("__qv"), col("__v")))
        .select("qid", "id", "cos"),
      k)
  }

  /** IVF-PQ with residual quantization — the composition FAISS ships as
    * its production index (Jégou et al. 2011 §IV, public): a coarse
    * k-means quantizer routes each (L2-normalized) vector to a list,
    * and PQ codebooks are trained on the RESIDUALS v̂ − c (residuals
    * concentrate near the origin, so the same ksub spends its codewords
    * on a far smaller cell — the reason the combination beats flat PQ).
    * Search scores q·v̂ ≈ q·c + ADC(q, codes): the exact query-centroid
    * dot rides the probe pairs (one per query×probed-list, computed
    * BEFORE the corpus join), the ADC term is the native `pq_adc` over
    * the coded rows of probed lists only.
    *
    * Scale shape: the corpus side of the scoring join is (list, m
    * codes) — with the coded corpus laid out partitioned by list id,
    * probing IS partition pruning, and the scan reads m bytes per row
    * of nprobe/nlist of the data; raw vectors are fetched for the
    * refine·k·queries shortlist only. Probe pairs (queries × nprobe)
    * broadcast; candidate generation is the list-id equi-join, never a
    * cross join.
    *
    * Provably-complete regime (value-checked by ann_ivfpq_full + spec):
    * ksub ≥ corpus size makes every residual its own codeword (zero
    * quantization error), so with nprobe = nlist the ADC ranking equals
    * the exact one and the output must EQUAL brute force.
    * Output: (qid, id, rank, cos) — exact cosines on the final ranking.
    */
  /** A trained IVF-PQ model: coarse centroids + m residual codebooks.
    * Produced by [[trainIvfPq]]; consumed by [[ivfPqTopK]] and by
    * [[graft.sources.AnnLayout]]'s persisted PQ build, so the on-disk
    * index trains through the identical float sequence as the
    * in-memory one.
    */
  private[graft] final case class IvfPqModel(
      centroids: Array[Seq[Double]], codebooks: Array[Array[Seq[Double]]],
      dim: Int, subdim: Int) {
    def flatCodebooks: Seq[Double] = codebooks.flatMap(_.flatMap(_.toArray)).toSeq
  }

  /** ONE corpus job for ALL training (coarse + every PQ codebook): a
    * hash-ordered bounded sample carrying the per-subspace init-order
    * hashes. Coarse Lloyd, residual computation and all m residual
    * codebooks run driver-side on the sample — the previous
    * formulation cost ~19 full-corpus scans (coarse Lloyd rounds + m
    * codebook loops × iters collects, each re-deriving the
    * un-checkpointed assignment); at 100 TB that many corpus passes
    * for a write-once artifact is the scale-killer, and FAISS's answer
    * is exactly this: train on a fixed ≤256·k sample regardless of
    * corpus size. `c` must carry (id, __vn) with __vn L2-normalized.
    */
  private[graft] def trainIvfPq(c: DataFrame, nlist: Int, m: Int, ksub: Int,
                                iters: Int, seed: Long, maxTrain: Int): IvfPqModel = {
    val sampleRows = c
      .orderBy(xxhash64(col("id"), lit(seed)), col("id"))
      .limit(trainCap(maxTrain, math.max(ksub, nlist)))
      .select(col("__vn"),
        array((0 until m).map(j => xxhash64(col("id"), lit(seed + 31 * (j + 1)))): _*).as("__h"))
      .collect()
    require(sampleRows.nonEmpty, "ivfPqTopK: empty corpus")
    val sampleVecs = sampleRows.map(_.getSeq[Double](0).toArray)
    val sampleHash = sampleRows.map(_.getSeq[Long](1).toArray)
    val dim = sampleVecs(0).length
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
    val subdim = dim / m

    // coarse quantizer: init = first nlist sample rows (the same
    // hashed-id order the distributed version used), local Lloyd
    val centArr = lloydLocal(sampleVecs, sampleVecs.take(nlist), iters)

    // sample residuals, with the assignment mirroring scan-side
    // ivf_assign bit-for-bit so a trained codeword re-assigns to itself
    // in the zero-error regime
    val residuals = sampleVecs.map { v =>
      val ci = localCosNearest(v, centArr)
      if (ci < 0) v
      else {
        val cv = centArr(ci)
        val out = new Array[Double](v.length)
        var d = 0
        while (d < v.length) { out(d) = v(d) - cv(d); d += 1 }
        out
      }
    }

    // per-subspace codebooks trained on residual subvectors (same
    // deterministic per-subspace sample-init order as before)
    val codebooks: Array[Array[Seq[Double]]] = Array.tabulate(m) { j =>
      val slices = residuals.map(r => java.util.Arrays.copyOfRange(r, j * subdim, (j + 1) * subdim))
      val order = slices.indices.sortBy(i => (sampleHash(i)(j), i))
      val init = order.take(ksub).map(slices(_)).toArray
      lloydLocal(slices, init, iters).map(_.toSeq)
    }
    IvfPqModel(centArr.map(_.toSeq), codebooks, dim, subdim)
  }

  def ivfPqTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nlist: Int = 0, nprobe: Int = 0, m: Int = 8, ksub: Int = 32,
      iters: Int = 2, refine: Int = 10, seed: Long = 7, maxTrain: Int = 0): DataFrame = {
    import graft.functions.FunctionDefs.{call, callAgg}
    val nl = if (nlist > 0) nlist else defaultNlistOneShot(corpus.count())
    val np = if (nprobe > 0) nprobe else defaultNprobe(nl)
    val raw = corpus.select(col(idCol).as("id"), Vectors.toDouble(col(vecCol)).as("__v"))
    val c = raw
      .withColumn("__n", call("vec_norm", col("__v")))
      .withColumn("__vn", when(col("__n") === 0.0, col("__v"))
        .otherwise(expr("transform(__v, x -> x / __n)")))
      .select("id", "__vn")

    val model = trainIvfPq(c, nl, m, ksub, iters, seed, maxTrain)
    val codebooks = model.codebooks
    val subdim = model.subdim
    val cent = typedlit(model.centroids.toSeq)

    val assigned = c
      .withColumn("__c", call("ivf_assign", col("__vn"), cent))
      .withColumn("__r",
        zip_with(col("__vn"), element_at(cent, col("__c") + 1), (x, y) => x - y))
    val codeCols = (0 until m).map(j =>
      call("ivf_assign", slice(col("__r"), j * subdim + 1, subdim), typedlit(codebooks(j).toSeq)))
    val coded = assigned.select(col("id"), col("__c"), array(codeCols: _*).as("__codes"))
    val flatLit = typedlit(codebooks.flatMap(_.flatMap(_.toArray)).toSeq)

    // probe pairs: one row per query × probed list, carrying the exact
    // q·centroid term so the corpus-side scan only pays the ADC sum
    val q = queries.select(col(qidCol).as("qid"), Vectors.toDouble(col(qvecCol)).as("__qv"))
      .withColumn("__qn", call("vec_norm", col("__qv")))
      .withColumn("__qvn", when(col("__qn") === 0.0, col("__qv"))
        .otherwise(expr("transform(__qv, x -> x / __qn)")))
      .select("qid", "__qv", "__qvn")
    val probes = q.select(col("qid"), col("__qvn"))
      .withColumn("__c", explode(call("ivf_probes", col("__qvn"), cent, lit(np))))
      .withColumn("__qdotc",
        aggregate(
          zip_with(col("__qvn"), element_at(cent, col("__c") + 1), (x, y) => x * y),
          lit(0.0), (a, x) => a + x))

    // `<=>`, not `=`: a probe's list is never null, so the rows match
    // alike, but `=` makes Spark infer `isnotnull(ivf_assign(…))` on the
    // corpus side, a second assignment per row that
    // plans.PruneImpliedGuards cannot drop here (the residual and codes
    // projections above it would see the rows it removes)
    val bprobes = broadcast(probes)
    val shortlist = coded.join(bprobes, coded("__c") <=> bprobes("__c")).drop(bprobes("__c"))
      .filter(col("id") =!= col("qid"))
      .withColumn("__score",
        col("__qdotc") + call("pq_adc", col("__qvn"), col("__codes"), flatLit, lit(m)))
      .groupBy("qid")
      .agg(callAgg("topk_by_score", col("id"), col("__score"), lit(refine * k)).as("__top"))
      .select(col("qid"), explode(col("__top")).as("__t"))
      .select(col("qid"), col("__t.id").as("id"))
    rankTopK(
      shortlist
        .join(raw, "id")
        .join(broadcast(q.select("qid", "__qv")), "qid")
        .withColumn("cos", Vectors.cosine(col("__qv"), col("__v")))
        .select("qid", "id", "cos"),
      k)
  }

  /** PCA-reduced ANN — the reduce-then-index recipe: fit a [[Pca]] model
    * on the corpus (one distributed moment pass), score candidates by
    * cosine in the `kDim`-dimensional projected space, keep `refine`·k
    * per query through the bounded-heap aggregate, and re-rank only that
    * shortlist with exact cosines on the raw vectors (the same
    * shortlist+refine shape as [[pqTopK]]).
    *
    * At 100 TB the projected corpus is what the scoring pass scans —
    * kDim/dim of the embedding bytes (and the projection itself is
    * scan-side codegen, so materializing it costs no shuffle); raw
    * vectors are fetched for refine·k·queries rows only.
    * Output: (qid, id, rank, cos) — exact cosines on the final ranking.
    */
  def pcaTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, kDim: Int = 32, refine: Int = 10): DataFrame = {
    import graft.functions.FunctionDefs.callAgg
    val model = Pca.fit(corpus, vecCol, kDim)
    val raw = corpus.select(col(idCol).as("id"), Vectors.toDouble(col(vecCol)).as("__v"))
    val c = raw.withColumn("__pv", Pca.projectColumn(col("__v"), model))
    val q = queries.select(col(qidCol).as("qid"), Vectors.toDouble(col(qvecCol)).as("__qv"))
      .withColumn("__qpv", Pca.projectColumn(col("__qv"), model))
    val shortlist = c.select("id", "__pv")
      .crossJoin(broadcast(q.select("qid", "__qpv")))
      .filter(col("id") =!= col("qid"))
      .withColumn("__pc", Vectors.cosine(col("__qpv"), col("__pv")))
      .groupBy("qid")
      .agg(callAgg("topk_by_score", col("id"), col("__pc"), lit(refine * k)).as("__top"))
      .select(col("qid"), explode(col("__top")).as("__t"))
      .select(col("qid"), col("__t.id").as("id"))
    rankTopK(
      shortlist
        .join(raw, "id")
        .join(broadcast(q.select("qid", "__qv")), "qid")
        .withColumn("cos", Vectors.cosine(col("__qv"), col("__v")))
        .select("qid", "id", "cos"),
      k)
  }
}
