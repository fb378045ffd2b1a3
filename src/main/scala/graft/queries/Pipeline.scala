package graft.queries

import graft.ops.{Ann, Dedup, Graph, Multimodal, Pins, Text}
import graft.sources.{Parquet, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-data-pipeline query set (SURVEY.md §2.8–2.11) over `documents`
  * and `embeddings`, with DuckDB oracles wherever the semantics are
  * SQL-expressible (exact dedup groups, pairwise Jaccard, exact cosine
  * pairs/top-k, token counts, quality facets, media byte lengths).
  * Probabilistic candidate generation (MinHash bands, SimHash pieces,
  * hyperplane buckets) is rows-only here and exactly verified in specs.
  */
object Pipeline {

  def ddExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
      .select("survivor_id", "n_copies").orderBy("survivor_id")

  /** Word-set Jaccard of consecutive doc pairs (exact verify stage). */
  def ddJaccard(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val a = d.select(col("doc_id").as("id_a"), col("toks").as("ta"))
    val b = d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"), col("toks").as("tb"))
    a.join(b, "id_a")
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("ta"), col("tb"))) * lit(1.0) /
          size(array_union(col("ta"), col("tb"))), 4).as("jac"))
      .orderBy("id_a")
  }

  def ddMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(Tables.documents(s, dir), "doc_id", "text",
        k = 3, numPerm = 64, bands = 16, threshold = 0.8, maxBucket = -1)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")

  /** Exact set-similarity join (inverted-index, no cross product): its
    * full (id_a, id_b, jaccard) output is deterministic, so the oracle
    * recomputes it as an all-pairs shingle-jaccard in SQL.
    */
  def ddJaccardJoin(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardJoin(Tables.documents(s, dir), "doc_id", "text", k = 3, threshold = 0.8)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")

  /** Near-dup groups through connected components: jaccardJoin pairs →
    * alternating large-star/small-star closure (O(log n) rounds even on
    * chain-shaped components) → every document labeled with its
    * component (singletons label themselves) + the component size.
    * Transitive closure is the semantics a dedup survivor pass actually
    * needs; the oracle recomputes it with a recursive CTE over the same
    * pair SQL.
    */
  def ddComponents(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.jaccardJoin(docs, "doc_id", "text", k = 3, threshold = 0.8)
    val cc = Dedup.connectedComponents(pairs)
    val comp = docs.select(col("doc_id"))
      .join(cc, docs("doc_id") === cc("id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("component"))
    comp.join(comp.groupBy("component").agg(count(lit(1)).as("n_members")), "component")
      .select("doc_id", "component", "n_members")
      .orderBy("doc_id")
  }

  /** Incremental connected components
    * ([[graft.ops.Dedup.mergeComponents]]): labels built from a
    * deterministic "old" two-thirds of the near-dup pairs, then the
    * remaining third folds in as supernode merges — label-level CC
    * over the new edges only, one broadcast-probed scan of the labels
    * table. The oracle is the FULL closure over all pairs (the
    * dd_components oracle verbatim): incremental maintenance must be
    * invisible, bit for bit.
    */
  def ddComponentsInc(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.jaccardJoin(docs, "doc_id", "text", k = 3, threshold = 0.8)
      .transform(Pins.once(_)) // the split feeds two CC passes
    val old = pairs.filter((col("id_a") + col("id_b")) % 3 =!= 0)
    val fresh = pairs.filter((col("id_a") + col("id_b")) % 3 === 0)
    val cc = Dedup.mergeComponents(Dedup.connectedComponents(old), fresh)
    val comp = docs.select(col("doc_id"))
      .join(cc, docs("doc_id") === cc("id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("component"))
    comp.join(comp.groupBy("component").agg(count(lit(1)).as("n_members")), "component")
      .select("doc_id", "component", "n_members")
      .orderBy("doc_id")
  }

  /** Canonical-survivor selection over near-dup components — the policy
    * a real curation pipeline runs instead of keep-min-id: per
    * component, keep the HIGHEST-quality member (4-dp contract score,
    * ties to the lower doc_id). The argmax is a map-side
    * max(struct(quality, −doc_id)) aggregate, never a window; the
    * oracle recomputes the transitive closure recursively AND the
    * quality argmax per component.
    */
  def ddCanonical(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.jaccardJoin(docs, "doc_id", "text", k = 3, threshold = 0.8)
    val cc = Dedup.connectedComponents(pairs)
    val comp = docs
      .select(col("doc_id"), Text.qualityScore(col("text")).as("__q"))
      .join(cc, docs("doc_id") === cc("id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("component"), col("__q"))
    comp.groupBy("component")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("__q").as("q"), (-col("doc_id")).as("nid"))).as("__m"))
      .select(col("component"), col("n_members"),
        (-col("__m.nid")).as("canonical_id"), col("__m.q").as("canonical_q"))
      .orderBy("component")
  }

  /** MinHash-vs-exact quality contract: n_exact from [[ddJaccardJoin]]'s
    * ground truth, zero precision misses (candidates are verified with
    * the same exact jaccard, so found ⊆ exact by construction), and —
    * at 16 bands × 4 rows on j ≥ 0.8 pairs the S-curve passes ≥ 99.97%
    * per pair — zero missed pairs on this corpus (deterministic: seeded
    * hashes), which the oracle asserts exactly.
    */
  def ddMinhashRecall(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val exact = Dedup.jaccardJoin(docs, "doc_id", "text", k = 3, threshold = 0.8)
      .select("id_a", "id_b")
    val found = Dedup.minhashLsh(docs, "doc_id", "text",
        k = 3, numPerm = 64, bands = 16, threshold = 0.8, maxBucket = -1)
      .select("id_a", "id_b")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(exact.join(found, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("n_missed")))
      .crossJoin(found.join(exact, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("n_precision_miss")))
  }

  def ddSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDup(Tables.documents(s, dir), "doc_id", "text",
        maxDist = 3, pieces = 4, maxBucket = Dedup.BucketUnlimited)
      .orderBy("id_a", "id_b")

  /** SimHash-vs-jaccard cross-family consistency, floor-checked: SimHash
    * hamming ≤ 3 measures weighted token-multiset similarity, not set
    * jaccard, so exact recall of jaccard pairs is not expected — but at
    * these settings it deterministically finds ≥ 50% of the j ≥ 0.9
    * pairs (measured 60% at sf0.01, 75% at sf0.1; hashes are seeded).
    * n_high is oracle-recomputed from the shingle SQL.
    */
  def ddSimhashRecall(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val high = Dedup.jaccardJoin(docs, "doc_id", "text", k = 3, threshold = 0.9)
      .select("id_a", "id_b")
    val sim = Dedup.simhashNearDup(docs, "doc_id", "text", maxDist = 3, pieces = 4,
        maxBucket = Dedup.BucketUnlimited)
      .select("id_a", "id_b")
    high.agg(count(lit(1)).as("n_high"))
      .crossJoin(high.join(sim, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("__found")))
      .select(col("n_high"),
        when(col("__found") * 2 >= col("n_high"), 1).otherwise(0).as("recall_floor_ok"))
  }

  /** SemDeDup default regime (nlist=8 clusters): within-cluster recall
    * is exact but cross-cluster near-dups can be missed, so the group
    * list is rows-only; [[ddSemanticFull]] is the hash-checked twin.
    */
  def ddSemantic(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.4, nlist = 8)
      .orderBy("survivor_id")

  /** SemDeDup in its provably-complete regime: nlist=1 puts every
    * vector in one cluster, so the operator must produce the EXACT
    * all-pairs transitive closure the recursive-CTE oracle computes —
    * clustering, assignment, pair join, components and grouping are all
    * hash-compared.
    */
  def ddSemanticFull(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.4, nlist = 1)
      .orderBy("survivor_id")

  /** SemDeDup quality contract: clustered pairs are a SUBSET of exact
    * pairs, so the clustered grouping must REFINE the exact closure —
    * no clustered group may span two exact components, at any nlist.
    * n_exact_groups is recomputed by the oracle's recursive CTE;
    * refinement_ok is deterministic and asserted as a constant.
    */
  def ddSemanticRefine(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val clu = Dedup.semanticComponents(e, "vec_id", "embedding",
      threshold = 0.4, nlist = 8).withColumnRenamed("group_id", "g_clu")
    val full = Dedup.semanticComponents(e, "vec_id", "embedding",
      threshold = 0.4, nlist = 1).withColumnRenamed("group_id", "g_full")
    val nExact = full.agg(countDistinct(col("g_full")).as("n_exact_groups"))
    val viol = clu.join(full, Seq("id"))
      .groupBy("g_clu").agg(countDistinct(col("g_full")).as("__nf"))
      .agg(sum(when(col("__nf") > 1, 1).otherwise(0)).as("__nv"))
    nExact.crossJoin(viol)
      .select(col("n_exact_groups"),
        (col("__nv") === 0).cast("int").as("refinement_ok"))
  }

  def ddEmbed(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDup(Tables.embeddings(s, dir), "vec_id", "embedding", 0.4)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .orderBy("id_a", "id_b")

  /** The 100 TB embedding-dedup path (LSH-blocked bucket self-join — no
    * cross join); candidate recall is probabilistic so the pair list is
    * rows-only, and [[ddEmbedRecall]] value-checks it against the exact
    * oracle.
    */
  def ddEmbedBlocked(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupBlocked(Tables.embeddings(s, dir), "vec_id", "embedding", 0.4)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .orderBy("id_a", "id_b")

  /** Blocked-vs-exact quality contract, DuckDB-checkable: n_exact is the
    * oracle-recomputable all-pairs count; n_precision_miss counts blocked
    * pairs absent from the exact set (exactly 0 by construction — the
    * blocked path reports true cosines, so precision is 1); the recall
    * floor asserts the bucketed candidates find at least 10% of true
    * pairs at these params (deterministic: hashes are seeded).
    */
  def ddEmbedRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val exact = Dedup.embeddingNearDup(e, "vec_id", "embedding", 0.4).select("id_a", "id_b")
    val blocked = Dedup.embeddingNearDupBlocked(e, "vec_id", "embedding", 0.4).select("id_a", "id_b")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(blocked.agg(count(lit(1)).as("n_found")))
      .crossJoin(blocked.join(exact, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("n_precision_miss")))
      .select(col("n_exact"), col("n_precision_miss"),
        when(col("n_found") * 10 >= col("n_exact"), 1).otherwise(0).as("recall_floor_ok"))
  }

  def annBrute(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.bruteForce(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .select(col("qid"), col("id"), col("rank"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rank")
  }

  /** Hybrid retrieval: sparse BM25 over document text and dense cosine
    * over embeddings, fused with reciprocal-rank fusion (query-by-example:
    * each query doc's first 5 distinct tokens are its keyword query, its
    * embedding its dense query; the self doc is excluded from the fused
    * list). Both base rankings use bounded-heap top-k aggregates and the
    * fusion is a tiny union + partial agg — the corpus is scanned once
    * per system and never shuffled whole. The oracle replays both
    * rankings and the 1/(60+rank) fusion arithmetic end-to-end.
    */
  def annHybrid(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // dense side restricted to ids that exist as documents, so both
    // systems rank the same id space
    val e = Tables.embeddings(s, dir)
      .join(docs.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    val qTerms = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(split(col("text"), " "), 1, 5))).as("term"))
    val textRank = Text.bm25TopK(docs, "doc_id", "text", qTerms, "qid", "term", k = 20)
    val denseRank = Ann.bruteForce(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 20)
    Ann.rrfFuse(Seq(textRank, denseRank), k = 10, excludeSelf = true)
      .select(col("qid"), col("id"), col("rank"), round(col("rrf"), 6).as("rrf"))
      .orderBy("qid", "rank")
  }

  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.lshTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nBits = 8)
      .select(col("qid"), col("id"), col("rank"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rank")
  }

  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.ivfTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 4)
      .select(col("qid"), col("id"), col("rank"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rank")
  }

  def annPq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.pqTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, m = 8, ksub = 32, refine = 10)
      .select(col("qid"), col("id"), col("rank"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rank")
  }

  /** Recall@10 contract for the PQ+refine operating point (m=8 codes,
    * ksub=32, 10x refine pool) against the brute ranking — PQ is lossy
    * by construction (no exhaustive regime exists), so the quality claim
    * IS the recall floor, like dd_embed_blocked's. Measured recall@10:
    * 86% at sf0.001, 96% at sf0.01, 64% at sf0.1 (deterministic —
    * seeded codebook init); floor 40%.
    */
  def annPqRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 5)
    val brute = Ann.bruteForce(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      .select("qid", "id")
    val approx = Ann.pqTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, m = 8, ksub = 32, refine = 10)
      .select("qid", "id")
    annRecallOf(brute, approx, floorPct = 40)
  }

  /** IVF-PQ residual quantization at the default operating point
    * (nlist=16, nprobe=4, m=8, ksub=32, 10× refine) — rows-only like
    * ann_pq/ann_ivf; the machinery is value-checked by ann_ivfpq_full
    * and the operating point by ann_ivfpq_recall.
    */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.ivfPqTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 4, m = 8, ksub = 32, refine = 10)
      .select(col("qid"), col("id"), col("rank"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rank")
  }

  /** IVF-PQ in its provably-complete regime: on a ≤256-vector corpus
    * with ksub=256, every residual subvector is its own codeword (zero
    * quantization error — the deterministic sample init covers the
    * whole corpus), and nprobe=nlist probes every list, so the ADC
    * ranking equals the exact one and the output must EQUAL the
    * brute-force ranking — value-checking coarse assignment, residual
    * computation, per-subspace codebooks, the q·c + ADC score
    * decomposition, probe generation and the shortlist/refine path in
    * one go.
    */
  def annIvfPqFull(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).filter(col("vec_id") < 256)
    Ann.ivfPqTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nlist = 8, nprobe = 8, m = 8, ksub = 256, iters = 1, refine = 3)
      .select(col("qid"), col("id"), col("rank"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rank")
  }

  /** Recall@10 contract for the IVF-PQ default operating point against
    * the brute ranking (deterministic — seeded coarse and subspace
    * codebook init); floor 40% like ann_pq_recall. Measured recall@10:
    * 50% at sf0.001, 46% at sf0.01 — lower than flat PQ's because the
    * compound index pays BOTH the probe miss rate and the quantization
    * error; that compounding is the documented trade the recall
    * contract exists to keep honest (raise nprobe to buy it back).
    */
  def annIvfPqRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 5)
    val brute = Ann.bruteForce(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      .select("qid", "id")
    val approx = Ann.ivfPqTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 4, m = 8, ksub = 32, refine = 10)
      .select("qid", "id")
    annRecallOf(brute, approx, floorPct = 40)
  }

  /** LSH in its provably-complete regime: at nBits=1 the 1-bit multiprobe
    * covers both buckets, so candidates = the whole corpus and the output
    * must EQUAL the brute-force ranking — value-checking the entire LSH
    * machinery (signatures, bucket join, multiprobe, dedup, exact
    * rescoring, bounded-heap ranking) against the brute-force oracle.
    * The approximate regime (ann_lsh) stays rows-only + spec.
    */
  def annLshExhaustive(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.lshTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nBits = 1, tables = 1)
      .select(col("qid"), col("id"), col("rank"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rank")
  }

  /** IVF at nprobe=nlist probes every list, so the output must EQUAL the
    * brute-force ranking — value-checking clustering, assignment, probe
    * selection and rescoring against the brute-force oracle (the same
    * convergence AnnSpec asserts, here under the driver's value gate).
    */
  def annIvfFull(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.ivfTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nlist = 8, nprobe = 8)
      .select(col("qid"), col("id"), col("rank"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rank")
  }

  // One persisted IVF index, a query [[fixture]] — the build-once/
  // read-many serving shape AnnLayout exists for.
  private def annLayoutPath(s: SparkSession, dir: String): String =
    fixture("ann_ivf_layout", dir) { f =>
      val p = f + "/ivf"
      graft.sources.AnnLayout.build(Tables.embeddings(s, dir), "vec_id", "embedding",
        p, nlist = 8, iters = 2, seed = 7)
      p
    }

  /** Top-k over the PERSISTED IVF layout ([[graft.sources.AnnLayout]]):
    * the index is built once (train + assign + partitioned write) and
    * the query path reads only the probed `list=` directories via
    * dynamic partition pruning. Default regime (nprobe=4 of nlist=8)
    * is recall-probabilistic → rows-only; [[annIvfLayoutFull]] is the
    * hash-checked twin.
    */
  def annIvfLayout(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    graft.sources.AnnLayout.topK(s, annLayoutPath(s, dir),
        e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10, nprobe = 4)
      .select(col("qid"), col("id"), col("rank"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rank")
  }

  /** The layout in its provably-complete regime: nprobe = nlist probes
    * every cell, so the pruned scan must recover the ENTIRE corpus and
    * the result must EQUAL brute force (the same all-cells contract
    * ann_ivf_full proves for the in-memory build) — which makes the
    * persisted assignment, the DPP probe join and the ranking all
    * hash-checked against the SQL oracle.
    */
  def annIvfLayoutFull(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    graft.sources.AnnLayout.topK(s, annLayoutPath(s, dir),
        e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10, nprobe = 8)
      .select(col("qid"), col("id"), col("rank"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rank")
  }

  // PQ layouts: one default-regime index + one zero-error-regime
  // index, each a query [[fixture]]
  /** Top-k over the PERSISTED IVF-PQ layout ([[graft.sources.AnnLayout
    * .buildPq]]): codes-only ADC scan over probed cells, exact re-rank
    * of the shortlist. Default regime is recall-probabilistic →
    * rows-only; [[annPqLayoutFull]] is the hash-checked twin.
    */
  def annPqLayout(s: SparkSession, dir: String): DataFrame = {
    val path = fixture("ann_pq_layout", dir) { f =>
      val p = f + "/ivfpq"
      graft.sources.AnnLayout.buildPq(Tables.embeddings(s, dir), "vec_id", "embedding",
        p, nlist = 16, m = 8, ksub = 32, iters = 2, seed = 7)
      p
    }
    val e = Tables.embeddings(s, dir)
    graft.sources.AnnLayout.pqTopK(s, path,
        e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10, nprobe = 4, refine = 10)
      .select(col("qid"), col("id"), col("rank"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rank")
  }

  /** The persisted PQ layout in the zero-quantization-error regime
    * (ksub ≥ corpus so every residual subvector is its own codeword,
    * nprobe = nlist so every cell is probed — the same regime
    * [[annIvfPqFull]] proves for the in-memory build): the on-disk
    * codes, the ADC scan and the refine join must together EQUAL brute
    * force, hash-checked against the SQL oracle.
    */
  def annPqLayoutFull(s: SparkSession, dir: String): DataFrame = {
    val e256 = Tables.embeddings(s, dir).filter(col("vec_id") < 256)
    val path = fixture("ann_pq_layout_full", dir) { f =>
      val p = f + "/ivfpq"
      graft.sources.AnnLayout.buildPq(e256, "vec_id", "embedding",
        p, nlist = 8, m = 8, ksub = 256, iters = 1, seed = 7)
      p
    }
    graft.sources.AnnLayout.pqTopK(s, path,
        e256.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10, nprobe = 8, refine = 3)
      .select(col("qid"), col("id"), col("rank"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rank")
  }

  /** Shared recall@k contract: count how many of the brute-force top-k
    * pairs the approximate ranking also returned, and assert a
    * deterministic floor (hashes are seeded, so the hit count is a
    * constant per corpus). `floorPct` is asserted with integer
    * arithmetic so no FP boundary can flip the flag.
    */
  private def annRecallOf(brute: DataFrame, approx: DataFrame, floorPct: Int): DataFrame =
    brute.agg(count(lit(1)).as("n_brute"))
      .crossJoin(brute.join(approx, Seq("qid", "id"), "left_semi")
        .agg(count(lit(1)).as("__hit")))
      .select(col("n_brute"),
        when(col("__hit") * 100 >= col("n_brute") * floorPct, 1)
          .otherwise(0).as("recall_floor_ok"))

  /** Recall@10 contract for the DEFAULT approximate LSH regime (the
    * parameters `ann_lsh` actually runs: nBits=8, 8 tables, 1-bit
    * multiprobe) against the brute-force ranking — the exhaustive twin
    * (ann_lsh_exhaustive) proves the machinery; this certifies the
    * approximate operating point users run. Measured recall@10: 50% at
    * sf0.001, 62% at sf0.01, 60% at sf0.1 (deterministic — seeded
    * hashes); floor 40%.
    */
  def annLshRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 5)
    val brute = Ann.bruteForce(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      .select("qid", "id")
    val approx = Ann.lshTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, nBits = 8)
      .select("qid", "id")
    annRecallOf(brute, approx, floorPct = 40)
  }

  /** Recall@10 contract for the DEFAULT approximate IVF regime (nlist=16,
    * nprobe=4 — probing a quarter of the lists, the parameters `ann_ivf`
    * runs). Measured recall@10: 50% at sf0.001, 46% at sf0.01, 50% at
    * sf0.1 (deterministic — seeded init and assignment); floor 40%.
    */
  def annIvfRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 5)
    val brute = Ann.bruteForce(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      .select("qid", "id")
    val approx = Ann.ivfTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 4)
      .select("qid", "id")
    annRecallOf(brute, approx, floorPct = 40)
  }

  /** Int8 embedding quantization (the 4×-less-IO storage path for ANN at
    * corpus scale): per-vector symmetric scale, quantize, dequantize —
    * every output (quantized checksum, scale, max reconstruction error)
    * is plain arithmetic the oracle replays exactly.
    */
  def annInt8(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Vectors
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
    e.withColumn("scale", Vectors.int8Scale(col("v")))
      .withColumn("q", Vectors.quantizeInt8(col("v"), col("scale")))
      .withColumn("deq", Vectors.dequantizeInt8(col("q"), col("scale")))
      .select(
        col("vec_id"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
        round(col("scale"), 6).as("scale_r"),
        round(aggregate(zip_with(col("v"), col("deq"), (a, b) => abs(a - b)),
          lit(0.0), (a, x) => greatest(a, x)), 6).as("max_err"))
      .orderBy("vec_id")
  }

  /** BM25 ranked retrieval over `documents` for three fixed keyword
    * queries — every number (tf, df, avgdl, Lucene-variant idf, the
    * full saturation formula, tie-break by id) is replayed verbatim by
    * the SQL oracle.
    */
  def txBm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = Seq(
      (0L, "join"), (0L, "hash"),
      (1L, "scan"), (1L, "filter"), (1L, "vector"),
      (2L, "customer"), (2L, "order"))
      .toDF("qid", "term")
    Text.bm25TopK(Tables.documents(s, dir), "doc_id", "text", q, "qid", "term", k = 10)
      .select(col("qid"), col("id"), col("rank"), round(col("score"), 6).as("score"))
      .orderBy("qid", "rank")
  }

  /** The full curation pipeline, composed: computed-language filter →
    * quality floor → repetition cap → exact dedup survivors →
    * deterministic stratified sample, reported as a stage funnel
    * (stage, stage_name, n_kept). Every signal is a scan-side column
    * expression, so stages 1–3 are ONE pass over the corpus; dedup adds
    * its digest aggregate and the sample is an exact-integer-hash
    * filter. The oracle replays every stage — langid profiles, quality
    * and repetition formulas, min-id dedup, the multiplicative-hash
    * sample — in SQL and must reproduce the same funnel counts.
    * Thresholds compare the 4dp-ROUNDED signal values, so both engines
    * decide each row identically.
    */
  def txCurate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // Stage counts as conditional counters over ONE scan: the previous
    // shape unioned six per-stage count(*) branches, so the expensive
    // scan-side signals (langid, quality, 3-gram/dup-word fractions) ran
    // once PER STAGE per row — measured 14.6× for the sf1→sf10 decade in
    // SCALE_r06, allocation/GC compounding the 5× re-evaluation. The
    // funnel stages are monotone (each is a refinement of the last), so
    // cumulative flags + count_if give identical counts in one pass.
    val staged = docs.select(col("doc_id"), col("lang"), col("text"))
      .withColumn("__s1", Text.langId(col("text")) === "en")
      .withColumn("__s2", col("__s1") && Text.qualityScore(col("text")) >= 0.49)
      .withColumn("__s3", col("__s2") &&
        Text.dupNgramFrac(col("text"), 3) <= 0.205 && Text.dupWordFrac(col("text")) <= 0.62)
    val c03 = staged.agg(
      count(lit(1)).as("n0"),
      count(when(col("__s1"), 1)).as("n1"),
      count(when(col("__s2"), 1)).as("n2"),
      count(when(col("__s3"), 1)).as("n3"))
    // Stages 4–5 need the dedup group structure, so a second (grouped)
    // pass runs over the stage-3 survivors only: min(struct(id, lang))
    // per content digest IS Dedup.exact's keeper row (ids are unique and
    // lead the struct ordering), and the stratified-sample keep flag
    // counts in the same aggregate — digests are the only shuffle.
    val surv = staged.filter(col("__s3"))
      .groupBy(md5(col("text")).as("__h"))
      .agg(min(struct(col("doc_id"), col("lang"))).as("__k"))
      .select(col("__k.doc_id").as("doc_id"), col("__k.lang").as("lang"))
    val c45 = surv.agg(
      count(lit(1)).as("n4"),
      count(when(Text.sampleKeep("lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 1.0), defaultRate = 0.1), 1)).as("n5"))
    c03.crossJoin(c45)
      .selectExpr("""stack(6,
        0, 'input',      n0,
        1, 'lang_en',    n1,
        2, 'quality',    n2,
        3, 'repetition', n3,
        4, 'dedup',      n4,
        5, 'sample',     n5) AS (stage, stage_name, n_kept)""")
      .orderBy("stage")
  }

  /** BPE vocabulary learning over the corpus: the 10-merge table, each
    * row (step, pair, count) fully determined by the data + tie-break.
    * The oracle re-learns the merges from scratch in SQL — ten unrolled
    * rounds of pair-count/argmax/rewrite CTEs ([[bpeOracleSql]]) using
    * the same wrapped-string replace trick, so training itself is
    * value-checked end to end.
    */
  def txBpe(s: SparkSession, dir: String): DataFrame =
    graft.ops.Bpe.learn(Tables.documents(s, dir), "text", nMerges = 10)
      .orderBy("step")

  /** The BPE APPLY path: tokenize every document with the learned merge
    * table (collected to the driver — 10 rows, the tokenizer artifact a
    * pipeline ships) entirely scan-side: per-word encode is `nMerges`
    * chained literal replaces inside a `transform` lambda, token counts
    * and the lossless-roundtrip flag fold over the nested arrays — no
    * shuffle, no UDF, whole-stage codegen. The oracle RE-LEARNS the
    * merges in SQL (the tx_bpe CTEs) and replays the encode word-for-
    * word, so n_tokens and roundtrip_ok are value-equal, not just flags.
    */
  // One BPE training, a query [[fixture]]: the merge table is the
  // write-once tokenizer artifact — a real pipeline learns it once and
  // applies it fleet-wide. tx_bpe measures the learn itself; this entry
  // measures the APPLY path. (Without the fixture, every bench iteration
  // re-paid the 10 driver-side merge rounds — ~60% of the old
  // tx_bpe_apply number was re-training, not encoding.)
  def txBpeApply(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges: Seq[(String, String)] = fixture("tx_bpe_merges", dir) { _ =>
      graft.ops.Bpe.learn(Tables.documents(s, dir), "text", nMerges = 10)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
    }
    val words = filter(split(col("text"), " "), w => w =!= "")
    // Stage the encode as a NAMED column consumed twice downstream:
    // higher-order functions are excluded from codegen subexpression
    // elimination, so spelling `encs` inline in both n_tokens and
    // roundtrip_ok runs the full 10-deep merge cascade twice per row
    // (measured ~1.6x wall on this, the heaviest scan-side query);
    // CollapseProject keeps a multi-referenced non-cheap alias staged,
    // so this evaluates once.
    docs.select(col("doc_id"), words.as("__words"))
      .select(col("doc_id"), col("__words"),
        transform(col("__words"), w => graft.ops.Bpe.encode(w, merges)).as("__encs"))
      .select(col("doc_id"),
        size(col("__words")).cast("int").as("n_words"),
        aggregate(col("__encs"), lit(0), (acc, t) => acc + size(t)).cast("int").as("n_tokens"),
        (transform(col("__encs"), t => array_join(t, "")) === col("__words"))
          .cast("int").as("roundtrip_ok"))
      // the sort barrier: the sampler would otherwise run the 10-deep
      // merge cascade a second time
      .transform(Pins.sorted("doc_id"))
  }

  /** The distributed half of PCA — the one-pass (n, Σv, Σv·vᵀ) moment
    * aggregation ([[graft.functions.VectorOuterSumAgg]]) — value-checked
    * entry by entry: unpack the packed triangle into every (i ≤ j)
    * covariance entry and let the oracle recompute
    * cov(i,j) = Σ vᵢvⱼ/n − μᵢμⱼ from scratch in SQL. The driver-side
    * eigensolve consumes exactly these numbers, so this certifies the
    * part of [[graft.ops.Pca.fit]] that touches data at scale.
    */
  def annPcaCov(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{FunctionDefs, Vectors}
    val e = Tables.embeddings(s, dir)
      .select(Vectors.toDouble(col("embedding")).as("__v"))
    e.agg(
        count(lit(1)).as("n"),
        FunctionDefs.callAgg("vec_sum", col("__v")).as("s"),
        FunctionDefs.callAgg("vec_outer_sum", col("__v")).as("g"))
      .withColumn("d", size(col("s")))
      .select(col("n"), col("s"), col("g"), col("d"),
        explode(sequence(lit(0), col("d") - 1)).as("i"))
      .select(col("n"), col("s"), col("g"), col("d"), col("i"),
        explode(sequence(col("i"), col("d") - 1)).as("j"))
      // packed row-major upper-triangle offset of (i, j), 0-based
      .withColumn("p", expr("i * d - (i * (i - 1)) div 2 + (j - i)"))
      .select(
        (col("i") + 1).cast("int").as("i"),
        (col("j") + 1).cast("int").as("j"),
        // + 0.0 collapses IEEE −0.0 to +0.0 (the hash compare is
        // sign-sensitive; DuckDB's round can emit the other zero)
        (round(
          element_at(col("g"), (col("p") + 1).cast("int")) / col("n") -
            (element_at(col("s"), (col("i") + 1).cast("int")) / col("n")) *
            (element_at(col("s"), (col("j") + 1).cast("int")) / col("n")),
          6) + lit(0.0)).as("cov_r"))
      .orderBy("i", "j")
  }

  /** Contracts on the fitted model (k=8): component orthonormality and
    * eigenvalue ordering checked on the driver, and — distributed — the
    * per-component variance of the projected data must equal its
    * eigenvalue (that IS the defining property of PCA; relative gap
    * < 1e-6). n and dim are recomputed by the oracle; the flags are
    * deterministic (single-pass moments + deterministic Jacobi) and
    * asserted as constants, the sp_buffer_bounds pattern.
    */
  def annPcaFlags(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Pca
    val e = Tables.embeddings(s, dir)
    val model = Pca.fit(e, "embedding", k = 8)
    val orthoOk = {
      val d = model.dim
      var worst = 0.0
      for (a <- model.components.indices; b <- model.components.indices) {
        var dot = 0.0
        var t = 0
        while (t < d) { dot += model.components(a)(t) * model.components(b)(t); t += 1 }
        val target = if (a == b) 1.0 else 0.0
        worst = math.max(worst, math.abs(dot - target))
      }
      worst < 1e-9
    }
    val sortedOk = model.eigenvalues.sliding(2).forall(p => p.length < 2 || p(0) >= p(1) - 1e-12)
    val proj = Pca.project(e, "embedding", model, "pca")
    // variance per projected coordinate (projection is centered, so the
    // second moment is the variance) vs the eigenvalues
    val sums = proj
      .select(graft.functions.FunctionDefs.callAgg("vec_sum",
        zip_with(col("pca"), col("pca"), (a, b) => a * b)).as("ss"),
        count(lit(1)).as("n"))
      .head()
    val n = sums.getLong(1)
    val vars = sums.getSeq[Double](0).map(_ / n)
    val eigOk = vars.zip(model.eigenvalues).forall { case (v, l) =>
      math.abs(v - l) <= 1e-6 * math.max(1.0, math.abs(l))
    }
    // invariant, not calibration: the top-k of dim eigenvalues always
    // explain >= k/dim of the trace (equality iff perfectly isotropic),
    // so this holds at EVERY scale factor — the 10x corpus's per-copy
    // rotations flatten the spectrum and broke the old hand-tuned 0.15
    // floor, while a bottom-k / unsorted eigensolver bug still fails it
    val varExplainedOk =
      model.varianceExplained >= model.k.toDouble / model.dim - 1e-9
    val s2 = s
    import s2.implicits._
    Seq((n, model.dim, model.k,
        if (orthoOk) 1 else 0, if (sortedOk) 1 else 0,
        if (eigOk) 1 else 0, if (varExplainedOk) 1 else 0))
      .toDF("n_vecs", "dim", "k", "ortho_ok", "eig_sorted_ok",
        "proj_var_eq_eig_ok", "var_floor_ok")
  }

  /** PCA in its provably-lossless regime: k = dim is a full-rank
    * orthogonal transform, so every projected vector must preserve its
    * centered norm — ‖proj(v)‖² = ‖v − μ‖² per row. The oracle
    * recomputes the centered norms from scratch (its own per-dimension
    * means), so this value-checks the fitted mean AND the projection
    * arithmetic row by row; the gap flag certifies orthogonality of the
    * full eigenbasis numerically.
    */
  def annPcaFull(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Pca
    val e = Tables.embeddings(s, dir)
    val d = e.select(size(col("embedding"))).head().getInt(0)
    val model = Pca.fit(e, "embedding", k = d)
    val meanLit = typedlit(model.mean.toSeq)
    Pca.project(e, "embedding", model, "pca")
      .select(
        col("vec_id"),
        aggregate(zip_with(col("pca"), col("pca"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x).as("proj_sq"),
        aggregate(zip_with(col("embedding").cast("array<double>"), meanLit,
            (v, m) => (v - m) * (v - m)),
          lit(0.0), (acc, x) => acc + x).as("orig_sq"))
      .select(
        col("vec_id"),
        round(col("orig_sq"), 4).as("norm_sq_r"),
        when(abs(col("proj_sq") - col("orig_sq")) < 1e-6, 1).otherwise(0).as("gap_ok"))
      .orderBy("vec_id")
  }

  /** PCA-reduced ANN at its operating point (dim 64 → 32, shortlist in
    * the projected space, exact re-rank of the 10×k pool) — rows-only
    * like ann_pq; its quality contract is ann_pca_recall.
    */
  def annPca(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.pcaTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, kDim = 32, refine = 10)
      .select(col("qid"), col("id"), col("rank"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rank")
  }

  /** Recall@10 contract for PCA-reduced search (dim 64 → 32 via the
    * one-pass moment fit, shortlist by projected cosine, exact re-rank
    * of the 10×k pool) against the full-space brute ranking — the
    * standard reduce-then-index recipe, certified at its operating point
    * like ann_lsh_recall/ann_ivf_recall/ann_pq_recall. Measured
    * recall@10: 98% at sf0.001, 100% at sf0.01, 78% at sf0.1
    * (deterministic — PCA has no random state); floor 40%.
    */
  def annPcaRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 5)
    val brute = Ann.bruteForce(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      .select("qid", "id")
    val approx = Ann.pcaTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, kDim = 32, refine = 10)
      .select("qid", "id")
    annRecallOf(brute, approx, floorPct = 40)
  }

  /** As-of join (events → latest order at a per-event cutoff date):
    * the union-window formulation ([[graft.ops.AsofJoin]]) vs DuckDB's
    * native ASOF JOIN as the oracle. The matched value is the order
    * DATE, which is tie-deterministic even if several orders share it.
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      col("event_id"), col("user_id"),
      expr("timestamp'1995-01-01 00:00:00' + make_interval(0, 0, 0, cast(event_id % 2400 as int), 0, 0, 0)")
        .as("cutoff"))
    val o = Tables.orders(s, dir).select(col("o_custkey").as("user_id"), col("o_orderdate"))
    graft.ops.AsofJoin.asof(e, "cutoff", o, "o_orderdate", Seq("user_id"))
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("cutoff")).as("cutoff_s"),
        unix_timestamp(col("o_orderdate")).as("asof_order_s"))
      .orderBy("event_id")
  }

  /** The hot-key-safe as-of variant ([[graft.ops.AsofJoin.asofBucketed]],
    * 90-day epochs) on the same inputs as [[qAsofJoin]] — semantics are
    * identical by construction, so it shares the DuckDB ASOF oracle and
    * must hash-match it exactly.
    */
  def qAsofBucketed(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      col("event_id"), col("user_id"),
      expr("timestamp'1995-01-01 00:00:00' + make_interval(0, 0, 0, cast(event_id % 2400 as int), 0, 0, 0)")
        .as("cutoff"))
    val o = Tables.orders(s, dir).select(col("o_custkey").as("user_id"), col("o_orderdate"))
    graft.ops.AsofJoin.asofBucketed(e, "cutoff", o, "o_orderdate", Seq("user_id"),
        bucketSeconds = 90L * 86400L)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("cutoff")).as("cutoff_s"),
        unix_timestamp(col("o_orderdate")).as("asof_order_s"))
      .orderBy("event_id")
  }

  def txTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      Text.wsTokenCount(col("text")).as("ws_tokens"),
      Text.bpeishTokenCount(col("text")).as("bpe_tokens"))
      .orderBy("doc_id")

  def txQuality(s: SparkSession, dir: String): DataFrame =
    Text.quality(Tables.documents(s, dir), "doc_id", "text").orderBy("doc_id")

  def txRepetition(s: SparkSession, dir: String): DataFrame =
    Text.repetition(Tables.documents(s, dir), "doc_id", "text").orderBy("doc_id")

  /** Deterministic stratified downsampling: per-language keep rates via
    * an exact integer multiplicative hash the oracle replays verbatim.
    */
  def txSample(s: SparkSession, dir: String): DataFrame =
    Text.sampleByStrata(Tables.documents(s, dir), "lang", "doc_id",
        rates = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 1.0), defaultRate = 0.1)
      .select("doc_id", "lang").orderBy("doc_id")

  /** Exact-10-per-source deterministic reservoir — the selection (hash
    * order statistics through the bounded heap) replayed by the oracle
    * as a row_number window over the same integer draw.
    */
  def txReservoir(s: SparkSession, dir: String): DataFrame =
    Text.reservoirByStrata(Tables.documents(s, dir), "source", "doc_id", k = 10)
      .orderBy("stratum", "doc_id")

  /** Overlapping 16-token windows every 12 tokens; the oracle rebuilds
    * every window with list_slice over the same token split.
    */
  def txChunks(s: SparkSession, dir: String): DataFrame =
    Text.chunk(Tables.documents(s, dir), "doc_id", "text", window = 16, stride = 12)
      .orderBy("doc_id", "chunk_idx")

  /** Pinned non-Latin sentences, one per (script, language) the router
    * must land — shared verbatim by the [[txLangid]] plant and the
    * oracle generator (written without apostrophes so they embed as SQL
    * literals). Spec-pinned labels; the oracle certifies the replay.
    */
  private[graft] val langPlants: Seq[(String, String)] = Seq(
    "ru" -> "он сказал что это было не так и в итоге как всегда",
    "uk" -> "він сказав що це не так і ми йдемо до міста за годину але вже",
    "bg" -> "той каза че това не е така и да се види за него на място",
    "el" -> "αυτό είναι ένα απλό κείμενο στα ελληνικά για τον έλεγχο",
    "ar" -> "هذا النص في اللغة العربية من أجل الاختبار على كل حال مع ذلك",
    "fa" -> "این متن به زبان فارسی است که برای آزمایش با آن نوشته شده در اینجا",
    "hi" -> "यह पाठ हिंदी में है और परीक्षण के लिए यहाँ पर लिखा गया है",
    "zh" -> "这是一个用于测试的简单中文文本没有假名",
    "ja" -> "これは日本語のテストですカタカナも含みます",
    "ko" -> "이것은 한국어 테스트 문장입니다",
    "th" -> "นี่คือข้อความภาษาไทยสำหรับการทดสอบ",
    "he" -> "זהו טקסט בעברית לצורך בדיקה פשוטה",
    "bn" -> "এটি পরীক্ষার জন্য একটি সহজ বাংলা লেখা",
    "ta" -> "இது சோதனைக்கான எளிய தமிழ் உரை")

  /** Script-aware language ID ([[graft.ops.Text.langIdScript]] — r13
    * verdict task 2): the corpus is Latin, so docs with doc_id ≡ 1..14
    * (mod 17) are REPLACED by the pinned non-Latin sentences (Cyrillic
    * ×3, Greek, Arabic-script ×2, Devanagari, Han, kana, Hangul, Thai,
    * Hebrew, Bengali, Tamil) and
    * the router + within-script stopword argmax runs over the mix. The
    * oracle replays the plant, the scriptRanges-wide codepoint histogram (RE2
    * `\x{..}` classes generated from the SAME scriptRanges constant),
    * the first-max-wins script routing and every profile argmax.
    */
  /** The multilingual plant shared by [[txLangid]] and
    * [[txLangCurate]]: docs ≡ 1..14 (mod 17) replaced by the pinned
    * non-Latin sentences — (doc_id, __t).
    */
  private def plantedLangDocs(s: SparkSession, dir: String): DataFrame = {
    val plant = langPlants.zipWithIndex.foldLeft(
      when(lit(false), lit(null).cast("string"))) {
      case (acc, ((_, sent), i)) =>
        acc.when(pmod(col("doc_id"), lit(17)) === (i + 1), lit(sent))
    }.otherwise(col("text"))
    Tables.documents(s, dir).select(col("doc_id"), plant.as("__t"))
  }

  def txLangid(s: SparkSession, dir: String): DataFrame =
    plantedLangDocs(s, dir)
      // bind the histogram ONCE — the routing CASE's conditions are
      // excluded from codegen subexpression elimination, so the inline
      // form re-runs the codepoint pass per branch probed (4.1 → 1.1 s
      // at sf0.1)
      .withColumn("__sc",
        graft.functions.FunctionDefs.call("script_counts", col("__t")))
      .select(col("doc_id"),
        Text.langIdScriptRouted(col("__t"), col("__sc")).as("lang_guess"))
      .orderBy("doc_id")

  /** The language-keyed curation recipe (the FineWeb-2/CCNet shape the
    * script-aware langid exists for), composed end to end over the
    * multilingual plant: script-routed language ID
    * ([[graft.ops.Text.langIdScript]]) → per-LANGUAGE adaptive quality
    * threshold ([[graft.ops.Text.adaptiveQualityFilter]], 25th
    * percentile within each language — a single global cutoff would
    * zero out every non-Latin stratum, whose alnum-ratio scores sit
    * far below English) → α=0.5 temperature mixture over languages
    * ([[graft.ops.Text.sampleByMixture]], budget 300 — upsampling
    * low-resource languages relative to their share). Output: the kept
    * (doc_id, lang, score, cutoff). The oracle replays routing, the
    * per-language histogram quantiles, and the exact-integer mixture
    * draw in SQL.
    */
  def txLangCurate(s: SparkSession, dir: String): DataFrame = {
    // label + score in ONE scan, materialized narrow (doc_id, lang,
    // score): the threshold's two passes and the mixture's
    // rate-then-join recomputation all read these rows — re-running
    // the langid + regex-score scan per pass measured 14.6 s vs 2.5 s
    // at sf0.1 (the production shape: labeling is a persisted column)
    val scored = plantedLangDocs(s, dir)
      .withColumn("__sc",
        graft.functions.FunctionDefs.call("script_counts", col("__t")))
      .select(col("doc_id"),
        Text.langIdScriptRouted(col("__t"), col("__sc")).as("lang"),
        Text.qualityScore(col("__t")).as("score"))
      .transform(Pins.once(_))
    val kept = Text.adaptiveQualityFilterScored(scored, "doc_id", "lang",
      q = 0.25)
    Text.sampleByMixture(kept, "lang", "doc_id", alpha = 0.5, budget = 300.0)
      .select(col("doc_id"), col("lang"), col("score"), col("cutoff"))
      .orderBy("doc_id")
  }

  def txFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      // single alias: CollapseProject keeps one evaluation of the
      // non-cheap fingerprint expression for both derived columns
      .select(col("doc_id"), Text.fingerprints(col("text")).as("fps"))
      .select(col("doc_id"), size(col("fps")).as("n_fp"), array_min(col("fps")).as("min_fp"))
      .orderBy("doc_id")

  /** Winnowing's defining property (Schleimer et al.): similar documents
    * share fingerprints. For every exact near-dup pair (shingle jaccard
    * ≥ 0.8, ground truth from [[ddJaccardJoin]]) the fingerprint sets
    * must overlap ≥ 20% — deterministic on this corpus (seeded hashes),
    * with the pair count oracle-recomputed from the shingle SQL.
    */
  def txFingerprintStable(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.jaccardJoin(docs, "doc_id", "text", k = 3, threshold = 0.8)
      .select("id_a", "id_b")
    val fp = docs.select(col("doc_id"), Text.fingerprints(col("text")).as("fp"))
    pairs
      .join(fp.select(col("doc_id").as("id_a"), col("fp").as("fa")), "id_a")
      .join(fp.select(col("doc_id").as("id_b"), col("fp").as("fb")), "id_b")
      .withColumn("ov", size(array_intersect(col("fa"), col("fb"))) * lit(1.0) /
        size(array_union(col("fa"), col("fb"))))
      .agg(count(lit(1)).as("n_neardup_pairs"),
        coalesce(sum(when(col("ov") >= 0.2, 0).otherwise(1)), lit(0L)).as("n_low_overlap"))
  }

  /** Resize through the batched partition shape: output length contract
    * len' = min(len, target) is oracle-recomputable.
    */
  def mmResize(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.withBlob(Tables.documents(s, dir), "doc_id", "text")
    Multimodal.resize(s, media, "doc_id", targetBytes = 64)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.length(col("media")).cast("int").as("resized_len"),
        col("orig_bytes"))
      .orderBy("doc_id")
  }

  /** Training-sequence packing: language-sharded contiguous token-budget
    * chunks; the oracle replays the identical window cumsum in SQL.
    */
  def txPack(s: SparkSession, dir: String): DataFrame =
    Text.packByTokenBudget(Tables.documents(s, dir), "lang", "doc_id", "text", budget = 512)
      .orderBy("lang", "doc_id")

  /** REAL image decode (javax.imageio, JDK classpath): deterministic
    * grayscale PNGs synthesized per doc_id, decoded back through the
    * batched mapPartitions shape; width, height and the decoded pixel sum
    * are pure arithmetic in doc_id, which the oracle replays — certifying
    * an actual lossless codec roundtrip, not a stub.
    */
  // The three REAL-codec entries sort behind a barrier (Pins.sorted):
  // here the sampler's second pass would be the full javax
  // encode+decode roundtrip — measured 2 near-equal codec stages per
  // run at 10× (mm_video 5.1 s run each). The decoded rows are a few
  // ints per doc, so one block write is far cheaper than a second
  // decode.
  def mmDecode(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    Multimodal.decodeImages(s, Multimodal.synthesizePngs(s, docs, "doc_id"), "doc_id")
      .transform(Pins.sorted("doc_id"))
  }

  def mmAudio(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    Multimodal.decodeAudio(s, Multimodal.synthesizeWavs(s, docs, "doc_id"), "doc_id")
      .transform(Pins.sorted("doc_id"))
  }

  /** Real multi-frame decode: every 2nd frame of per-doc animated GIFs;
    * GIF is lossless indexed, so the oracle replays frame indices,
    * dimensions and per-frame pixel sums arithmetically.
    */
  def mmVideo(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    Multimodal.decodeFrames(s, Multimodal.synthesizeGifs(s, docs, "doc_id"), "doc_id", stride = 2)
      .transform(Pins.sorted("doc_id", "frame_idx"))
  }

  /** The §2.11 blob/metadata schema contract as a driver entry: the
    * typed media column (binary) plus every metadata-struct field,
    * each replayed by the oracle — mime literal, char-count (the
    * struct's n_bytes field counts characters), channel = id mod 3 —
    * and the blob itself certified byte-for-byte via octet_length +
    * md5 over the UTF-8 bytes.
    */
  def mmSchema(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.withBlob(Tables.documents(s, dir), "doc_id", "text")
    media.select(
      col("doc_id"),
      col("media_meta.mime").as("mime"),
      col("media_meta.n_bytes").as("n_chars"),
      col("media_meta.channel").as("channel"),
      length(col("media")).as("blob_bytes"),
      md5(col("media")).as("blob_md5"))
      .orderBy("doc_id")
  }

  def mmFeatures(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.withBlob(Tables.documents(s, dir), "doc_id", "text")
    Multimodal.features(s, media, "doc_id")
      .select(col("doc_id"), col("n_bytes"), size(col("features")).as("feat_dim"))
      .orderBy("doc_id")
  }

  /** "Keep the N best documents per language by quality" through the
    * payload-carrying top-N aggregate (graft.functions.TopNRowsAgg) —
    * map-side partial top-N instead of a full window shuffle; ordering
    * (score desc, id asc) matches the oracle's row_number exactly.
    */
  def txTopdocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val q = Text.quality(docs, "doc_id", "text").select("doc_id", "quality")
    val withLang = docs.select(col("doc_id"), col("lang")).join(q, "doc_id")
    withLang.groupBy("lang")
      .agg(graft.functions.FunctionDefs.callAgg("topn_rows",
        col("doc_id"), struct(col("quality")), col("quality"), lit(3)).as("__top"))
      .select(col("lang"), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col("lang"), (col("__r") + 1).cast("int").as("rank"),
        col("__t.id").as("doc_id"), col("__t.payload.quality").as("quality"))
      .orderBy("lang", "rank")
  }

  /** Benchmark decontamination: every 97th document plays the held-out
    * eval set, the rest are the training corpus; a train doc is
    * contaminated iff it shares any 8-word n-gram with any eval doc.
    * Output covers EVERY train doc (hit count + 0/1 flag) so the oracle
    * certifies the negatives too; the oracle rebuilds both gram sets
    * with list_slice in SQL.
    */
  def txDecontam(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val evalSet = docs.filter(col("doc_id") % 97 === 0)
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    Text.decontaminate(train, evalSet, "doc_id", "text", n = 8)
      .orderBy("doc_id")
  }

  /** Unicode NFC canonicalization ahead of dedup keys: a deterministic
    * DECOMPOSED suffix (1 + doc_id % 3 copies of e + COMBINING ACUTE) is
    * appended to every doc, normalized with the native `nfc_normalize`,
    * and the composed length drop + the md5 of the normalized text are
    * value-compared against DuckDB's nfc_normalize (both implement
    * UAX #15, so the bytes must agree exactly).
    */
  def txNfc(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // the suffix literal is DECOMPOSED on purpose: e (U+0065) followed by
    // COMBINING ACUTE (U+0301); NFC composes each pair to one code point
    val dirty = expr("concat(text, ' ', repeat('é', cast(doc_id % 3 + 1 as int)))")
    val nfc = graft.functions.FunctionDefs.call("nfc_normalize", dirty)
    docs.select(col("doc_id"),
        length(dirty).cast("int").as("len_raw"),
        length(nfc).cast("int").as("len_nfc"),
        md5(nfc).as("nfc_md5"),
        when(length(nfc) =!= length(dirty), 1).otherwise(0).as("changed"))
      .orderBy("doc_id")
  }

  /** Unicode NFKC compatibility normalization — the pre-tokenizer form
    * (GPT/BERT-class pipelines run NFKC, not NFC): a compatibility
    * character cycling by doc_id (fullwidth Ａ, ligature ﬁ,
    * superscript ², №, ligature ﬀ, circled ①) is appended to every
    * ASCII doc and normalized with the native `nfkc_normalize`. DuckDB
    * has no NFKC, so the oracle rebuilds the EXPECTED normalized text
    * from the same formula with the UAX #15 mappings spelled literally
    * (A, fi, 2, No, ff, 1) — valid because the corpus text is ASCII
    * (NFKC-invariant) and the suffix is separated by a space, so no
    * cross-boundary composition can occur; md5 equality then certifies
    * the JDK's NFKC against the hand-derived forms on every row.
    */
  def txNfkc(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
    val dirty = concat(col("text"), lit(" "),
      expr("elt(cast(doc_id % 6 + 1 as int), 'Ａ', 'ﬁ', '²', '№', 'ﬀ', '①')"))
    val nfkc = graft.functions.FunctionDefs.call("nfkc_normalize", dirty)
    docs.select(col("doc_id"),
        length(dirty).cast("int").as("len_raw"),
        length(nfkc).cast("int").as("len_nfkc"),
        md5(nfkc).as("nfkc_md5"),
        when(nfkc =!= dirty, 1).otherwise(0).as("changed"))
      .orderBy("doc_id")
  }

  // mojibake corruption tables — the Spark query plants the DIRTY forms
  // and repairs them; the oracle plants the SAME dirty forms and the
  // hand-derived CLEAN forms (the txNfkc pattern). Singles cycle through
  // the latin-1 range (é ü ñ) AND the cp1252 0x80-0x9F punctuation range
  // (“ ’ —, whose misdecodes contain € ™ œ — the reverse-map rows);
  // doubles are the twice-misdecoded "ÃƒÂ©" class that needs fixpoint
  // iteration.
  private val mojiSingleDirty = Seq(
    "Ã©", "Ã¼", "Ã±",             // Ã© Ã¼ Ã±
    "â€œ", "â€™", "â€”") // â€œ â€™ â€”
  private val mojiSingleClean = Seq(
    "é", "ü", "ñ", "“", "’", "—") // é ü ñ “ ’ —
  private val mojiDoubleDirty = Seq(
    "ÃƒÂ©", "ÃƒÂ¼",
    "ÃƒÂ±")                                 // ÃƒÂ© ÃƒÂ¼ ÃƒÂ±
  private val mojiDoubleClean = Seq("é", "ü", "ñ")

  /** Mojibake (encoding-corruption) repair over a deterministically
    * corrupted corpus — the ftfy step real crawl curation runs before
    * normalization or language ID: each ASCII doc gets TWO corrupted
    * tokens appended — a SINGLE cp1252 misdecode (cycling by doc_id
    * over the latin-1 letters AND the cp1252 punctuation range, so the
    * 0x80-0x9F reverse map is exercised) and a DOUBLE misdecode (the
    * "ÃƒÂ©" class, healed only by fixpoint iteration) — then the native
    * `fix_mojibake` repairs both in one scan-side pass. DuckDB has no
    * encoding repair, so the oracle rebuilds the EXPECTED healed text
    * from the same planted formula with the original characters spelled
    * literally (valid because ASCII corpus text is repair-invariant and
    * the space boundary makes each corruption an independent token);
    * md5 equality certifies the repair byte-for-byte on every row.
    */
  def txMojibake(s: SparkSession, dir: String): DataFrame = {
    def sqlElt(n: Int, vals: Seq[String]): String =
      s"elt(cast(doc_id % $n + 1 as int), " +
        vals.map(v => s"'$v'").mkString(", ") + ")"
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
    val dirty = concat(col("text"), lit(" "),
      expr(sqlElt(6, mojiSingleDirty)), lit(" "),
      expr(sqlElt(3, mojiDoubleDirty)))
    val fixed = Text.fixMojibake(dirty)
    docs.select(col("doc_id"),
        length(dirty).cast("int").as("len_raw"),
        length(fixed).cast("int").as("len_fixed"),
        md5(fixed.cast("binary")).as("fixed_md5"),
        when(fixed =!= dirty, 1).otherwise(0).as("changed"))
      .orderBy("doc_id")
  }

  /** Compression-ratio quality signal (Gopher/RefinedWeb): one zlib
    * deflate pass per document on the scan side; low ratios flag
    * template/boilerplate spam, ratios near 1 flag binary junk. zlib
    * output bytes are not SQL-expressible, so this entry is rows-only;
    * `tx_compress_check` is its hash-green value-check twin.
    */
  def txCompress(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        octet_length(col("text")).cast("int").as("bytes_raw"),
        octet_length(graft.functions.st.deflate(col("text").cast("binary")))
          .cast("int").as("bytes_deflate"),
        round(Text.compressionRatio(col("text")), 4).as("ratio"))
      .orderBy("doc_id")

  /** Value-check twin for `tx_compress`: per-row invariants of a
    * CORRECT deflate that SQL can certify without a zlib — (1)
    * roundtrip: inflate(deflate(text)) restores the exact bytes (md5
    * compared inside the engine, emitted as a flag); (2) bound: a
    * 2000-char prefix never inflates past raw + 64 bytes (zlib's
    * stored-block worst case + wrapper); (3) self-similarity: deflating
    * the prefix CONCATENATED WITH ITSELF costs < 64 bytes more than the
    * prefix alone (the second copy is one back-reference — this is the
    * property that makes the ratio a REPETITION signal); (4) a
    * 100×-repeated phrase compresses below 200 bytes. Every flag must
    * be the literal 1 the oracle emits.
    */
  def txCompressCheck(s: SparkSession, dir: String): DataFrame = {
    val d = graft.functions.st.deflate _
    val x = substring(col("text"), 1, 2000)
    val xb = x.cast("binary")
    val dx = octet_length(d(xb))
    val dxx = octet_length(d(concat(x, x).cast("binary")))
    val rep = octet_length(d(lit("the quick brown fox " * 100).cast("binary")))
    Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        when(md5(graft.functions.st.inflate(d(col("text").cast("binary"))))
          === md5(col("text").cast("binary")), 1).otherwise(0).as("rt_ok"),
        when(dx <= octet_length(xb) + 64, 1).otherwise(0).as("bound_ok"),
        when(dxx < dx + 64, 1).otherwise(0).as("double_ok"),
        when(rep < 200, 1).otherwise(0).as("rep_ok"))
      .orderBy("doc_id")
  }

  /** Readability battery (Flesch Reading Ease + Flesch-Kincaid grade)
    * with the dictionary-free deterministic inputs both engines can
    * count: whitespace-run words, `.!?` sentence enders (floor 1),
    * vowel-group syllables with a one-per-word floor. The oracle
    * recounts every input with regex/replace spellings and re-derives
    * the formulas with e0-forced DOUBLE literals — identical integer
    * counts, identical float op order, 4-dp round.
    */
  def txReadability(s: SparkSession, dir: String): DataFrame =
    Text.readability(
        Tables.documents(s, dir).filter(col("text").isNotNull), "doc_id", "text")
      .orderBy("doc_id")

  /** Fuzzy source-label canonicalization: delete one deterministic char
    * from every doc's source tag, then re-match it against the distinct
    * source dictionary by minimum edit distance (lexicographic
    * tie-break). Every distance, match and tie-break is replayed by the
    * oracle with DuckDB's levenshtein — identical integers by
    * construction.
    */
  def txFuzzy(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val dirty = docs.select(col("doc_id"),
      expr("""concat(substring(source, 1, cast(doc_id % length(source) as int)),
             |       substring(source, cast(doc_id % length(source) as int) + 2))""".stripMargin)
        .as("dirty_source"))
    Text.fuzzyMatch(dirty, "doc_id", "dirty_source", docs.select("source"), "source")
      .orderBy("doc_id")
  }

  /** Semantic benchmark decontamination — the embedding-space twin of
    * `tx_decontam`'s n-gram check: every train vector's max cosine to
    * the (broadcast) eval set, the eval item that attains it (lower-id
    * tie-break), and a contamination flag at 0.95. The flag compares on
    * the UNROUNDED cosine in both engines; rounding is display-only.
    */
  def txDecontamVec(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val evalSet = e.filter(col("vec_id") % 97 === 0)
    val train = e.filter(col("vec_id") % 97 =!= 0)
    Ann.maxSimToSet(train, "vec_id", "embedding", evalSet, "vec_id", "embedding")
      .select(col("id").as("vec_id"), col("ref_id").as("eval_id"),
        round(col("cos"), 6).as("max_cos"),
        when(col("cos") >= 0.95, 1).otherwise(0).as("contaminated"))
      .orderBy("vec_id")
  }

  /** Duplicate-span (substring-level) dedup signal: distinct 12-word
    * n-grams occurring in ≥2 documents, reported per document. The
    * oracle replays the posting-list document-frequency computation in
    * SQL over the same slicing.
    */
  def ddSpans(s: SparkSession, dir: String): DataFrame =
    Text.duplicateSpans(Tables.documents(s, dir), "doc_id", "text", n = 12)
      .orderBy("doc_id")

  /** PII scrubbing over a deterministically PII-injected corpus: each
    * doc gets an email, a dotted-quad IP and a phone number derived from
    * doc_id appended (both engines build the identical string), then the
    * three shared-regex-subset patterns count and redact them. The
    * oracle re-runs the same regexes (RE2 side) and md5s the same
    * scrubbed text.
    */
  def txPii(s: SparkSession, dir: String): DataFrame = {
    val injected = concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com from 10."), (col("doc_id") % 256).cast("string"),
      lit("."), ((col("doc_id") * 7) % 256).cast("string"),
      lit(".4 call +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    Tables.documents(s, dir)
      .select(col("doc_id"), injected.as("__t"))
      .select(
        col("doc_id"),
        Text.piiCount(col("__t"), Text.emailPattern).cast("int").as("n_email"),
        Text.piiCount(col("__t"), Text.ipv4Pattern).cast("int").as("n_ip"),
        Text.piiCount(col("__t"), Text.phonePattern).cast("int").as("n_phone"),
        md5(Text.scrubPii(col("__t")).cast("binary")).as("scrub_md5"))
      .orderBy("doc_id")
  }

  /** Bloom-gated incremental dedup: docs with doc_id % 3 ≠ 0 play the
    * historical corpus, docs with doc_id % 2 = 0 the incoming batch
    * (overlapping, plus exact-dup content across ids). The Bloom gate
    * only routes work — the emitted flags are exact — so the oracle is
    * the plain membership SQL.
    */
  def ddIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.incrementalNovel(
        history = docs.filter(col("doc_id") % 3 =!= 0),
        incoming = docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  /** C4-style normalized (fuzzy-exact) dedup. The raw corpus has no
    * case/punct variants by construction, so the query injects one per
    * doc_id%10==0 doc (uppercased + trailing " !!", shifted id) — the
    * normalized grouping must collapse every variant back onto its
    * source while leaving the rest of the corpus exactly as dd_exact
    * groups it. The oracle replays injection + normalization in SQL.
    */
  def ddNormalized(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    val variants = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(upper(col("text")), lit(" !!")).as("text"))
    Dedup.normalizedGroups(d.unionByName(variants), "doc_id", "text")
      .select("survivor_id", "n_copies").orderBy("survivor_id")
  }

  /** Hard-negative mining: top-10 most-similar different-label corpus
    * vectors per query; the oracle is the brute top-k SQL with the label
    * inequality in the join condition.
    */
  def annHardneg(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.hardNegatives(e, "vec_id", "embedding", "label",
        e.filter(col("vec_id") < 5), "vec_id", "embedding", "label", k = 10)
      .select(col("qid"), col("id"), col("rank"),
        round(col("cos"), 6).as("cos"), col("neg_label"))
      .orderBy("qid", "rank")
  }

  /** MMR diversified top-5 from a relevance pool of 20 at λ=0.7; the
    * oracle unrolls all five greedy selection rounds in SQL on the same
    * unrounded doubles with the same id tie-breaks.
    */
  def annMmr(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.mmrTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, lambda = 0.7, pool = 20)
      .orderBy("qid", "rank")
  }

  /** CCNet-style LM filter: per-doc cross-entropy under an interpolated
    * bigram model fit on the lang='en' slice; the oracle refits both
    * count tables and replays every per-bigram probability in SQL.
    */
  def txPerplexity(s: SparkSession, dir: String): DataFrame =
    Text.lmCrossEntropy(Tables.documents(s, dir), "doc_id", "text",
        isTarget = col("lang") === "en")
      .orderBy("doc_id")

  /** Leakage-safe split at 10% validation: whole near-dup components go
    * to one side; the oracle recomputes the closure (dd_components'
    * recursive CTE) and replays the exact-integer hash decision. The
    * EXACT pair join is passed explicitly because that is what the
    * oracle replays — the operator's default pair path is the banded
    * MinHash-LSH generator (scale-safe; TextSpec pins that the two
    * paths agree on this corpus shape).
    */
  def txSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Text.leakSafeSplit(docs, "doc_id", "text",
        k = 3, threshold = 0.8, valFrac = 0.1, salt = 0L,
        pairs = Some(graft.ops.Dedup.jaccardJoin(docs, "doc_id", "text",
          k = 3, threshold = 0.8)))
      .orderBy("doc_id")
  }

  /** Top-5 TF-IDF keywords per doc; the oracle recomputes tf/df/N and
    * replays the rounded score with the first-occurrence tie-break.
    */
  def txKeywords(s: SparkSession, dir: String): DataFrame =
    Text.tfidfKeywords(Tables.documents(s, dir), "doc_id", "text", k = 5)
      .orderBy("doc_id", "rank")

  /** Pile-style temperature mixture sampling (α=0.5, budget 300 docs):
    * per-source rates derive from the data, the keep decision is the
    * exact-integer hash; the oracle recomputes rates and replays every
    * decision.
    */
  def txMixture(s: SparkSession, dir: String): DataFrame =
    Text.sampleByMixture(Tables.documents(s, dir).select("doc_id", "source"),
        "source", "doc_id", alpha = 0.5, budget = 300.0, salt = 7L)
      .select("doc_id", "source").orderBy("doc_id")

  /** kNN label audit: majority label over the 10 nearest neighbors for
    * the first 50 vectors; the oracle replays ranking, vote counts and
    * the (votes desc, label asc) argmax in SQL.
    */
  def annKnnLabel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.knnClassify(e, "vec_id", "embedding", "label",
        e.filter(col("vec_id") < 50), "vec_id", "embedding", "label", k = 10)
      .orderBy("qid")
  }

  /** Prototype-cosine label audit: every vector scored against its own
    * label's centroid; the oracle refits all ten centroids per-dimension
    * in SQL and recomputes every cosine.
    */
  def annCentroid(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Ann.prototypeCos(e, "vec_id", "embedding", "label")
      .select(col("id").as("vec_id"), col("label"),
        round(col("proto_cos"), 6).as("proto_cos"))
      .orderBy("vec_id")
  }

  /** DSIR-style importance weights with lang='en' as the target
    * distribution; the oracle refits both smoothed unigram models and
    * replays the per-doc log-likelihood-ratio sum in SQL.
    */
  def txDsir(s: SparkSession, dir: String): DataFrame =
    Text.dsirWeights(Tables.documents(s, dir), "doc_id", "text",
        isTarget = col("lang") === "en")
      .orderBy("doc_id")

  def mmFrames(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.withBlob(Tables.documents(s, dir), "doc_id", "text")
    Multimodal.sampleFrames(s, media, "doc_id", frameBytes = 32, stride = 4)
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).cast("int").as("frame_len"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Per-source adaptive quality threshold (FineWeb/CCNet pattern): keep
    * docs at or above their source's 25th-percentile quality. The oracle
    * replays the histogram quantile (discrete, integer semantics) and
    * the keep decision on the 4-dp contract scores.
    */
  def txThreshold(s: SparkSession, dir: String): DataFrame =
    Text.adaptiveQualityFilter(Tables.documents(s, dir), "doc_id", "text",
        "source", q = 0.25)
      .orderBy("doc_id")

  /** Efraimidis–Spirakis weighted sample without replacement, weight =
    * n_chars (longer docs proportionally likelier): the oracle replays
    * the exact-integer hash draw and the ln(u)/w key ordering in SQL.
    */
  def txWsample(s: SparkSession, dir: String): DataFrame =
    Text.weightedSample(Tables.documents(s, dir), "doc_id", col("n_chars"),
        k = 100)
      .select(col("doc_id"), col("source"), col("n_chars"),
        round(col("__es_key"), 6).as("es_key"))
      .orderBy("doc_id")

  /** Top-100 token types with cumulative corpus coverage (Zipf head —
    * the tokenizer-design diagnostic); exact integer counts, coverage
    * rounded 6dp.
    */
  def txVocab(s: SparkSession, dir: String): DataFrame =
    Text.vocabCoverage(Tables.documents(s, dir), "text", topN = 100)
      .withColumn("n_occurrences", col("n_occurrences").cast("long"))
      .orderBy("rank")

  /** Cross-source phrase-level duplication matrix over distinct 3-word
    * shingles (exact-content overlap is vacuous on this corpus — all
    * texts are distinct); the oracle recomputes every pairwise shingle
    * intersection from the same shingle SQL as dd_jaccard_join.
    */
  def ddOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val keyed = docs.select(explode(Dedup.shingles(col("text"), 3)).as("shingle"),
      col("source"))
    Dedup.sourceOverlap(keyed, "shingle", "source")
      .orderBy("source_a", "source_b")
  }

  /** Sketch-path twin of [[ddOverlap]]: pairwise source Jaccard
    * ESTIMATED from k-minimum-values sketches — one k-bounded aggregate
    * over the shingle scan instead of the exact matrix's distinct-pair
    * shuffle + self-join. The estimator is deterministic (md5-prefix
    * hash order), so the oracle replays sketch construction, the merged
    * bottom-k and the estimate bit-for-bit in SQL.
    */
  def ddOverlapKmv(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val keyed = docs.select(explode(Dedup.shingles(col("text"), 3)).as("shingle"),
      col("source"))
    Dedup.kmvOverlap(keyed, "shingle", "source", 256)
      .orderBy("source_a", "source_b")
  }

  /** URL canonicalization + host extraction over deterministically
    * derived messy URLs (scheme/host case, www, default and explicit
    * ports, trailing slash, tracking params, unsorted params, fragments
    * — the corpus has no URL column, so both sides derive the SAME raw
    * string from doc_id/source and then canonicalize independently).
    */
  /** The deterministic per-doc raw URL both URL entries derive (the
    * corpus has no URL column — the SAME arithmetic is replayed on the
    * oracle side).
    */
  private def syntheticUrl: org.apache.spark.sql.Column = concat(
    when(col("doc_id") % 2 === 0, lit("HTTP://")).otherwise(lit("https://")),
    when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
    col("source"), lit(".Example.COM"),
    when(col("doc_id") % 4 === 0, lit(":80"))
      .when(col("doc_id") % 4 === 1, lit(":443"))
      .when(col("doc_id") % 4 === 2, lit(":8080"))
      .otherwise(lit("")),
    lit("/Docs/"), col("doc_id").cast("string"),
    when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
    when(col("doc_id") % 3 === 0, lit("?utm_source=feed&b=2&ref=x&a=1"))
      .when(col("doc_id") % 3 === 1, lit("?b=2&a=1"))
      .otherwise(lit("")),
    when(col("doc_id") % 2 === 1,
      concat(lit("#Sec"), (col("doc_id") % 7).cast("string")))
      .otherwise(lit("")))

  def txUrl(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val raw = syntheticUrl
    docs.select(col("doc_id"),
        Text.canonicalUrl(raw).as("url_canon"),
        Text.urlHost(raw).as("host"))
      .orderBy("doc_id")
  }

  /** Domain-blocklist filter ([[graft.ops.Text.blocklistFlag]]): the
    * per-doc URLs flagged against a three-domain blocklist — exact
    * host and dot-anchored subdomain semantics (blocking
    * `src1.example.com` must NOT block `src12.example.com`), ports
    * ignored for the match. Host derivation and every decision replay
    * in SQL. The operator runs the broadcast suffix-join shape (one
    * hash probe per label depth, no list literal in the plan) — the
    * oracle is shape-blind, so the r9→r10 rewrite left it untouched.
    */
  def txBlocklist(s: SparkSession, dir: String): DataFrame =
    graft.ops.Text.blocklistFlag(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        syntheticUrl,
        Seq("src3.example.com", "src7.example.com", "src1.example.com"))
      .select(col("doc_id"), col("host"), col("blocked"))
      // the sort barrier saves the sampler's second pass over the URL
      // derivation and suffix probes; explain() shows the suffix-probe
      // BroadcastHashJoins PlanShapeSpec pins under the barrier
      .transform(Pins.sorted("doc_id"))

  /** Trained quality classifier ([[graft.ops.Probe.logit2]]): logistic
    * regression fit by 8 exact-statistics Newton (IRLS) iterations on a
    * deterministic weak label (a length + id-noise rule, NOT separable
    * — the healthy logistic regime), then scan-side scoring of the
    * whole corpus. The ENTIRE training trajectory — each iteration's
    * nine gradient/Hessian aggregates and the closed-form adjugate
    * Newton update — is replayed UNROLLED in the oracle, so the final
    * per-doc scores certify every iteration of the distributed fit.
    */
  def txQualityLr(s: SparkSession, dir: String): DataFrame = {
    val feat = Tables.documents(s, dir).select(col("doc_id"),
      when(col("n_chars") + lit(17) * (col("doc_id") % 13) > 400, lit(1.0))
        .otherwise(lit(0.0)).as("y"),
      (col("n_chars") / lit(100.0)).as("x1"),
      (size(split(col("text"), " ")) / lit(10.0)).as("x2"))
    val b = graft.ops.Probe.logit2(feat, col("y"), col("x1"), col("x2"),
      iters = 8)
    val score = graft.ops.Probe.logitScore(b.toIndexedSeq, col("x1"), col("x2"))
    feat.select(col("doc_id"), col("y").cast("int").as("label"),
      (round(score, 6) + lit(0.0)).as("score"),
      when(score > 0.5, lit(1)).otherwise(lit(0)).as("pred"))
      .orderBy("doc_id")
  }

  // One ingest [[fixture]]: JSONL shards with a planted malformed-line
  // minority, written once, read by every verify/bench iteration — the
  // write-once-read-many ingest shape.
  /** JSONL ingest with corrupt-record quarantine
    * ([[graft.sources.Jsonl]]): the documents corpus is serialized to
    * newline-delimited JSON (canonical `to_json`), every doc_id ≡ 3
    * (mod 7) line is truncated mid-record (an unterminated object — the
    * torn-shard failure a 100 TB crawl ingest must survive), and read
    * back through the explicit-schema PERMISSIVE reader. Parsed rows
    * surface their fields with ok=1; quarantined lines surface as
    * all-null + ok=0 — never an exception. The oracle replays both
    * populations from the base table.
    */
  def srcJsonl(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = fixture("src_jsonl", dir) { f =>
      val p = f + "/docs"
      val lines = Tables.documents(s, dir)
        .select(col("doc_id"),
          to_json(struct(col("doc_id"), col("lang"), col("source"),
            col("n_chars"))).as("value"))
      lines.select(
          when(col("doc_id") % 7 === 3,
            expr("substring(value, 1, length(value) - 2)"))
            .otherwise(col("value")).as("value"))
        .write.mode("overwrite").text(p)
      p
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    graft.sources.Jsonl.read(s, path, schema)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        when(col("_corrupt").isNull, 1).otherwise(0).as("ok"))
      .orderBy("ok", "doc_id")
  }

  /** CSV ingest with corrupt-record quarantine ([[graft.sources.Csv]]):
    * the documents metadata is serialized as headerless CSV, every
    * doc_id ≡ 3 (mod 7) row gets its numeric n_chars replaced by a
    * non-numeric token (the vendor-export typo class), and read back
    * through the explicit-schema PERMISSIVE reader. CSV's quarantine
    * semantics differ from JSONL's and the oracle pins them: a bad
    * FIELD nulls only itself — the row's other parsed fields survive
    * alongside the raw line in the corrupt column (ok=0), so triage can
    * key on what did parse; fully-parsed rows carry ok=1.
    */
  def srcCsv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = fixture("src_csv", dir) { f =>
      val p = f + "/docs"
      Tables.documents(s, dir)
        .select(concat_ws(",", col("doc_id"), col("lang"), col("source"),
          when(col("doc_id") % 7 === 3, lit("n/a"))
            .otherwise(col("n_chars").cast("string"))).as("value"))
        .write.mode("overwrite").text(p)
      p
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    graft.sources.Csv.read(s, path, schema)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        when(col("_corrupt").isNull, 1).otherwise(0).as("ok"))
      .orderBy("ok", "doc_id")
  }

  /** ORC interchange: the documents corpus written once to ORC (Spark's
    * second native columnar format — the Hive-ecosystem interchange the
    * reference's deployment world speaks) and read back; the content
    * certificate is the same row-count / distinct-content /
    * order-independent md5-prefix checksum triple src_compact proves,
    * recomputed by the oracle from the parquet base table — so the ORC
    * write+read path is verified value-for-value, not just rows. A
    * doc_id-range branch is read through a filter so the summary also
    * witnesses ORC predicate pushdown output (the plan-shape spec pins
    * the PushedFilters).
    */
  def srcOrc(s: SparkSession, dir: String): DataFrame = {
    val path = fixture("src_orc", dir) { f =>
      val p = f + "/docs"
      Tables.documents(s, dir).write.mode("overwrite").orc(p)
      p
    }
    val orc = s.read.orc(path)
    def summary(df: DataFrame, label: String): DataFrame =
      df.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(md5(col("text"))).as("n_distinct_text"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
            .as("content_sum"))
        .select(lit(label).as("stage"), col("n_rows"), col("n_distinct_text"),
          col("content_sum"))
    summary(orc, "all")
      .unionByName(summary(orc.filter(col("doc_id") < 100), "doc_id_lt_100"))
      .orderBy("stage")
  }

  /** Generic multi-column Z-order layout
    * ([[graft.sources.ZOrderLayout]], the OPTIMIZE-ZORDER primitive):
    * lineitem re-laid z-ordered by (l_orderkey, l_partkey), then a
    * rectangle predicate on BOTH axes read back through the layout.
    * The layout must neither lose nor invent rows — the oracle replays
    * the same rectangle as a plain filter on the base table (the same
    * certificate sp_z2_layout gives the spatial curve); the pruning
    * value (every file covers a tight span on EVERY axis, unlike a
    * linear sort) is pinned by ZOrderLayoutSpec on footer statistics.
    */
  def srcZorder(s: SparkSession, dir: String): DataFrame = {
    val path = fixture("src_zorder", dir) { f =>
      val p = f + "/li"
      graft.sources.ZOrderLayout.writeZOrdered(
        Tables.lineitem(s, dir).select("l_orderkey", "l_partkey", "l_quantity"),
        p, Seq("l_orderkey", "l_partkey"), parts = 16)
      p
    }
    graft.sources.ZOrderLayout.read(s, path)
      .filter(col("l_orderkey") >= 1000L && col("l_orderkey") <= 5000L &&
        col("l_partkey") >= 200L && col("l_partkey") <= 900L)
      .select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity").cast("long").as("qty"))
      .orderBy("l_orderkey", "l_partkey", "qty")
  }

  /** Manifest-based file skipping: documents range-clustered on doc_id
    * into 16 files with a per-file min/max manifest; the band query
    * plans its file list from the manifest alone (driver-scale metadata)
    * and re-applies the exact filter. The oracle is the plain band
    * filter — pruning must be invisible to results; the spec pins that
    * files were actually skipped.
    */
  def srcSkip(s: SparkSession, dir: String): DataFrame = {
    val path = fixture("src_skip", dir) { f =>
      val p = f + "/docs"
      graft.sources.StatsManifest.write(
        Tables.documents(s, dir).select("doc_id", "source", "lang", "text"),
        p, "doc_id", nFiles = 16)
      p
    }
    graft.sources.StatsManifest.prunedRead(s, path, "doc_id", lit(100L), lit(299L))
      .select(col("doc_id"), col("source"), col("lang"),
        length(col("text")).cast("long").as("text_len"))
      .orderBy("doc_id")
  }

  /** The consecutive-doc host graph all three gr_* queries share (doc
    * i's source links to doc i+1's source when they differ — a
    * deterministic citation-graph stand-in; the corpus has no link
    * column). ONE definition on purpose: gr_scorecard certifies the
    * composition of gr_pagerank and gr_lpa over the SAME graph, so the
    * edge construction must not be able to drift between them.
    */
  private def hostEdges(docs: DataFrame): DataFrame =
    docs.as("a").join(docs.as("b"),
        col("b.doc_id") === col("a.doc_id") + 1 &&
          col("a.source") =!= col("b.source"))
      .select(col("a.source").as("src"), col("b.source").as("dst"))

  /** Source-authority PageRank over [[hostEdges]]. 3 rounds, d=0.85,
    * multigraph semantics; every round replayed in unrolled SQL CTEs.
    */
  def grPagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "source")
    Graph.pageRank(hostEdges(docs), "src", "dst", iters = 3)
      .select(col("node"), round(col("rank"), 6).as("rank"))
      .orderBy("node")
  }

  /** Label-propagation communities over the same consecutive-doc host
    * graph `gr_pagerank` ranks: three deterministic synchronous rounds
    * (majority neighbor label, count ties to the SMALLEST label), every
    * round replayed in SQL by the oracle as a count + row_number
    * argmax — integer votes and a total tie order make the replay
    * exact. Community detection is the curation lens PageRank lacks:
    * authority says WHO to trust, communities say which hosts move
    * together (link farms, mirror rings).
    */
  def grLpa(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "source")
    Graph.labelPropagation(hostEdges(docs), "src", "dst", iters = 3)
      .orderBy("node")
  }

  /** The host scorecard — the per-source curation battery composed
    * into ONE frame, the shape a real crawl triage job materializes
    * (Common Crawl publishes exactly this as host-level stats): volume
    * (doc count), content quality (mean 4-dp contract quality score),
    * AUTHORITY (3-round PageRank over the consecutive-doc host graph)
    * and COMMUNITY (3-round deterministic LPA over the same graph).
    * All three subsystems are independently oracle-verified
    * (tx_quality / gr_pagerank / gr_lpa); this entry certifies their
    * COMPOSITION — the oracle rebuilds every stage in one SQL
    * statement, so a join-key slip or a rank/label drift between the
    * pieces fails the hash. Hosts absent from the link graph (never
    * adjacent to a different source) carry NULL authority/community by
    * contract — the left joins are part of the replayed semantics.
    * Scale shape: the quality aggregate is one corpus scan collapsing
    * to |hosts| rows; the graph stages are |E|-bound (gr_lpa notes);
    * the final joins are |hosts|-sized — broadcast by AQE.
    */
  def grScorecard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val q = Text.quality(docs, "doc_id", "text").select(col("doc_id"), col("quality"))
    val host = docs.select(col("doc_id"), col("source")).join(q, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("quality")), 6).as("avg_quality"))
    // the consecutive-doc self-join materializes ONCE (lazy barrier):
    // its three consumers — the emptiness gate plus both graph legs —
    // would otherwise each replay the corpus-sized join (the legs'
    // own edge barriers see a checkpoint here and skip their copy)
    val edges = Pins.once(hostEdges(docs.select("doc_id", "source")), eager = false)
    // an edgeless graph (single-source corpus) is a legal input to the
    // SCORECARD even though pageRank alone refuses it: the oracle — and
    // the NULL-authority contract above — still emit one row per host,
    // so the graph legs degrade to empty frames instead of throwing
    val hasEdges = !edges.isEmpty
    val pr =
      if (hasEdges) Graph.pageRank(edges, "src", "dst", iters = 3)
        .select(col("node").as("__prn"), round(col("rank"), 6).as("authority"))
      else docs.sparkSession.emptyDataFrame
        .select(lit("").as("__prn"), lit(0.0).as("authority")).limit(0)
    val lpa =
      if (hasEdges) Graph.labelPropagation(edges, "src", "dst", iters = 3)
        .select(col("node").as("__lpn"), col("label").as("community"))
      else docs.sparkSession.emptyDataFrame
        .select(lit("").as("__lpn"), lit("").as("community")).limit(0)
    host.join(pr, col("source") === col("__prn"), "left").drop("__prn")
      .join(lpa, col("source") === col("__lpn"), "left").drop("__lpn")
      .orderBy("source")
  }

  /** Schema evolution: a v1 batch (doc_id, source) and a v2 batch that
    * added `lang` land in the same directory; the union-schema read
    * backfills nulls for v1 rows. The oracle replays the column
    * availability rule (lang exists only for the v2 half) from the base
    * table.
    */
  def srcEvolve(s: SparkSession, dir: String): DataFrame = {
    val path = fixture("src_evolve", dir) { f =>
      val p = f + "/docs"
      val docs = Tables.documents(s, dir)
      graft.sources.EvolvingLayout.append(
        docs.filter(col("doc_id") % 2 === 0).select("doc_id", "source"), p)
      graft.sources.EvolvingLayout.append(
        docs.filter(col("doc_id") % 2 === 1).select("doc_id", "source", "lang"), p)
      p
    }
    graft.sources.EvolvingLayout.read(s, path)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), count(col("lang")).as("n_lang"))
      .orderBy("source")
  }

  /** MERGE/CDC-apply: a deterministic changeset (deletes for doc_id%10=0,
    * a stale+final update pair for %10=1 — exercising latest-wins — and
    * inserts keyed above the base range for %10=2) applied to documents;
    * the oracle replays the whole merge relationally. Content is pinned
    * by md5 prefix so updated text must actually land.
    */
  def srcMerge(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
    val m = col("doc_id") % 10
    val dels = base.filter(m === 0).select(lit("D").as("op"), col("doc_id"),
      col("source"), col("text"), lit(1L).as("seq"))
    val stale = base.filter(m === 1).select(lit("U").as("op"), col("doc_id"),
      col("source"), concat(lit("stale "), col("doc_id")).as("text"), lit(1L).as("seq"))
    val upd = base.filter(m === 1).select(lit("U").as("op"), col("doc_id"),
      col("source"), concat(lit("updated "), col("doc_id")).as("text"), lit(2L).as("seq"))
    val ins = base.filter(m === 2).select(lit("I").as("op"),
      (col("doc_id") + 10000000L).as("doc_id"), col("source"),
      concat(lit("inserted "), col("doc_id") + 10000000L).as("text"), lit(1L).as("seq"))
    val changes = dels.unionByName(stale).unionByName(upd).unionByName(ins)
    graft.ops.MergeInto.applyChanges(base, changes, "doc_id", "op", "seq")
      .select(col("doc_id"), col("source"),
        substring(md5(col("text")), 1, 8).as("content"))
      .orderBy("doc_id")
  }

  /** Small-file compaction ([[graft.sources.Compaction]]): documents
    * scattered round-robin across 64 tiny parquet files, compacted into
    * ceil(n/200) doc_id-range-clustered files. The output certifies the
    * op the only way that matters — row count, distinct-content count
    * and an order-independent content checksum (md5-prefix integer sum)
    * are IDENTICAL before and after, while the file count drops to the
    * computed target; the oracle recomputes all three from the base
    * table and the file counts from the fixed layout arithmetic.
    */
  def srcCompact(s: SparkSession, dir: String): DataFrame = {
    val (smallP, bigP) = fixture("src_compact", dir) { f =>
      val small = f + "/small"; val big = f + "/compacted"
      Tables.documents(s, dir).repartition(64).write.mode("overwrite").parquet(small)
      graft.sources.Compaction.compactByRows(s, small, big, "doc_id", targetRows = 200L)
      (small, big)
    }
    def summary(path: String, label: String): DataFrame =
      Parquet.read(s, path).agg(
          count(lit(1)).as("n_rows"),
          countDistinct(md5(col("text"))).as("n_distinct_text"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
            .as("content_sum"))
        .select(lit(label).as("stage"), col("n_rows"), col("n_distinct_text"),
          col("content_sum"),
          lit(graft.sources.Compaction.partFileCount(path).toLong).as("n_files"))
    summary(smallP, "before").unionByName(summary(bigP, "after"))
      .orderBy("stage")
  }

  /** Byte-distribution entropy/repetition signals over documents —
    * every column replayed in SQL: the oracle recomputes per-character
    * frequencies (characters ≡ bytes on this ASCII corpus; non-ASCII
    * behavior is pinned natively in the spec), sums the entropy terms
    * in the same ascending order and converts to bits with the same
    * final /ln(2).
    */
  def txEntropy(s: SparkSession, dir: String): DataFrame =
    Text.entropySignals(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  // Persisted MinHash band-posting index, a query [[fixture]] built
  // over the deterministic "history" three-quarters of the corpus —
  // the write-once-probe-daily lifecycle shape. The fixture is the
  // index's opened handle: params + both manifests read once and
  // served from memory on every probe (the MinhashIndex.Maintainer
  // scaladoc; SCALE_r11.md:42 measures the floor it removes). The index
  // FILES are still read per probe; only file-count-sized metadata is
  // held.
  private def minhashIndex(s: SparkSession, dir: String): graft.sources.MinhashIndex.Maintainer =
    fixture("dd_lsh_index", dir) { f =>
      val p = f + "/ix"
      graft.sources.MinhashIndex.build(
        Tables.documents(s, dir).filter(col("doc_id") % 4 =!= 0),
        "doc_id", "text", p, k = 3, numPerm = 64, bands = 16, seed = 42,
        nPostingFiles = 64, nDocFiles = 16)
      new graft.sources.MinhashIndex.Maintainer(s, p)
    }

  /** Incremental near-dup discovery over the persisted band-posting
    * index ([[graft.sources.MinhashIndex]]): the day's batch (doc_id ≡
    * 0 mod 4) probed against the indexed history (the other 3/4) —
    * candidate generation reads postings, never re-bands history text.
    * Pair set is banding-dependent (xxhash64 signatures) → rows-only;
    * [[ddLshIndexCheck]] is the hash-green twin proving the probe
    * equals the full re-band AND misses none of the exact ground truth.
    */
  def ddLshIndex(s: SparkSession, dir: String): DataFrame =
    minhashIndex(s, dir)
      .probe(Tables.documents(s, dir).filter(col("doc_id") % 4 === 0),
        "doc_id", "text", threshold = 0.8, maxBucket = -1)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")

  /** The maintenance-invisibility contract for [[ddLshIndex]]:
    * n_exact_new = exact batch-touching pairs ([[Dedup.jaccardJoin]]
    * ground truth — SQL-replayable); n_missed = exact pairs the index
    * probe failed to surface (0 — same 16×4 S-curve argument as
    * dd_minhash_recall, deterministic seeded hashes); n_diff_reband =
    * symmetric difference vs the full [[Dedup.minhashLsh]] re-band over
    * history ∪ batch restricted to batch-touching pairs (0 — the index
    * IS the re-band, factored into build+probe).
    */
  def ddLshIndexCheck(s: SparkSession, dir: String): DataFrame =
    lshIndexContract(s, dir, minhashIndex(s, dir))

  // the three-way contract both LSH index gates share; only the handle
  // (built, or built-then-appended) differs
  private def lshIndexContract(s: SparkSession, dir: String,
      index: graft.sources.MinhashIndex.Maintainer): DataFrame = {
    val docs = Tables.documents(s, dir)
    val touches = col("id_a") % 4 === 0 || col("id_b") % 4 === 0
    val probed = index
      .probe(docs.filter(col("doc_id") % 4 === 0), "doc_id", "text",
        threshold = 0.8, maxBucket = -1)
      .select("id_a", "id_b").transform(Pins.once(_))
    val reband = Dedup.minhashLsh(docs, "doc_id", "text", k = 3,
        numPerm = 64, bands = 16, threshold = 0.8, maxBucket = -1)
      .filter(touches).select("id_a", "id_b")
    val exact = Dedup.jaccardJoin(docs, "doc_id", "text", k = 3, threshold = 0.8)
      .filter(touches).select("id_a", "id_b")
    exact.agg(count(lit(1)).as("n_exact_new"))
      .crossJoin(exact.join(probed, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("n_missed")))
      .crossJoin(probed.join(reband, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("__extra"))
        .crossJoin(reband.join(probed, Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1)).as("__gone")))
        .select((col("__extra") + col("__gone")).as("n_diff_reband")))
  }

  // the APPEND half of the lifecycle: built over half the corpus, with
  // the %4==1 generation probed-then-appended — so the gate's probe of
  // %4==0 must see appended docs as history
  private def minhashIndexInc(s: SparkSession, dir: String): graft.sources.MinhashIndex.Maintainer =
    fixture("dd_lsh_index_inc", dir) { f =>
      val p = f + "/ix"
      val docs = Tables.documents(s, dir)
      graft.sources.MinhashIndex.build(
        docs.filter(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3),
        "doc_id", "text", p, k = 3, numPerm = 64, bands = 16, seed = 42,
        nPostingFiles = 64, nDocFiles = 16)
      val m = new graft.sources.MinhashIndex.Maintainer(s, p)
      val day1 = docs.filter(col("doc_id") % 4 === 1)
      m.probe(day1, "doc_id", "text",
        threshold = 0.8, maxBucket = -1).count() // the daily cycle's read half
      m.append(day1, "doc_id", "text")
      m
    }

  /** [[ddLshIndexCheck]]'s contract over an APPENDED index
    * ([[graft.sources.MinhashIndex.Maintainer.append]]): history = half the
    * corpus at build + a probed-then-appended second generation; the
    * gate probes the third. Same three-way check — exact ground truth
    * (SQL-replayed), zero missed, zero diff vs the full re-band — so a
    * manifest-extension bug (a day-1 doc invisible to day-2 probes)
    * fails the hash.
    */
  def ddLshIndexInc(s: SparkSession, dir: String): DataFrame =
    lshIndexContract(s, dir, minhashIndexInc(s, dir))

  // Persisted Hamming chunk-posting index over a PLANTED, SQL-replayable
  // 64-bit hash (families of 4 consecutive doc_ids share high bits and
  // differ in 2 variant bits — pairs at dist 0/1/2; the multiplicative
  // spread keeps hashes non-monotonic in doc_id so manifest pruning is
  // actually exercised). Pigeonhole banding is COMPLETE for
  // maxDist < pieces, so unlike the minhash index the whole pair set is
  // deterministic and the DuckDB oracle replays it EXACTLY.
  private val plantedHash = expr(
    "((doc_id div 4) * 2654435761 % 1099511627776) * 4 + " +
      "(CASE WHEN doc_id % 4 = 3 THEN CAST(0 AS BIGINT) ELSE doc_id % 4 END)")

  private def hammingIndex(s: SparkSession, dir: String): graft.sources.HammingIndex.Maintainer =
    fixture("dd_hamming_index", dir) { f =>
      val p = f + "/ix"
      graft.sources.HammingIndex.build(
        Tables.documents(s, dir).filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), plantedHash.as("sig")),
        "doc_id", "sig", p, pieces = 8, nPostingFiles = 32, nDocFiles = 16)
      new graft.sources.HammingIndex.Maintainer(s, p)
    }

  /** Incremental Hamming near-dup discovery over the persisted
    * chunk-posting index ([[graft.sources.HammingIndex]]): the day's
    * batch (doc_id ≡ 0 mod 7) probed against the indexed history (the
    * other 6/7) — candidate generation reads postings, never re-bands
    * history signatures. The full (id_a, id_b, dist) pair set is
    * hash-green vs DuckDB (pigeonhole completeness at maxDist <
    * pieces makes the unlimited regime EXACT, not an S-curve).
    */
  def ddHammingIndex(s: SparkSession, dir: String): DataFrame =
    hammingBatchProbe(s, dir, hammingIndex(s, dir))

  // the %7==0 batch probe both Hamming index entries hash-check; only
  // the handle (built, or built-then-appended) differs
  private def hammingBatchProbe(s: SparkSession, dir: String,
      index: graft.sources.HammingIndex.Maintainer): DataFrame =
    index
      .probe(Tables.documents(s, dir).filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), plantedHash.as("sig")),
        "doc_id", "sig", maxDist = 2, maxBucket = -1)
      .orderBy("id_a", "id_b")

  // the APPEND half: built over doc_id % 7 ∈ {2..6}, the %7==1
  // generation probed-then-appended, the gate probes %7==0 — so a
  // manifest-extension bug (a day-1 doc invisible to day-2 probes)
  // fails the hash against the same exact SQL replay
  private def hammingIndexInc(s: SparkSession, dir: String): graft.sources.HammingIndex.Maintainer =
    fixture("dd_hamming_index_inc", dir) { f =>
      val p = f + "/ix"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), plantedHash.as("sig"))
      graft.sources.HammingIndex.build(
        docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 7 =!= 1),
        "doc_id", "sig", p, pieces = 8, nPostingFiles = 32, nDocFiles = 16)
      val m = new graft.sources.HammingIndex.Maintainer(s, p)
      val day1 = docs.filter(col("doc_id") % 7 === 1)
      m.probe(day1, "doc_id", "sig",
        maxDist = 2, maxBucket = -1).count() // the daily cycle's read half
      m.append(day1, "doc_id", "sig")
      m
    }

  /** [[ddHammingIndex]]'s contract through an APPENDED generation —
    * the same exact full-pair-set replay, so the probe must see the
    * appended day-1 docs as history.
    */
  def ddHammingIndexInc(s: SparkSession, dir: String): DataFrame =
    hammingBatchProbe(s, dir, hammingIndexInc(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_lsh_index" -> ddLshIndex _,
    "dd_lsh_index_check" -> ddLshIndexCheck _,
    "dd_lsh_index_inc" -> ddLshIndexInc _,
    "dd_hamming_index" -> ddHammingIndex _,
    "dd_hamming_index_inc" -> ddHammingIndexInc _,
    "dd_exact" -> ddExact _,
    "dd_jaccard" -> ddJaccard _,
    "dd_jaccard_join" -> ddJaccardJoin _,
    "dd_components" -> ddComponents _,
    "dd_components_inc" -> ddComponentsInc _,
    "dd_canonical" -> ddCanonical _,
    "dd_minhash" -> ddMinhash _,
    "dd_minhash_recall" -> ddMinhashRecall _,
    "dd_simhash" -> ddSimhash _,
    "dd_simhash_recall" -> ddSimhashRecall _,
    "dd_embed" -> ddEmbed _,
    "dd_embed_blocked" -> ddEmbedBlocked _,
    "dd_semantic" -> ddSemantic _,
    "dd_semantic_full" -> ddSemanticFull _,
    "dd_semantic_refine" -> ddSemanticRefine _,
    "dd_embed_recall" -> ddEmbedRecall _,
    "ann_brute" -> annBrute _,
    "ann_hybrid" -> annHybrid _,
    "ann_lsh" -> annLsh _,
    "ann_ivf" -> annIvf _,
    "ann_ivf_layout" -> annIvfLayout _,
    "ann_ivf_layout_full" -> annIvfLayoutFull _,
    "ann_pq_layout" -> annPqLayout _,
    "ann_pq_layout_full" -> annPqLayoutFull _,
    "ann_lsh_exhaustive" -> annLshExhaustive _,
    "ann_ivf_full" -> annIvfFull _,
    "ann_lsh_recall" -> annLshRecall _,
    "ann_pq" -> annPq _,
    "ann_pq_recall" -> annPqRecall _,
    "ann_ivfpq" -> annIvfPq _,
    "ann_ivfpq_full" -> annIvfPqFull _,
    "ann_ivfpq_recall" -> annIvfPqRecall _,
    "ann_ivf_recall" -> annIvfRecall _,
    "ann_int8" -> annInt8 _,
    "ann_pca" -> annPca _,
    "ann_pca_cov" -> annPcaCov _,
    "ann_pca_flags" -> annPcaFlags _,
    "ann_pca_full" -> annPcaFull _,
    "ann_pca_recall" -> annPcaRecall _,
    "q_asof_join" -> qAsofJoin _,
    "q_asof_bucketed" -> qAsofBucketed _,
    "tx_tokens" -> txTokens _,
    "tx_quality" -> txQuality _,
    "tx_repetition" -> txRepetition _,
    "tx_sample" -> txSample _,
    "tx_reservoir" -> txReservoir _,
    "tx_chunks" -> txChunks _,
    "tx_langid" -> txLangid _,
    "tx_fingerprint" -> txFingerprint _,
    "tx_fingerprint_stable" -> txFingerprintStable _,
    "tx_topdocs" -> txTopdocs _,
    "tx_curate" -> txCurate _,
    "tx_decontam" -> txDecontam _,
    "tx_decontam_vec" -> txDecontamVec _,
    "tx_nfc" -> txNfc _,
    "tx_nfkc" -> txNfkc _,
    "tx_mojibake" -> txMojibake _,
    "tx_compress" -> txCompress _,
    "tx_compress_check" -> txCompressCheck _,
    "tx_readability" -> txReadability _,
    "tx_fuzzy" -> txFuzzy _,
    "tx_dsir" -> txDsir _,
    "tx_perplexity" -> txPerplexity _,
    "tx_mixture" -> txMixture _,
    "tx_keywords" -> txKeywords _,
    "tx_split" -> txSplit _,
    "ann_knn_label" -> annKnnLabel _,
    "ann_centroid" -> annCentroid _,
    "dd_incremental" -> ddIncremental _,
    "dd_normalized" -> ddNormalized _,
    "ann_hardneg" -> annHardneg _,
    "ann_mmr" -> annMmr _,
    "tx_pii" -> txPii _,
    "dd_spans" -> ddSpans _,
    "tx_bpe" -> txBpe _,
    "tx_bpe_apply" -> txBpeApply _,
    "tx_bm25" -> txBm25 _,
    "tx_pack" -> txPack _,
    "mm_schema" -> mmSchema _,
    "mm_features" -> mmFeatures _,
    "mm_resize" -> mmResize _,
    "mm_frames" -> mmFrames _,
    "mm_decode" -> mmDecode _,
    "mm_audio" -> mmAudio _,
    "mm_video" -> mmVideo _,
    "tx_threshold" -> txThreshold _,
    "tx_wsample" -> txWsample _,
    "tx_vocab" -> txVocab _,
    "dd_overlap" -> ddOverlap _,
    "dd_overlap_kmv" -> ddOverlapKmv _,
    "tx_url" -> txUrl _,
    "src_jsonl" -> srcJsonl _,
    "src_csv" -> srcCsv _,
    "src_orc" -> srcOrc _,
    "src_zorder" -> srcZorder _,
    "src_skip" -> srcSkip _,
    "src_merge" -> srcMerge _,
    "src_evolve" -> srcEvolve _,
    "gr_pagerank" -> grPagerank _,
    "gr_lpa" -> grLpa _,
    "gr_scorecard" -> grScorecard _,
    "src_compact" -> srcCompact _,
    "tx_entropy" -> txEntropy _,
    "tx_probe" -> txProbe _,
    "src_bloomskip" -> srcBloomskip _,
    "src_timetravel" -> srcTimetravel _,
    "ann_probe" -> annProbe _,
    "ann_probe_xty" -> annProbeXty _,
    "dd_editdist" -> ddEditdist _,
    "src_invidx" -> srcInvidx _,
    "src_timetravel_cdf" -> srcTimetravelCdf _,
    "mm_phash" -> mmPhash _,
    "tx_pmi" -> txPmi _,
    "dd_span_coverage" -> ddSpanCoverage _,
    "dd_span_scrub" -> ddSpanScrub _,
    "dd_span_scrub_long" -> ddSpanScrubLong _,
    "dd_line_dedup" -> ddLineDedup _,
    "dd_line_dedup_inc" -> ddLineDedupInc _,
    "dd_line_index" -> ddLineIndex _,
    "dd_line_index_inc" -> ddLineIndexInc _,
    "tx_html" -> txHtml _,
    "tx_boilerplate" -> txBoilerplate _,
    "tx_gopher" -> txGopher _,
    "tx_badwords" -> txBadwords _,
    "tx_web_pipeline" -> txWebPipeline _,
    "tx_web_curate" -> txWebCurate _,
    "src_warc" -> srcWarc _,
    "tx_warc_curate" -> txWarcCurate _,
    "tx_robots" -> txRobots _,
    "tx_lang_curate" -> txLangCurate _,
    "tx_shard" -> txShard _,
    "mm_audio_dedup" -> mmAudioDedup _,
    "q_joinest" -> qJoinest _,
    "tx_blocklist" -> txBlocklist _,
    "tx_quality_lr" -> txQualityLr _
  )

  /** KMV join-size estimation ([[graft.ops.JoinEstimate.estimate]]):
    * |orders ⋈ lineitem| on the order key, estimated from two
    * bottom-256 sketches, with the exact join size alongside. The
    * oracle rebuilds both sketches (distinct md5-13-prefix hashes,
    * bottom-k), replays the estimator arithmetic term for term
    * (hex→numeric k-th order statistic, (k−1)·2⁵²/h_k distinct
    * estimates, Jaccard-scaled union, multiplicity scaling) and the
    * exact count.
    */
  def qJoinest(s: SparkSession, dir: String): DataFrame =
    graft.ops.JoinEstimate.estimate(
      Tables.orders(s, dir), "o_orderkey",
      Tables.lineitem(s, dir), "l_orderkey", k = 256, exact = true)

  /** Audio near-dup via sample-sign fingerprint: REAL WAV decode →
    * 64-bit sign hash ([[graft.ops.Multimodal.audioPhash]]) → the SAME
    * generic banded Hamming join mm_phash uses
    * ([[graft.ops.Dedup.hammingPairs]], dist ≤ 2 over 8 bands) — the
    * "any 64-bit signature" claim certified on a second modality, end
    * to end in SQL (synthesis formula → decoded sample signs → bits →
    * the FULL pair set).
    */
  def mmAudioDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id")
    val media = graft.ops.Multimodal.synthesizeWavs(s, docs, "doc_id")
    val hashed = graft.ops.Multimodal.audioPhash(s, media, "doc_id")
    graft.ops.Dedup.hammingPairs(hashed, "doc_id", "ahash", maxDist = 2, maxBucket = -1)
      .orderBy("id_a", "id_b")
  }

  /** Duplicate-span coverage ([[graft.ops.Text.spanCoverage]]): the
    * per-source corpus duplication rate — fraction of word positions
    * inside a 5-gram shared by ≥2 distinct documents. Every stage
    * (gram positions, cross-doc DF, position-set union, the fraction)
    * replays in SQL.
    */
  def ddSpanCoverage(s: SparkSession, dir: String): DataFrame =
    graft.ops.Text.spanCoverage(Tables.documents(s, dir),
      "doc_id", "text", "source", n = 5)

  /** Duplicate-span REMOVAL ([[graft.ops.Text.scrubSpans]]): excise
    * every word position covered by an 8-gram shared by ≥2 distinct
    * documents and rewrite the text from the survivors — the Lee et
    * al. 2022 substring-dedup curation step, dd_span_coverage's
    * measurement turned into the rewrite. The string-keyed oracle
    * replays gram DF, covered-position union and the rebuilt text.
    */
  def ddSpanScrub(s: SparkSession, dir: String): DataFrame =
    graft.ops.Text.scrubSpans(Tables.documents(s, dir), "doc_id", "text", n = 8)
      .orderBy("doc_id")

  /** The 40-word passage ddSpanScrubLong plants (no apostrophes — it
    * embeds as a SQL literal); shared by the entry and the oracle.
    */
  private[graft] val longDupPassage: String = (1 to 40)
    .map(i => s"planted${i}dup").mkString(" ")

  /** Any-length substring dedup, chained form ([[graft.ops.Text.scrubSpans]]
    * with `minLen` — r13 verdict task 5): docs with doc_id ≡ 2 (mod 9)
    * get a 40-word passage APPENDED (the planted long duplicate), then
    * the scrub runs at TWO detection windows (n = 5 and n = 12), both
    * gated at minLen = 30 — overlapping dup-gram starts must CHAIN
    * across gram boundaries into the exact [start, start+40) interval
    * at either n, while natural cross-doc n-gram matches whose merged
    * chains span < 30 words are detected but kept. The oracle replays
    * the plant, the gram DF at each n, the covered-position islands
    * (gaps-and-islands ≡ the interval fold), the ≥ 30 island gate and
    * the rebuilt text for both runs.
    */
  def ddSpanScrubLong(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        when(col("doc_id") % 9 === 2,
          concat(col("text"), lit(" " + longDupPassage)))
          .otherwise(col("text")).as("text"))
    def run(n: Int) =
      graft.ops.Text.scrubSpans(planted, "doc_id", "text", n = n, minLen = 30)
        .withColumn("n", lit(n))
    run(5).unionByName(run(12)).orderBy("n", "doc_id")
  }

  /** Keep-first line-level corpus dedup ([[graft.ops.Text.dedupLines]])
    * — the CCNet paragraph-dedup step. The corpus text carries no
    * newlines, so the entry first REBUILDS each document as 7-word
    * lines (deterministic arithmetic both engines replay — the tx_url
    * /mm_* synthesis pattern), then drops every line occurrence after
    * the global (doc, position) first. The string-keyed oracle replays
    * line explode, keeper selection and the rebuilt text verbatim.
    */
  /** The line-operator fixture: docs rebuilt as 7-word chunk lines —
    * the split binds ONCE (HOF lambda bodies are not hoisted by
    * subexpression elimination, so slice(split(text), …) inside the
    * transform would re-split the full text per line).
    */
  private def linedDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("__ws"))
      .select(col("doc_id"), expr(
        """array_join(transform(sequence(1, size(__ws), 7),
          |  i -> array_join(slice(__ws, i, 7), ' ')), '\n')"""
          .stripMargin).as("text"))

  def ddLineDedup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Text.dedupLines(linedDocs(s, dir), "doc_id", "text", delim = "\n")
      .orderBy("doc_id")

  // Persisted line-dedup history index ([[graft.sources.LineIndex]]),
  // a query [[fixture]] built over the history two-thirds (doc_id %
  // 3 ≠ 0) of the lined corpus and held as its opened handle — the
  // probe-only entry reuses it (probe never mutates).
  private def lineIndex(s: SparkSession, dir: String): graft.sources.LineIndex.Maintainer =
    fixture("dd_line_index", dir) { f =>
      val p = f + "/ix"
      graft.sources.LineIndex.build(
        linedDocs(s, dir).filter(col("doc_id") % 3 =!= 0), "text", p)
      new graft.sources.LineIndex.Maintainer(s, p)
    }

  /** Disk-backed incremental line dedup: the day's batch (doc_id ≡ 0
    * mod 2) probes the PERSISTED history index. Output contract EQUALS
    * [[ddLineDedupInc]] (same splits) — the index is prepareLineHistory
    * factored onto disk — so the oracle is the identical string-keyed
    * replay, making the probe's pruning + semi-join path hash-checked.
    */
  def ddLineIndex(s: SparkSession, dir: String): DataFrame =
    lineIndex(s, dir)
      .probe(linedDocs(s, dir).filter(col("doc_id") % 2 === 0), "doc_id", "text")
      .orderBy("doc_id")

  /** Full persisted lifecycle probe→append→probe: batch B1 (doc_id ≡ 0
    * mod 6) probes and its KEPT lines fold back in
    * ([[graft.sources.LineIndex.Maintainer.append]]); batch B2 (≡ 3 mod 6) then
    * probes against history ∪ B1 — a line first seen in B1 drops from
    * B2 (H ∪ kept(B1) has the same line set as H ∪ B1: every removed
    * B1 line was either in H already or kept at its first B1
    * occurrence, which the oracle exploits). Fresh index per
    * invocation, in its own [[scratchDir]] — append mutates state, so
    * a [[fixture]] index would make re-runs non-idempotent; the
    * in-entry build is scaffolding, tagged in Bench.ScaffoldQueries.
    */
  def ddLineIndexInc(s: SparkSession, dir: String): DataFrame = {
    val lined = linedDocs(s, dir)
    val p = scratchDir("dd_line_index_inc") + "/ix"
    graft.sources.LineIndex.build(
      lined.filter(col("doc_id") % 3 =!= 0), "text", p)
    // one Maintainer for the probe→append→probe cycle (ITS documented
    // purpose): params/bloom/manifest read once, the append extends the
    // cached state instead of forcing the second probe to re-read it
    val m = new graft.sources.LineIndex.Maintainer(s, p)
    val r1 = Pins.once(m.probe(lined.filter(col("doc_id") % 6 === 0), "doc_id", "text"))
    m.append(r1, "text_dedup")
    val r2 = m.probe(lined.filter(col("doc_id") % 6 === 3), "doc_id", "text")
    r1.unionByName(r2).orderBy("doc_id")
  }

  /** Incremental line dedup against a persisted history
    * ([[graft.ops.Text.dedupLinesIncremental]]): the dd_incremental
    * id-modulo split (history = doc_id % 3 ≠ 0, batch = doc_id % 2 = 0,
    * overlapping — docs in BOTH sets must scrub to empty), lines
    * rebuilt as the dd_line_dedup 7-word chunks. Flags are exact; the
    * Bloom gate only routes the verification join. The string-keyed
    * oracle replays history membership, batch keep-first and the
    * rebuilt text.
    */
  def ddLineDedupInc(s: SparkSession, dir: String): DataFrame = {
    val lined = linedDocs(s, dir)
    graft.ops.Text.dedupLinesIncremental(
        history = lined.filter(col("doc_id") % 3 =!= 0),
        batch = lined.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", delim = "\n")
      .orderBy("doc_id")
  }

  /** HTML → plain-text extraction ([[graft.ops.Text.extractHtml]]).
    * The corpus carries no markup, so the entry first WRAPS each
    * document in a deterministic HTML page — title/script (with a
    * literal `<` in the code)/style head, headline, entity-escaped
    * body, comment, footer — then extracts; script/style/comment code
    * must vanish, entities must decode, body text must survive. Both
    * the synthesis and the regexp chain replay verbatim in DuckDB
    * (java.util.regex ∩ RE2).
    */
  def txHtml(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><script type=\"text/javascript\">var x = 1; if (x < 2) { x = 3; }</script>"),
        lit("<style type=\"text/css\">.main { color: #333; }</style></head>"),
        lit("<body class=\"doc\"><h1>Doc &#39;"), col("doc_id"),
        lit("&#39;</h1><!-- crawl note --><p>"),
        expr("replace(text, ' data ', ' &amp;data&lt;x&gt; ')"),
        lit("</p><br/><div id=\"footer\">&nbsp;&amp;quot;fin&quot;</div></body></html>"))
        .as("html"))
    docs.select(col("doc_id"),
      length(col("html")).cast("long").as("n_chars_html"),
      graft.ops.Text.extractHtml(col("html")).as("text_plain"))
      .withColumn("n_chars_plain", length(col("text_plain")).cast("long"))
      .select("doc_id", "n_chars_html", "n_chars_plain", "text_plain")
      .orderBy("doc_id")
  }

  /** Boilerplate-line filter ([[graft.ops.Text.dropBoilerplateLines]]):
    * the justext/trafilatura rule core after tx_html's extraction. The
    * entry rebuilds each doc as 7-word lines, PREPENDS a nav crumb
    * (< 5 words), an ALL-CAPS banner (≥ 5 words but shouting) and a
    * blank line, and APPENDS a copyright stub — the filter must drop
    * exactly the planted boilerplate plus any real chunk under 5 words,
    * keep the blank (structure), and rebuild the text. Counts come from
    * the kept ARRAY (a rejoin cannot distinguish zero lines from one
    * blank). Every rule replays in SQL.
    */
  /** Gopher document-shape rules over structured text: the dd_line_dedup
    * 7-word chunk lines with deterministic bullet/ellipsis injection
    * (line p gets a "• " prefix when p % 4 = 1 and a " ..." suffix when
    * p % 5 = 2 — replayable arithmetic, and it puts docs on BOTH sides
    * of the ellipsis-frac and min-words thresholds so `gopher_pass`
    * carries signal). minWords drops to 10 for the synthetic corpus's
    * 20-40-word docs; every other knob is the published default.
    */
  def txGopher(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("__ws"))
      .select(col("doc_id"), expr(
        """array_join(transform(sequence(1, size(__ws), 7),
          |  i -> concat(
          |    if(((i - 1) div 7) % 4 = 1, '• ', ''),
          |    array_join(slice(__ws, i, 7), ' '),
          |    if(((i - 1) div 7) % 5 = 2, ' ...', ''))), '\n')"""
          .stripMargin).as("text"))
    graft.ops.Text.gopherRules(docs, "doc_id", "text", minWords = 10)
      .withColumn("gopher_pass", col("gopher_pass").cast("int"))
      .orderBy("doc_id")
  }

  /** Content term-blocklist (C4 bad-words step) with a deterministic
    * demo list from the synthetic vocabulary — the list is the
    * operator's parameter, not data, so the oracle spells the same
    * three literals.
    */
  def txBadwords(s: SparkSession, dir: String): DataFrame =
    graft.ops.Text.termBlocklistFlag(
        Tables.documents(s, dir), "doc_id", "text",
        Seq("vector", "spark", "hash"))
      .withColumn("blocked", col("blocked").cast("int"))
      .orderBy("doc_id")

  def txBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val lined = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("__ws"))
      .select(col("doc_id"), concat(
        lit("Home | About | Contact\nSUBSCRIBE NOW AND CLICK HERE TODAY\n\n"),
        expr(
          """array_join(transform(sequence(1, size(__ws), 7),
            |  i -> array_join(slice(__ws, i, 7), ' ')), '\n')"""
            .stripMargin),
        lit("\n(c) 2026 Corp")).as("text"))
    lined
      .withColumn("__kept", filter(split(col("text"), "\n"),
        l => graft.ops.Text.keepLine(l)))
      .select(col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), "\n").as("text_clean"))
      .orderBy("doc_id")
  }

  /** The web-curation path COMPOSED end to end
    * ([[graft.ops.Text.extractHtmlBlocks]] →
    * [[graft.ops.Text.keepLine]]): each doc synthesizes a block-
    * structured page (script head, title, h1, one `<p>` per 7-word
    * chunk, a nav div, an entity-escaped copyright paragraph), the
    * block-preserving extraction turns it into LINES (one per block),
    * and the boilerplate rules drop the title/h1/nav/copyright lines
    * while the prose paragraphs survive. Both stages replay verbatim
    * in SQL — the WET extraction contract certified through the
    * composition, not just per operator.
    */
  def txWebPipeline(s: SparkSession, dir: String): DataFrame = {
    val paged = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("__ws"))
      .select(col("doc_id"), concat(
        lit("<html><head><script type=\"text/javascript\">var nav = 1 < 2;</script><title>D"),
        col("doc_id"),
        lit("</title></head><body><h1>Doc "), col("doc_id"), lit("</h1>"),
        expr(
          """array_join(transform(sequence(1, size(__ws), 7),
            |  i -> concat('<p>', array_join(slice(__ws, i, 7), ' '), '</p>')), '')"""
            .stripMargin),
        lit("<div class=\"nav\">Home | About | Contact</div>" +
          "<p>&copy; 2026 &amp; EXAMPLE CORP</p></body></html>"))
        .as("html"))
    fanOut(paged)
      .withColumn("__ls", split(
        graft.ops.Text.extractHtmlBlocks(col("html")), "\n"))
      .withColumn("__kept", filter(col("__ls"),
        l => graft.ops.Text.keepLine(l)))
      .select(col("doc_id"),
        size(col("__ls")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), "\n").as("text_clean"))
      .orderBy("doc_id")
  }

  /** The MODERN web-curation recipe composed END TO END and certified
    * in one SQL replay — the full production chain every LLM corpus
    * runs, stage order as the public pipelines document it:
    * trafilatura-class extraction ([[graft.ops.Text.extractHtmlBlocks]])
    * → justext boilerplate rules ([[graft.ops.Text.keepLine]]) → Gopher
    * shape rules ([[graft.ops.Text.gopherRules]], pass-filter at
    * minWords = 10) → C4 bad-words drop
    * ([[graft.ops.Text.termBlocklistFlag]], the corpus's one rare term
    * "dup" — 5% of docs) → CCNet line dedup over the SURVIVORS
    * ([[graft.ops.Text.dedupLines]]) → deterministic training
    * shuffle-shard ([[graft.ops.Text.shuffleShards]], 8 shards, seed
    * 13). Output: (shard, seq, doc_id, text_final) — the exact bytes a
    * training job would read, in the exact order.
    *
    * Shape: the two quality flags evaluate as Column forms
    * ([[graft.ops.Text.gopherPass]] / [[graft.ops.Text.termBlocked]])
    * in ONE projection over the cleaned scan — the whole
    * synthesis → extraction → boilerplate → shape-pass → bad-word
    * chain is a single read of the corpus (the first exchange in the
    * plan is dedupLines' line-hash window; an earlier r13 spelling
    * re-derived the extraction once per flag branch, 3× the scan —
    * 5.1-6.2 s vs the fused form's 4.4 s at sf0.1, the remainder being
    * the dedup window + shard exchange both spellings share).
    */
  def txWebCurate(s: SparkSession, dir: String): DataFrame =
    webCurateChain(syntheticPages(s, dir))

  /** The web-page synthesis txWebCurate (and the WARC fixture) wraps
    * each document in: script/title head, h1, one `<p>` per 7 words,
    * nav crumb, footer — (doc_id, html), one line, no markup in the
    * corpus needed.
    */
  private def syntheticPages(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("__ws"))
      .select(col("doc_id"), concat(
        lit("<html><head><script type=\"text/javascript\">var nav = 1 < 2;</script><title>D"),
        col("doc_id"),
        lit("</title></head><body><h1>Doc "), col("doc_id"), lit("</h1>"),
        expr(
          """array_join(transform(sequence(1, size(__ws), 7),
            |  i -> concat('<p>', array_join(slice(__ws, i, 7), ' '), '</p>')), '')"""
            .stripMargin),
        lit("<div class=\"nav\">Home | About | Contact</div>" +
          "<p>&copy; 2026 &amp; EXAMPLE CORP</p></body></html>"))
        .as("html"))

  /** The composed curation chain from a (doc_id, html) frame — shared
    * by [[txWebCurate]] (synthesized pages) and [[txWarcCurate]]
    * (pages parsed out of WARC container bytes), so the WARC front
    * door feeds the exact same certified stages.
    */
  // fanOut (graft.queries package object): only applied to frames
  // whose downstream per-row work (HTML extraction, langid routing)
  // dwarfs one extra exchange of the rows.

  private def webCurateChain(pages: DataFrame): DataFrame = {
    // the lazy checkpoint is a MATERIALIZATION BARRIER, not a cache of
    // convenience: without it the gopher/blocklist keep-filter pushes
    // back down through the fan-out exchange and re-inlines the whole
    // extraction chain into the serial scan-side stage (measured: the
    // barrier-less fanOut made the query SLOWER — extraction ran both
    // below the exchange, serially, for the filter AND above it for the
    // projection). Extracted text is also what a real pipeline persists
    // between stages (the tx_lang_curate lesson).
    val cleaned = fanOut(pages)
      .withColumn("__ls", split(
        graft.ops.Text.extractHtmlBlocks(col("html")), "\n"))
      .select(col("doc_id"),
        array_join(filter(col("__ls"),
          l => graft.ops.Text.keepLine(l)), "\n").as("text"))
      .transform(Pins.once(_, eager = false))
    val survivors = cleaned
      .withColumn("__keep",
        graft.ops.Text.gopherPass(col("text"), minWords = 10) &&
          !graft.ops.Text.termBlocked(col("text"), Seq("dup")))
      .filter(col("__keep"))
      .select("doc_id", "text")
    val deduped = graft.ops.Text.dedupLines(survivors, "doc_id", "text")
      .select(col("doc_id"), col("text_dedup").as("text_final"))
    graft.ops.Text.shuffleShards(deduped, "doc_id", numShards = 8, seed = 13)
      .select(col("shard"), col("seq"), col("doc_id"), col("text_final"))
      .orderBy("shard", "seq")
  }

  // One WARC [[fixture]]: Common Crawl-layout container files
  // (member-per-record gzip) carrying the txWebCurate pages as HTTP
  // responses, with three deterministic fault plants — a malformed
  // version line (doc_id ≡ 3 mod 7), a 404 status (doc_id ≡ 0 mod 11),
  // and one torn trailing member on the g=5 shard.
  private def warcFixture(s: SparkSession, dir: String): String =
    fixture("src_warc", dir) { p =>
      syntheticPages(s, dir)
        .select(col("doc_id"), pmod(col("doc_id"), lit(8)).cast("int").as("g"),
          col("html"))
        .repartition(8, col("g"))
        .sortWithinPartitions("g", "doc_id")
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          import graft.sources.Warc
          var curG = -1
          var out: java.io.OutputStream = null
          def finish(): Unit = if (out != null) {
            if (curG == 5) { // torn trailing member: mid-deflate cut
              val sent = Warc.gzipMember(Warc.recordBytes("response",
                "http://example.com/torn", "2026-01-01T00:00:00Z",
                "application/http; msgtype=response",
                "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html>torn sentinel page</html>"
                  .getBytes("ISO-8859-1")))
              out.write(sent, 0, sent.length / 2)
            }
            out.close(); out = null
          }
          while (it.hasNext) {
            val r = it.next()
            val id = r.getLong(0); val g = r.getInt(1); val html = r.getString(2)
            if (g != curG) {
              finish()
              out = new java.io.BufferedOutputStream(
                new java.io.FileOutputStream(s"$p/part-$g.warc.gz"))
              curG = g
            }
            val status = if (id % 11 == 0) "404 Not Found" else "200 OK"
            val version = if (id % 7 == 3) "WARX/1.0" else "WARC/1.0"
            // r15 header plants (the curation-signal surface tx_robots /
            // the txWarcCurate robots drop replay): X-Robots-Tag noindex
            // (id ≡ 5 mod 13, must DROP), noarchive (id ≡ 8 mod 13, must
            // NOT drop), Content-Language en/de/fr (id ≡ 3/7/11 mod 19)
            val robots = if (id % 13 == 5) "X-Robots-Tag: noindex\r\n"
              else if (id % 13 == 8) "X-Robots-Tag: noarchive\r\n" else ""
            val clang = (id % 19).toInt match {
              case 3 => "Content-Language: en\r\n"
              case 7 => "Content-Language: de\r\n"
              case 11 => "Content-Language: fr\r\n"
              case _ => ""
            }
            val block = (s"HTTP/1.1 $status\r\nContent-Type: text/html; charset=utf-8\r\n" +
              robots + clang + "\r\n" + html)
              .getBytes("UTF-8")
            out.write(Warc.gzipMember(Warc.recordBytes("response",
              s"http://example.com/doc/$id", "2026-01-01T00:00:00Z",
              "application/http; msgtype=response", block, version)))
          }
          finish()
        }
      p
    }

  /** WARC ingest with quarantine ([[graft.sources.Warc]]) — the Common
    * Crawl container front door. The fixture serializes the corpus as
    * member-per-record gzip WARC responses (the real crawl layout);
    * parsed rows surface url-derived doc_id, HTTP status, mime, body
    * byte length and body md5 with ok=1; the planted malformed records
    * (doc_id ≡ 3 mod 7, a WARX/ version line the parser resyncs past)
    * and the one torn trailing gzip member surface as all-null ok=0
    * rows tagged by quarantine reason — never an exception. The oracle
    * replays both populations and every parsed field (including the
    * exact body bytes via md5 of the same synthesized page) from the
    * base table.
    */
  def srcWarc(s: SparkSession, dir: String): DataFrame = {
    val path = warcFixture(s, dir)
    graft.sources.Warc.read(s, path)
      .select(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("status"), col("mime"),
        length(col("body")).cast("long").as("n_bytes"),
        md5(col("body")).as("body_md5"),
        when(col("_corrupt").isNull, 1).otherwise(0).as("ok"),
        when(col("_corrupt").isNull, lit(null).cast("string"))
          .when(col("_corrupt").startsWith("torn"), "torn")
          .otherwise("malformed").as("reason"))
      .orderBy("ok", "doc_id")
  }

  /** The modern web recipe fed END TO END from real container bytes:
    * [[graft.sources.Warc.read]] over the fixture, 200-status response
    * pages decoded from the body bytes, then the EXACT
    * [[txWebCurate]] chain ([[webCurateChain]] — extraction →
    * boilerplate → Gopher → bad-words → line dedup → shuffle-shard).
    * The oracle is tx_web_curate's replay restricted to the docs that
    * survive the container: parseable (doc_id ≢ 3 mod 7), status 200
    * (doc_id ≢ 0 mod 11), and not robots-denied
    * ([[graft.sources.Warc.robotsDeny]] on the parsed HTTP header map —
    * the X-Robots-Tag noindex plant, doc_id ≢ 5 mod 13; the noarchive
    * plant must SURVIVE) — so WARC parse, HTTP status AND header-map
    * plumbing, and the whole curation chain certify together.
    */
  def txWarcCurate(s: SparkSession, dir: String): DataFrame = {
    val path = warcFixture(s, dir)
    val pages = graft.sources.Warc.read(s, path)
      .filter(col("_corrupt").isNull && col("warc_type") === "response" &&
        col("status") === 200 &&
        !graft.sources.Warc.robotsDeny(col("http_headers")))
      .select(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        decode(col("body"), "UTF-8").as("html"))
    webCurateChain(pages)
  }

  /** HTTP response-header consumption from the WARC front door
    * (tx_robots): per response record, the robots verdict
    * ([[graft.sources.Warc.robotsDeny]] on the X-Robots-Tag plant —
    * noindex denies, noarchive does NOT), the declared
    * Content-Language, and the declared ⇄ detected cross-check —
    * [[graft.ops.Text.langIdScript]] over the block-extracted page text
    * vs the header claim (the CCNet-style signal: a page declaring `de`
    * that detects `en` is mislabeled or template noise). The oracle
    * replays header plants from the id formulas and the FULL
    * extraction + script-routing + profile-argmax detection in SQL.
    */
  def txRobots(s: SparkSession, dir: String): DataFrame = {
    val path = warcFixture(s, dir)
    graft.sources.Warc.read(s, path)
      .filter(col("_corrupt").isNull && col("warc_type") === "response")
      .select(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("status"),
        graft.sources.Warc.robotsDeny(col("http_headers")).cast("int")
          .as("robots_deny"),
        element_at(col("http_headers"), "content-language")
          .as("content_language"),
        graft.ops.Text.extractHtmlBlocks(decode(col("body"), "UTF-8"))
          .as("__text"))
      // bind the script histogram ONCE (the langIdScriptRouted contract)
      .withColumn("__sc",
        graft.functions.FunctionDefs.call("script_counts", col("__text")))
      .select(col("doc_id"), col("status"), col("robots_deny"),
        col("content_language"),
        graft.ops.Text.langIdScriptRouted(col("__text"), col("__sc"))
          .as("lang_guess"))
      .withColumn("lang_match",
        when(col("content_language").isNull, lit(null).cast("int"))
          .otherwise((col("content_language") === col("lang_guess")).cast("int")))
      .orderBy("doc_id")
  }

  /** Deterministic corpus shuffle-shard
    * ([[graft.ops.Text.shuffleShards]]): every document lands a
    * reproducible (shard, seq) training position from (corpus, seed)
    * alone — 16 shards, seed 7. The oracle replays the md5 key, the
    * 32-bit-prefix shard assignment and the per-shard rank in SQL, so
    * the full permutation is certified bit-for-bit.
    */
  def txShard(s: SparkSession, dir: String): DataFrame =
    graft.ops.Text.shuffleShards(
      Tables.documents(s, dir).select("doc_id"), "doc_id",
      numShards = 16, seed = 7)
      .select(col("shard"), col("seq"), col("doc_id"))
      .orderBy("shard", "seq")

  /** PMI collocations ([[graft.ops.Text.pmiCollocations]]): top-20
    * adjacent word pairs by pointwise mutual information, min count 10
    * — two partial-agg count passes + broadcast unigram join; every
    * count exact, the PMI double expression mirrored verbatim.
    */
  def txPmi(s: SparkSession, dir: String): DataFrame =
    graft.ops.Text.pmiCollocations(
      Tables.documents(s, dir), "text", minCount = 10, topN = 20)

  /** Image near-dup via perceptual hash: REAL PNG decode → aHash
    * ([[graft.ops.Multimodal.imagePhash]]) → pigeonhole-banded Hamming
    * pairs ([[graft.ops.Dedup.hammingPairs]], dist ≤ 2 over 8 bands).
    * The synthetic frames are deterministic arithmetic, so the oracle
    * replays hash bits AND the full pair set in SQL — the whole
    * decode→fingerprint→bucket→verify image-dedup pipeline certified
    * end to end. Images below 30 samples are excluded (a tiny frame's
    * hash has too few bits to mean anything — the resample-to-8×8
    * production path has no such floor).
    */
  def mmPhash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id")
      .filter((lit(1) + col("doc_id") % 8) * (lit(1) + col("doc_id") % 5) >= 30)
    val media = graft.ops.Multimodal.synthesizePngs(s, docs, "doc_id")
    val hashed = graft.ops.Multimodal.imagePhash(s, media, "doc_id")
    graft.ops.Dedup.hammingPairs(hashed, "doc_id", "phash", maxDist = 2, maxBucket = -1)
      .orderBy("id_a", "id_b")
  }

  /** Inverted-index point lookup ([[graft.sources.InvertedIndex]]):
    * documents containing BOTH query terms, resolved from the
    * range-clustered postings layout — covering files from the
    * driver-side manifest, AND via one distinct-term count. The oracle
    * is the full-scan tokenize-and-filter; InvertedIndexSpec pins that
    * files were skipped.
    */
  def srcInvidx(s: SparkSession, dir: String): DataFrame = {
    val path = fixture("src_invidx", dir) { f =>
      val p = f + "/ix"
      graft.sources.InvertedIndex.write(
        Tables.documents(s, dir), p, "doc_id", "text", nFiles = 16)
      p
    }
    graft.sources.InvertedIndex.docsWithAll(s, path, Seq("join", "vector"))
      .orderBy("doc_id")
  }

  /** Change data feed between snapshots: TimeTravel v0 → v2 diffed with
    * the snapshot-diff digest join (qDiff's shape) over the SAME
    * layout src_timetravel reads — added/removed/changed must replay
    * the committed changesets exactly.
    */
  def srcTimetravelCdf(s: SparkSession, dir: String): DataFrame = {
    val path = timetravelFixture(s, dir)
    // null-safe digest: the null FLAG rides alongside the value digest
    // (a bare sentinel would collide with a real text equal to it), so
    // row_hash is null exactly when the key is ABSENT and never equal
    // across a value-to-null change
    def hashed(v: Int) =
      graft.sources.TimeTravel.readVersion(s, path, v)
        .select(col("doc_id"),
          concat(md5(coalesce(col("text"), lit(""))),
            col("text").isNull.cast("string")).as("row_hash"))
    hashed(0).as("a").join(hashed(2).as("b"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("a.row_hash").isNull, "added")
          .when(col("b.row_hash").isNull, "removed")
          .when(col("a.row_hash") =!= col("b.row_hash"), "changed")
          .as("change"))
      .filter(col("change").isNotNull)
      .orderBy("change", "doc_id")
  }

  /** Exact Levenshtein-≤2 join over 40-char document prefixes
    * ([[graft.ops.Dedup.editDistanceJoin]]): SymSpell deletion-
    * neighborhood signatures generate candidates (a necessary
    * condition — pruning can't lose a pair), exact levenshtein
    * verifies. The oracle is the plain all-pairs formulation with the
    * same length precondition.
    */
  def ddEditdist(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.editDistanceJoin(
        Tables.documents(s, dir)
          .select(col("doc_id"), substring(col("text"), 1, 40).as("p")),
        "doc_id", "p", maxDist = 2, minLen = 30)
      .orderBy("id_a", "id_b")

  /** Ridge linear probe over frozen embeddings ([[graft.ops.Probe
    * .ridgeFit]]): one-vs-rest classifier for label 0, trained from ONE
    * aggregated pass (augmented Gram + XᵀY moments, dim²/2 doubles to
    * the driver — the PCA trade), scored scan-side with codegen vec_dot.
    * Oracle-checkable facts: n/dim/positive fraction; the solve itself
    * certifies via the ridge optimality residual (‖Aβ−b‖∞ ≈ 0, data-
    * independent) and the trained score must SEPARATE the classes —
    * mean positive score > mean negative score, which least squares
    * guarantees whenever the embeddings carry any linear label signal
    * (cov(ŷ, y) = var(ŷ) > 0 for a non-constant fit); ProbeSpec pins
    * recovery/shrinkage/OLS-parity.
    */
  def annProbe(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val y = (col("label") === 0).cast("double")
    val model = graft.ops.Probe.ridgeFit(e, "embedding", y, lambda = 1.0)
    e.select(
        graft.ops.Probe.score(model, col("embedding")).as("score"),
        (col("label") === 0).cast("int").as("yy"))
      .agg(
        avg(when(col("yy") === 1, col("score"))).as("pos_score"),
        avg(when(col("yy") === 0, col("score"))).as("neg_score"),
        avg(col("yy").cast("double")).as("pos"))
      .select(lit(model.n).as("n_vecs"), lit(model.dim).as("dim"),
        (round(col("pos"), 6) + lit(0.0)).as("pos_frac_r"),
        lit(if (model.optResidual < 1e-6) 1 else 0).as("optimality_ok"),
        (col("pos_score") > col("neg_score")).cast("int").as("separates_classes"))
  }

  /** The probe's XᵀY moment path replayed value-for-value: per
    * dimension, Σ y·vᵢ (the y-scaled vec_sum — the one aggregate
    * ann_pca_cov doesn't already certify) and Σ vᵢ, rounded.
    */
  def annProbeXty(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(
      graft.functions.Vectors.toDouble(col("embedding")).as("__v"),
      (col("label") === 0).cast("double").as("__y"))
    e.agg(
        graft.functions.FunctionDefs.callAgg("vec_sum",
          expr("transform(__v, x -> x * __y)")).as("syv"),
        graft.functions.FunctionDefs.callAgg("vec_sum", col("__v")).as("sv"))
      .select(col("sv"), posexplode(col("syv")).as(Seq("i0", "xty")))
      .select((col("i0") + 1).cast("int").as("i"),
        (round(col("xty"), 6) + lit(0.0)).as("xty_r"),
        (round(element_at(col("sv"), (col("i0") + 1).cast("int")), 6) + lit(0.0)).as("sv_r"))
      .orderBy("i")
  }

  /** Closed-form linear probe ([[graft.ops.Probe.ols2]]): OLS of
    * document length on two byte-count features (spaces, letter 'e')
    * from ONE partial-aggregated scan; the Cramer solve runs as column
    * arithmetic on the 1-row stats frame. Every sufficient statistic is
    * an exact long, so the oracle replays the identical solve.
    */
  def txProbe(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
    // native one-byte-pass occurrence counts (the oracle keeps the
    // length(replace(...)) spelling — identical values for ASCII
    // targets, no per-row document copies)
    def cnt(ch: Char) = graft.functions.FunctionDefs.call(
      "byte_count", col("text"), lit(ch.toInt))
    graft.ops.Probe.ols2(docs, cnt(' '), cnt('e'), length(col("text")))
  }

  /** Per-file Bloom-index point lookup ([[graft.sources.BloomManifest]]):
    * documents clustered on doc_id, bloom-indexed on the CONTENT hash —
    * a column the layout can't range-prune — then five content probes
    * plan their file list from the manifest alone. The oracle is the
    * plain IN filter (pruning must be invisible); BloomManifestSpec pins
    * that files were actually skipped.
    */
  def srcBloomskip(s: SparkSession, dir: String): DataFrame = {
    val path = fixture("src_bloomskip", dir) { f =>
      val p = f + "/docs"
      graft.sources.BloomManifest.write(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            substring(md5(col("text")), 1, 16).as("content_key")),
        p, clusterCol = "doc_id", lookupCol = "content_key", nFiles = 16)
      p
    }
    val probes = Tables.documents(s, dir)
      .filter(col("doc_id").isin(7L, 123L, 251L, 384L, 449L))
      .select(substring(md5(col("text")), 1, 16).as("k"))
      .collect().map(_.getString(0)).toIndexedSeq
    graft.sources.BloomManifest.lookupRead(s, path, "content_key", probes)
      .select(col("doc_id"), col("source"), col("content_key"))
      .orderBy("doc_id")
  }

  /** Build-once versioned fixture shared by src_timetravel and the CDF
    * entry (the CDF only needs the path, not the summary scans).
    */
  private def timetravelFixture(s: SparkSession, dir: String): String =
    fixture("src_timetravel", dir) { f =>
      val p = f + "/docs"
      val base = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
      graft.sources.TimeTravel.init(base, p, "doc_id", nBuckets = 16)
      val m = col("doc_id") % 10
      val b1 = base.filter(m === 0).select(lit("D").as("op"), col("doc_id"),
          col("source"), col("text"), lit(1L).as("seq"))
        .unionByName(base.filter(m === 1).select(lit("U").as("op"), col("doc_id"),
          col("source"), concat(lit("rev1 "), col("doc_id")).as("text"), lit(1L).as("seq")))
      graft.sources.TimeTravel.commit(s, p, b1, "doc_id", "op", "seq")
      val b2 = base.filter(m === 2).select(lit("I").as("op"),
        (col("doc_id") + 20000000L).as("doc_id"), col("source"),
        concat(lit("new "), col("doc_id") + 20000000L).as("text"), lit(1L).as("seq"))
      graft.sources.TimeTravel.commit(s, p, b2, "doc_id", "op", "seq")
      p
    }

  /** Snapshot time travel ([[graft.sources.TimeTravel]]): v0 = the
    * documents table, v1 = a CDC batch (deletes + updates), v2 = an
    * insert batch. All three snapshots read back through their
    * manifests CONCURRENTLY — time travel is a manifest choice, not a
    * data copy (commits rewrite only touched buckets). The oracle
    * recomputes each version's state from the base table and the
    * deterministic changesets.
    */
  def srcTimetravel(s: SparkSession, dir: String): DataFrame = {
    val path = timetravelFixture(s, dir)
    def summary(v: Int): DataFrame =
      graft.sources.TimeTravel.readVersion(s, path, v).agg(
          count(lit(1)).as("n_rows"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
            .as("content_sum"))
        .select(lit(v).as("version"), col("n_rows"), col("content_sum"))
    summary(0).unionByName(summary(1)).unionByName(summary(2))
      .orderBy("version")
  }

  private val cosSql =
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"

  /** The SCRIPT-AWARE language-ID heuristic replayed in SQL, generated
    * from the same constants the engine routes on: the txLangid plant,
    * `GeomImpl.scriptRanges` as RE2 `[\x{..}-\x{..}]` count classes,
    * first-max-wins script dominance in the Column form's order, then
    * per-script profile argmax over the identical tokenization
    * (`Text.langProfiles` / cyrillic / arabic / devanagari families),
    * all-zero → und at both levels, CJK by block evidence.
    */
  /** The script-routing + profile-argmax detection factored as SQL
    * fragments over a `b(doc_id, text)` CTE — shared by tx_langid,
    * tx_robots (detection over extracted page text) and tx_lang_curate
    * (the language-keyed recipe), so the replayed heuristic cannot
    * drift between them: (the t/h/g CTE chain, the final CASE
    * expression valid over `g`).
    */
  private lazy val (langIdCtes, langGuessCase): (String, String) = {
    import graft.ops.Text
    val scriptCls: Map[String, String] =
      graft.functions.GeomImpl.scriptRanges.map { case (name, rs) =>
        name -> rs.map { case (a, b) => f"\\x{$a%04X}-\\x{$b%04X}" }.mkString
      }.toMap
    val countCols = graft.functions.GeomImpl.scriptRanges.map { case (name, _) =>
      s"len(regexp_extract_all(text, '[${scriptCls(name)}]')) AS c_$name"
    }.mkString(",\n        ")
    def hitCols(tag: String, tokCls: String, profs: Seq[(String, Seq[String])]) = {
      val toks = s"regexp_split_to_array(lower(text), '[^$tokCls]+')"
      profs.map { case (l, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter($toks, x -> list_contains($lst, x))) AS h_${tag}_$l"
      }.mkString(",\n        ")
    }
    def argmax(tag: String, profs: Seq[(String, Seq[String])]): String = {
      val gr = s"greatest(${profs.map(p => s"h_${tag}_${p._1}").mkString(", ")})"
      val cases = profs.map(_._1).dropRight(1)
        .map(l => s"WHEN h_${tag}_$l = $gr THEN '$l'").mkString(" ")
      s"CASE WHEN $gr = 0 THEN 'und' $cases ELSE '${profs.last._1}' END"
    }
    val ctes =
      s"""li_t AS (SELECT doc_id, text,
         |        $countCols
         |      FROM b),
         |li_h AS (SELECT *,
         |        c_han + c_hiragana + c_katakana + c_hangul AS c_cjk,
         |        ${hitCols("lat", Text.langTokenClass, Text.langProfiles)},
         |        ${hitCols("cyr", Text.cyrillicTokenClass, Text.cyrillicProfiles)},
         |        ${hitCols("ar", Text.arabicTokenClass, Text.arabicProfiles)},
         |        ${hitCols("dev", Text.devanagariTokenClass, Text.devanagariProfiles)}
         |      FROM li_t),
         |li_g AS (SELECT *,
         |        greatest(c_latin, c_cyrillic, c_greek, c_arabic, c_devanagari,
         |                 c_thai, c_hebrew, c_bengali, c_tamil, c_cjk) AS g
         |      FROM li_h)""".stripMargin
    val guess =
      s"""CASE WHEN text IS NULL THEN NULL
         |      WHEN g = 0 THEN 'und'
         |      WHEN c_latin = g THEN ${argmax("lat", Text.langProfiles)}
         |      WHEN c_cyrillic = g THEN ${argmax("cyr", Text.cyrillicProfiles)}
         |      WHEN c_greek = g THEN 'el'
         |      WHEN c_arabic = g THEN ${argmax("ar", Text.arabicProfiles)}
         |      WHEN c_devanagari = g THEN ${argmax("dev", Text.devanagariProfiles)}
         |      WHEN c_thai = g THEN 'th'
         |      WHEN c_hebrew = g THEN 'he'
         |      WHEN c_bengali = g THEN 'bn'
         |      WHEN c_tamil = g THEN 'ta'
         |      ELSE (CASE WHEN c_hiragana + c_katakana > 0 THEN 'ja'
         |                 WHEN c_hangul >= c_han THEN 'ko'
         |                 ELSE 'zh' END) END""".stripMargin
    (ctes, guess)
  }

  /** The txLangid plant as a SQL CASE fragment (docs ≡ 1..14 mod 17
    * replaced by the pinned non-Latin sentences) — shared by the
    * tx_langid and tx_lang_curate oracles.
    */
  private lazy val langPlantCase: String = {
    val whens = langPlants.zipWithIndex
      .map { case ((_, sent), i) => s"WHEN doc_id % 17 = ${i + 1} THEN '$sent'" }
      .mkString("\n          ")
    s"CASE $whens\n          ELSE text END"
  }

  private val langIdOracle: String =
    s"""WITH b AS (SELECT doc_id, $langPlantCase AS text FROM documents),
       |$langIdCtes
       |SELECT doc_id,
       | $langGuessCase AS lang_guess
       |FROM li_g ORDER BY doc_id""".stripMargin

  /** Brute-force top-k ranking — also the oracle for the LSH/IVF entries
    * run in their provably-complete regimes (all-bucket multiprobe /
    * nprobe=nlist), where the approximate paths must reproduce the exact
    * ranking bit-for-bit.
    */
  /** Unrolled n-round BPE training in DuckDB SQL: per round, adjacent
    * pair counts over the distinct-word table, argmax with the (count
    * desc, pair asc) tie-break, then the same wrapped-string greedy
    * replace the Spark side uses. chr(1) = the U+0001 separator.
    */
  /** The BPE learning loop as shared CTEs (w0 + per-round l/p/c/m/w):
    * both the learn oracle (tx_bpe) and the apply oracle (tx_bpe_apply)
    * re-derive the merges from scratch in SQL.
    */
  private def bpeCtes(n: Int): String = {
    val base =
      """w0 AS (
        |  SELECT cnt, chr(1) || array_to_string(string_split(word, ''), chr(1)||chr(1)) || chr(1) AS s
        |  FROM (SELECT word, count(*) AS cnt
        |        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |        WHERE word != '' GROUP BY word))""".stripMargin
    val rounds = (0 until n).map { r =>
      s"""l$r AS (SELECT cnt, list_filter(string_split(s, chr(1)), x -> x != '') AS l FROM w$r),
         |p$r AS (SELECT cnt, l, unnest(range(1, len(l))) AS i FROM l$r),
         |c$r AS (SELECT l[i] AS left_sym, l[i+1] AS right_sym, sum(cnt) AS pc FROM p$r GROUP BY 1, 2),
         |m$r AS (SELECT $r AS step, left_sym, right_sym, pc FROM c$r ORDER BY pc DESC, left_sym, right_sym LIMIT 1),
         |w${r + 1} AS (SELECT cnt,
         |  replace(s, chr(1)||left_sym||chr(1)||chr(1)||right_sym||chr(1),
         |             chr(1)||left_sym||right_sym||chr(1)) AS s
         |  FROM w$r, m$r)""".stripMargin
    }
    s"$base,\n${rounds.mkString(",\n")}"
  }

  private def bpeOracleSql(n: Int): String = {
    val union = (0 until n).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")
    s"""WITH ${bpeCtes(n)}
       |SELECT step, left_sym, right_sym, pc::BIGINT AS pair_count
       |FROM ($union) ORDER BY step""".stripMargin
  }

  /** The encode replayed per word: the re-learned merge patterns are
    * pivoted into one (p0..p{n-1}, q0..q{n-1}) row, each word is wrapped
    * exactly like w0 and run through the same n chained replaces, and
    * token counts / roundtrip concatenation are value-compared.
    */
  private def bpeApplyOracleSql(n: Int): String = {
    val pqCols = (0 until n).map(r =>
      s"(SELECT chr(1)||left_sym||chr(1)||chr(1)||right_sym||chr(1) FROM m$r) AS p$r, " +
        s"(SELECT chr(1)||left_sym||right_sym||chr(1) FROM m$r) AS q$r").mkString(",\n  ")
    val wrapped = "chr(1) || array_to_string(string_split(w, ''), chr(1)||chr(1)) || chr(1)"
    val encoded = (0 until n).foldLeft(wrapped) { case (s, r) => s"replace($s, p$r, q$r)" }
    s"""WITH ${bpeCtes(n)},
       |pq AS (SELECT
       |  $pqCols),
       |d AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS words FROM documents),
       |enc AS (SELECT doc_id, words,
       |    list_transform(words, w -> $encoded) AS encs
       |  FROM d CROSS JOIN pq),
       |tok AS (SELECT doc_id, words,
       |    list_transform(encs, s -> list_filter(string_split(s, chr(1)), x -> x != '')) AS toks
       |  FROM enc)
       |SELECT doc_id, len(words)::INT AS n_words,
       |  CASE WHEN words IS NULL THEN NULL
       |       ELSE coalesce(list_sum(list_transform(toks, t -> len(t))), 0) END::INT AS n_tokens,
       |  (list_transform(toks, t -> array_to_string(t, '')) = words)::INT AS roundtrip_ok
       |FROM tok ORDER BY doc_id""".stripMargin
  }

  /** The curate funnel replayed stage by stage in SQL (same langid
    * profiles, quality/repetition formulas, min-id dedup and
    * multiplicative-hash sample the Spark side runs).
    */
  private val curateOracleSql: String = {
    val profs = graft.ops.Text.langProfiles
    val hitCols = profs.map { case (l, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(w, x -> list_contains($lst, x))) AS hits_$l"
    }.mkString(",\n        ")
    val gr = s"greatest(${profs.map(p => s"hits_${p._1}").mkString(", ")})"
    val cases = profs.map(_._1).dropRight(1)
      .map(l => s"WHEN hits_$l = $gr THEN '$l'").mkString(" ")
    s"""WITH lt AS (SELECT doc_id, regexp_split_to_array(lower(text), '[^${graft.ops.Text.langTokenClass}]+') AS w FROM documents),
       |lh AS (SELECT doc_id, $hitCols FROM lt),
       |lid AS (SELECT doc_id, CASE WHEN $gr = 0 THEN 'und' $cases ELSE '${profs.last._1}' END AS lang_id FROM lh),
       |qx AS (SELECT doc_id,
       |  round(least(len(string_split(text, ' ')) * 1.0 / 50.0, 1.0) *
       |        (length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) * 1.0 / length(text)), 4) AS q
       |  FROM documents),
       |rd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |rg AS (SELECT doc_id, CASE WHEN len(w) >= 3
       |         THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
       |         ELSE [] END AS grams FROM rd),
       |rgc AS (SELECT doc_id, gram, count(*) AS c
       |        FROM (SELECT doc_id, unnest(grams) AS gram FROM rg) GROUP BY 1, 2),
       |rha AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_pos,
       |               sum(c) AS n_grams FROM rgc GROUP BY 1),
       |rr AS (SELECT d.doc_id,
       |         round(CASE WHEN coalesce(a.n_grams, 0) = 0 THEN 0.0
       |               ELSE a.dup_pos * 1.0 / a.n_grams END, 4) AS d3,
       |         round((len(d.w) - len(list_distinct(d.w))) * 1.0 / len(d.w), 4) AS dw
       |       FROM rd d LEFT JOIN rha a ON d.doc_id = a.doc_id),
       |f1 AS (SELECT d.doc_id, d.text, d.lang FROM documents d JOIN lid USING (doc_id)
       |       WHERE lang_id = 'en'),
       |f2 AS (SELECT f1.* FROM f1 JOIN qx USING (doc_id) WHERE q >= 0.49),
       |f3 AS (SELECT f2.* FROM f2 JOIN rr USING (doc_id) WHERE d3 <= 0.205 AND dw <= 0.62),
       |f4 AS (SELECT f3.* FROM f3
       |       JOIN (SELECT md5(text) AS h, min(doc_id) AS keep FROM f3 GROUP BY 1) s
       |       ON md5(f3.text) = s.h AND f3.doc_id = s.keep),
       |f5 AS (SELECT * FROM f4
       |       WHERE (((doc_id % 1000000007) * 654435747 + 0) % 1000000007)::DOUBLE <
       |             (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 WHEN 'fr' THEN 1.0
       |              ELSE 0.1 END) * 1000000007.0)
       |SELECT * FROM (
       |  SELECT 0 AS stage, 'input' AS stage_name, count(*) AS n_kept FROM documents UNION ALL
       |  SELECT 1, 'lang_en', count(*) FROM f1 UNION ALL
       |  SELECT 2, 'quality', count(*) FROM f2 UNION ALL
       |  SELECT 3, 'repetition', count(*) FROM f3 UNION ALL
       |  SELECT 4, 'dedup', count(*) FROM f4 UNION ALL
       |  SELECT 5, 'sample', count(*) FROM f5
       |) ORDER BY stage""".stripMargin
  }

  /** Both base rankings (the tx_bm25 formula with per-doc derived query
    * terms; the ann_brute cosine restricted to the document id space) and
    * the 1/(60+rank) fusion replayed end-to-end; fusion terms are exact
    * IEEE doubles from integer ranks, so the sum is engine-independent.
    */
  private val rrfHybridSql =
    s"""WITH d AS (SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents),
       |dl AS (SELECT id, len(toks) AS dl FROM d),
       |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(len(toks)) AS avgdl FROM d),
       |q AS (SELECT id AS qid, unnest(list_distinct(toks[1:5])) AS term
       |      FROM d WHERE id < 5),
       |tok AS (SELECT id, unnest(toks) AS term FROM d),
       |tf AS (SELECT id, term, count(*)::DOUBLE AS tf FROM tok
       |       WHERE term IN (SELECT term FROM q) GROUP BY id, term),
       |dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
       |w AS (SELECT tf.id, q.qid,
       |        ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
       |        (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS w
       |      FROM tf JOIN dfreq USING (term) JOIN dl USING (id)
       |      JOIN q USING (term), stats),
       |sbm AS (SELECT qid, id, sum(w) AS score FROM w GROUP BY qid, id),
       |rbm AS (SELECT qid, id,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |       FROM sbm),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |      WHERE vec_id IN (SELECT doc_id FROM documents)),
       |qv AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
       |sc AS (SELECT a.vec_id AS qid, b.vec_id AS id, $cosSql AS c
       |       FROM qv a JOIN e b ON b.vec_id != a.vec_id),
       |rc AS (SELECT qid, id,
       |         row_number() OVER (PARTITION BY qid ORDER BY c DESC, id) AS rank
       |       FROM sc),
       |u AS (SELECT qid, id, rank FROM rbm WHERE rank <= 20
       |      UNION ALL SELECT qid, id, rank FROM rc WHERE rank <= 20),
       |f AS (SELECT qid, id, sum(1.0 / (60 + rank)) AS rrf FROM u
       |      WHERE id <> qid GROUP BY qid, id),
       |rf AS (SELECT qid, id, rrf,
       |         row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, id) AS rank
       |       FROM f)
       |SELECT qid, id, rank::INT AS rank, round(rrf, 6) AS rrf
       |FROM rf WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  private val bruteTopKSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS id, $cosSql AS c
       |  FROM (SELECT vec_id, v FROM q) a
       |  JOIN e b ON b.vec_id != a.vec_id),
       |ranked AS (
       |  SELECT qid, id, c,
       |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, id) AS rank
       |  FROM scored)
       |SELECT qid, id, rank::INT AS rank, round(c, 6) AS cos
       |FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** MMR oracle: all five greedy rounds unrolled as CTEs — round n joins
    * the pool against the union of rounds 1..n−1, takes the max pairwise
    * cosine to the selected set, and picks the MMR argmax with
    * ascending-id tie-break, exactly as Ann.mmrTopK's per-query greedy
    * loop does. Every comparison runs on UNROUNDED doubles (the cosine
    * folds are bit-identical across engines); 6-dp rounding is display
    * only — see mmrTopK's determinism contract for why rounding before
    * the λ-blend would systematically diverge.
    */
  private val mmrOracle: String = {
    def cosAB(a: String, b: String) =
      s"list_dot_product($a.v, $b.v) / (sqrt(list_dot_product($a.v, $a.v)) * sqrt(list_dot_product($b.v, $b.v)))"
    val rounds = (2 to 5).map { n =>
      val prev = (1 until n).map(i => s"SELECT qid, id, v FROM sel$i").mkString(" UNION ALL ")
      s"""prev$n AS ($prev),
         |cand$n AS (
         |  SELECT c.qid, c.id, c.rel, c.v,
         |    0.7 * c.rel - (1.0 - 0.7) * max(${cosAB("c", "s")}) AS mmr
         |  FROM pv c JOIN prev$n s ON s.qid = c.qid
         |  WHERE NOT EXISTS (SELECT 1 FROM prev$n x WHERE x.qid = c.qid AND x.id = c.id)
         |  GROUP BY c.qid, c.id, c.rel, c.v),
         |sel$n AS (
         |  SELECT qid, id, rel, mmr, v FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, id) AS rn
         |    FROM cand$n) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val unioned = (1 to 5)
      .map(i => s"SELECT qid, id, $i AS rank, rel, mmr FROM sel$i")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS id, $cosSql AS rel, b.v
       |  FROM q a JOIN e b ON b.vec_id != a.vec_id),
       |pv AS (SELECT qid, id, rel, v FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, id) AS rn
       |    FROM scored) WHERE rn <= 20),
       |sel1 AS (SELECT qid, id, rel, 0.7 * rel AS mmr, v FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, id) AS rn
       |    FROM pv) WHERE rn = 1),
       |$rounds,
       |allsel AS ($unioned)
       |SELECT qid, id, rank::INT AS rank, round(rel, 6) AS rel, round(mmr, 6) AS mmr
       |FROM allsel ORDER BY qid, rank""".stripMargin
  }

  private val asofOracleSql =
    """WITH e AS (SELECT event_id, user_id,
      |        TIMESTAMP '1995-01-01 00:00:00' + INTERVAL 1 DAY * (event_id % 2400) AS cutoff
      |      FROM events)
      |SELECT e.event_id, e.user_id,
      | epoch(e.cutoff)::BIGINT AS cutoff_s,
      | epoch(o.o_orderdate)::BIGINT AS asof_order_s
      |FROM e ASOF LEFT JOIN orders o
      |  ON e.user_id = o.o_custkey AND e.cutoff >= o.o_orderdate
      |ORDER BY event_id""".stripMargin

  // one unrolled IRLS iteration for the tx_quality_lr oracle: the nine
  // logistic sufficient statistics over `d` with iteration i-1's betas,
  // then the closed-form symmetric-3×3 adjugate Newton update — the
  // exact graft.ops.Probe.logit2 step, spelled term-for-term
  private def lrIterSql(i: Int): String = {
    val prev = s"t${i - 1}"
    s"""s$i AS (SELECT sum(y - p) AS g0, sum((y - p) * x1) AS g1,
       |    sum((y - p) * x2) AS g2, sum(p * (1 - p)) AS h00,
       |    sum(p * (1 - p) * x1) AS h01, sum(p * (1 - p) * x2) AS h02,
       |    sum(p * (1 - p) * x1 * x1) AS h11,
       |    sum(p * (1 - p) * x1 * x2) AS h12,
       |    sum(p * (1 - p) * x2 * x2) AS h22
       |  FROM (SELECT y, x1, x2,
       |          1 / (1 + exp(-(b0 + b1 * x1 + b2 * x2))) AS p
       |        FROM d, $prev)),
       |t$i AS (SELECT b0 + (a00 * g0 + a01 * g1 + a02 * g2) / det AS b0,
       |    b1 + (a01 * g0 + a11 * g1 + a12 * g2) / det AS b1,
       |    b2 + (a02 * g0 + a12 * g1 + a22 * g2) / det AS b2
       |  FROM (SELECT s$i.*, $prev.b0, $prev.b1, $prev.b2,
       |      h11 * h22 - h12 * h12 AS a00, h02 * h12 - h01 * h22 AS a01,
       |      h01 * h12 - h11 * h02 AS a02, h00 * h22 - h02 * h02 AS a11,
       |      h01 * h02 - h00 * h12 AS a12, h00 * h11 - h01 * h01 AS a22,
       |      h00 * (h11 * h22 - h12 * h12) + h01 * (h02 * h12 - h01 * h22)
       |        + h02 * (h01 * h12 - h11 * h02) AS det
       |    FROM s$i, $prev))""".stripMargin
  }

  /** One dd_span_scrub_long run at detection window `n` (min chain 30):
    * the dd_span_scrub replay with the planted passage and the island
    * gate — covered positions grouped into consecutive runs via
    * gaps-and-islands (cp − row_number), runs shorter than 30 kept.
    */
  private def spanScrubLongBlock(n: Int): String =
    s"""WITH d AS (SELECT doc_id,
       |        string_split(CASE WHEN doc_id % 9 = 2
       |                          THEN text || ' $longDupPassage'
       |                          ELSE text END, ' ') AS w
       |      FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT doc_id, unnest(
       |        CASE WHEN len(w) >= $n
       |             THEN [{'p': i, 'g': array_to_string(list_slice(w, i, i + ${n - 1}), ' ')}
       |                   for i in range(1, len(w) - ${n - 2})]
       |             ELSE [] END) AS u
       |      FROM d),
       |o AS (SELECT doc_id, u.p AS p, u.g AS g FROM g),
       |dup AS (SELECT g FROM o GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
       |cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + $n)) AS cp
       |        FROM o JOIN dup USING (g)),
       |isl AS (SELECT doc_id, cp,
       |          cp - row_number() OVER (PARTITION BY doc_id ORDER BY cp) AS grp
       |        FROM cov),
       |kc AS (SELECT doc_id, cp FROM
       |         (SELECT doc_id, cp,
       |            count(*) OVER (PARTITION BY doc_id, grp) AS ilen FROM isl)
       |       WHERE ilen >= 30),
       |cl AS (SELECT doc_id, list(cp) AS cps FROM kc GROUP BY doc_id),
       |r AS (SELECT d.doc_id, len(d.w) AS n_words,
       |        CASE WHEN cl.cps IS NULL THEN d.w
       |             ELSE [d.w[i] for i in range(1, len(d.w) + 1)
       |                   if NOT list_contains(cl.cps, i)] END AS kept
       |      FROM d LEFT JOIN cl USING (doc_id))
       |SELECT $n AS n, doc_id, n_words::BIGINT AS n_words,
       |  (n_words - len(kept))::BIGINT AS n_removed,
       |  round((n_words - len(kept)) / n_words, 6) AS removed_frac,
       |  coalesce(array_to_string(kept, ' '), '') AS text_scrubbed
       |FROM r""".stripMargin

  /** The synthesized-page h CTE (over a d CTE of (doc_id, w)) — ONE
    * spelling shared by the tx_web_pipeline, tx_web_curate /
    * tx_warc_curate (webCurateOracle) and src_warc replays, so the
    * fixture html cannot drift between them (each would fail its md5
    * compare loudly, but one spelling means there is nothing to
    * mis-mirror). Margin scheme: this fragment keeps `|` margins as
    * DATA (its own stripMargin runs on '#') because the HOSTS
    * stripMargin AFTER interpolation — a pre-stripped fragment whose
    * SQL lines start with `||` would lose a pipe to the host's strip.
    */
  private val pageHtmlCte: String =
    """h AS (SELECT doc_id,
      #|  '<html><head><script type="text/javascript">var nav = 1 < 2;</script><title>D'
      #|  || doc_id || '</title></head><body><h1>Doc ' || doc_id || '</h1>' ||
      #|  array_to_string(['<p>' || array_to_string(list_slice(w, i, i + 6), ' ')
      #|                   || '</p>' for i in range(1, len(w) + 1, 7)], '') ||
      #|  '<div class="nav">Home | About | Contact</div>' ||
      #|  '<p>&copy; 2026 &amp; EXAMPLE CORP</p></body></html>' AS html
      #|FROM d)""".stripMargin('#')

  /** tx_web_curate's full SQL replay, parameterized on the base-table
    * predicate: tx_warc_curate is the SAME chain over the docs that
    * survive the WARC container (parseable and status-200), so the two
    * oracles cannot drift.
    */
  /** The block-preserving HTML-extraction replay as one `e(doc_id,
    * text)` CTE over `h(doc_id, html)` — shared by [[webCurateOracle]]
    * and the tx_robots detection replay.
    */
  private val extractBlocksCte: String =
    """e AS (SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    replace(replace(replace(replace(replace(replace(
      |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
      |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
      |        '(?s)<!--.*?-->', ' ', 'g'),
      |        '(?i)<(?:br|hr)[^>]*>|</(?:p|div|h[1-6]|li|tr|table|ul|ol|blockquote)>',
      |        chr(10), 'g'),
      |        '<[^>]*>', ' ', 'g'),
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
      |    '[ \t]+', ' ', 'g'),
      |    ' ?\n ?', chr(10), 'g'),
      |    '\n{3,}', chr(10) || chr(10), 'g'),
      |    '^[\n ]+|[\n ]+$', '', 'g') AS text
      |FROM h)""".stripMargin

  private def webCurateOracle(where: String): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |           WHERE $where),
         |$pageHtmlCte,
         |$extractBlocksCte,
         |x AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM e),
         |t1 AS (SELECT doc_id, array_to_string(
         |        [l for l in ls if trim(l) = '' OR
         |          (len([tok for tok in regexp_split_to_array(trim(l), ' +')
         |                if regexp_matches(tok, '[A-Za-z0-9]')]) >= 5
         |           AND len(regexp_replace(l, '[^A-Za-z]', '', 'g')) > 0
         |           AND len(regexp_replace(l, '[^A-Z]', '', 'g'))
         |               / len(regexp_replace(l, '[^A-Za-z]', '', 'g')) <= 0.5)],
         |        chr(10)) AS text
         |      FROM x),
         |g0 AS (SELECT doc_id, text, string_split(text, ' ') AS tw,
         |         string_split(text, chr(10)) AS gl FROM t1),
         |g AS (SELECT doc_id, text,
         |        len(tw) AS n_words,
         |        round(length(replace(replace(text, chr(10), ''), ' ', '')) * 1.0 / len(tw), 4) AS awl,
         |        round(((length(text) - length(replace(text, '#', ''))) +
         |               (length(text) - length(replace(text, '…', '')))) * 1.0 / len(tw), 4) AS sym,
         |        round(len(list_filter(gl, l -> list_contains(['•', '‣', '-', '*'],
         |                 substr(ltrim(l), 1, 1)))) * 1.0 / len(gl), 4) AS bull,
         |        round(len(list_filter(gl, l -> ends_with(rtrim(l), '...')
         |                 OR ends_with(rtrim(l), '…'))) * 1.0 / len(gl), 4) AS ell,
         |        round(len(list_filter(tw, xx -> regexp_matches(xx, '[A-Za-z]'))) * 1.0 / len(tw), 4) AS alpha
         |      FROM g0),
         |p AS (SELECT doc_id, text FROM g
         |      WHERE n_words >= 10 AND n_words <= 100000
         |        AND awl >= 3.0 AND awl <= 10.0 AND sym <= 0.1
         |        AND bull <= 0.9 AND ell <= 0.3 AND alpha >= 0.8),
         |u AS (SELECT doc_id, text FROM p
         |      WHERE len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
         |              xx -> list_contains(['dup'], xx))) = 0),
         |l AS (SELECT doc_id, uu.p AS pos, uu.l AS line FROM
         |        (SELECT doc_id, unnest([{'p': i, 'l': ls2[i]}
         |                                for i in range(1, len(ls2) + 1)]) AS uu
         |         FROM (SELECT doc_id, string_split(text, chr(10)) AS ls2 FROM u))),
         |kk AS (SELECT doc_id, pos, line,
         |        (row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1
         |         OR trim(line) = '') AS keep
         |      FROM l),
         |r AS (SELECT doc_id,
         |        coalesce(array_to_string(
         |          list(line ORDER BY pos) FILTER (WHERE keep), chr(10)), '')
         |          AS text_final
         |      FROM kk GROUP BY doc_id),
         |sk AS (SELECT doc_id, text_final,
         |         md5(doc_id::VARCHAR || ':13') AS skey FROM r),
         |sa AS (SELECT doc_id, text_final, skey,
         |         (('0x' || substr(skey, 1, 8))::UBIGINT % 8)::INT AS shard FROM sk)
         |SELECT shard,
         |  (row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id))::INT AS seq,
         |  doc_id, text_final
         |FROM sa ORDER BY shard, seq""".stripMargin

  /** Shared by dd_line_dedup_inc AND dd_line_index (the persisted-index
    * probe must equal the in-memory incremental operator on the same
    * history/batch splits): history line set (doc_id % 3 ≠ 0) + batch
    * (doc_id % 2 = 0); a batch line drops when history has it or a
    * batch-earlier (doc, pos) occurrence does; blanks exempt; text
    * rebuilds.
    */
  private val lineDedupIncOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |           WHERE text IS NOT NULL),
      |l0 AS (SELECT doc_id,
      |         [array_to_string(list_slice(w, i, i + 6), ' ')
      |          for i in range(1, len(w) + 1, 7)] AS ls FROM d),
      |hl AS (SELECT DISTINCT u AS l FROM
      |         (SELECT unnest(ls) AS u FROM l0 WHERE doc_id % 3 <> 0)
      |       WHERE trim(u) <> ''),
      |b AS (SELECT doc_id, u.p AS p, u.l AS l FROM
      |        (SELECT doc_id, unnest([{'p': i, 'l': ls[i]}
      |                                for i in range(1, len(ls) + 1)]) AS u
      |         FROM l0 WHERE doc_id % 2 = 0)),
      |k AS (SELECT doc_id, p, l,
      |        trim(l) = '' AS blank,
      |        (trim(l) <> '' AND l IN (SELECT l FROM hl)) AS hist,
      |        (row_number() OVER (PARTITION BY l ORDER BY doc_id, p) = 1)
      |          AS first
      |      FROM b),
      |c AS (SELECT doc_id, p, l, hist,
      |        (blank OR (NOT hist AND first)) AS keep
      |      FROM k),
      |r AS (SELECT doc_id, count(*)::BIGINT AS n_lines,
      |        (count(*) FILTER (WHERE hist))::BIGINT AS n_removed_history,
      |        (count(*) FILTER (WHERE NOT hist AND NOT keep))::BIGINT
      |          AS n_removed_batch,
      |        coalesce(array_to_string(
      |          list(l ORDER BY p) FILTER (WHERE keep), chr(10)), '')
      |          AS text_dedup
      |      FROM c GROUP BY doc_id)
      |SELECT doc_id, n_lines, n_removed_history, n_removed_batch, text_dedup
      |FROM r ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // n/dim/positive-fraction recomputed; optimality and beats-majority
    // are the probe's model contracts (the ann_pca_flags pattern)
    "ann_probe" ->
      """SELECT count(*)::BIGINT AS n_vecs,
        | (SELECT len(embedding) FROM embeddings LIMIT 1)::INT AS dim,
        | round(avg(CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END), 6) + 0.0 AS pos_frac_r,
        | 1 AS optimality_ok, 1 AS separates_classes
        |FROM embeddings""".stripMargin,
    // the y-scaled moment path value-for-value per dimension
    "ann_probe_xty" ->
      """WITH e AS (SELECT embedding::DOUBLE[] AS v,
        |    CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y
        |  FROM embeddings),
        |d AS (SELECT len(v) AS d FROM e LIMIT 1),
        |ix AS (SELECT unnest(range(1, d + 1)) AS i FROM d)
        |SELECT i::INT AS i,
        |  round(sum(y * v[i]), 6) + 0.0 AS xty_r,
        |  round(sum(v[i]), 6) + 0.0 AS sv_r
        |FROM e, ix GROUP BY i ORDER BY i""".stripMargin,
    // identical count passes, identical double expression inside ln —
    // bigram total taken BEFORE the min-count filter on both sides
    "tx_pmi" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents
        |           WHERE text IS NOT NULL),
        |uni AS (SELECT w, count(*)::BIGINT AS c_w
        |        FROM (SELECT unnest(tk) AS w FROM t) WHERE w <> '' GROUP BY 1),
        |nu AS (SELECT sum(c_w)::BIGINT AS nu FROM uni),
        |bp AS (SELECT unnest([struct_pack(w1 := tk[i], w2 := tk[i + 1])
        |                     for i in range(1, len(tk))]) AS p
        |       FROM t WHERE len(tk) >= 2),
        |biall AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*)::BIGINT AS c_ab
        |          FROM bp WHERE p.w1 <> '' AND p.w2 <> '' GROUP BY 1, 2),
        |nb AS (SELECT sum(c_ab)::BIGINT AS nb FROM biall),
        |bi AS (SELECT * FROM biall WHERE c_ab >= 10)
        |SELECT bi.w1, bi.w2, bi.c_ab,
        |  round(ln((bi.c_ab::DOUBLE * nu.nu::DOUBLE * nu.nu::DOUBLE) /
        |           (a.c_w::DOUBLE * b.c_w::DOUBLE * nb.nb::DOUBLE)), 6) + 0.0 AS pmi_r
        |FROM bi JOIN uni a ON bi.w1 = a.w
        |        JOIN uni b ON bi.w2 = b.w, nu, nb
        |ORDER BY pmi_r DESC, w1, w2 LIMIT 20""".stripMargin,
    // the PNG synthesis formula → aHash bits → banded Hamming pairs,
    // replayed arithmetically end to end (PNG decode is lossless)
    "mm_phash" ->
      """WITH d AS (
        |  SELECT doc_id, (1 + doc_id % 8)::INT AS w, (1 + doc_id % 5)::INT AS h
        |  FROM documents
        |  WHERE (1 + doc_id % 8) * (1 + doc_id % 5) >= 30),
        |px AS (SELECT doc_id, w, h,
        |         [(doc_id * 31 + i) % 256 for i in range(0, (w * h)::INT)] AS pix
        |       FROM d),
        |hs AS (SELECT doc_id, w * h AS n,
        |         list_sum(pix) / (w * h) AS mean, pix
        |       FROM px),
        |hb AS (SELECT doc_id,
        |         list_sum([CASE WHEN pix[i + 1] > mean THEN (1::BIGINT << i)
        |                        ELSE 0 END
        |                   for i in range(0, n::INT)])::BIGINT AS ph
        |       FROM hs)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.ph, b.ph))::INT AS dist
        |FROM hb a JOIN hb b
        |  ON a.doc_id < b.doc_id AND bit_count(xor(a.ph, b.ph)) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    // the index lookup must equal the full-scan tokenize-and-filter
    "src_invidx" ->
      """SELECT doc_id, 2::BIGINT AS n_terms FROM documents
        |WHERE text IS NOT NULL
        |  AND list_contains(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 'join')
        |  AND list_contains(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 'vector')
        |ORDER BY doc_id""".stripMargin,
    // the diff must replay the committed changesets: m0 deleted in v1,
    // m1 rewritten in v1 (text changed), m2 inserted in v2
    "src_timetravel_cdf" ->
      """SELECT doc_id + 20000000 AS doc_id, 'added' AS change
        |FROM documents WHERE doc_id % 10 = 2
        |UNION ALL
        |SELECT doc_id, 'changed' FROM documents WHERE doc_id % 10 = 1
        |UNION ALL
        |SELECT doc_id, 'removed' FROM documents WHERE doc_id % 10 = 0
        |ORDER BY change, doc_id""".stripMargin,
    // pruning (deletion-neighborhood signatures) must be invisible —
    // the oracle is the all-pairs edit-distance join, same length filter
    "dd_editdist" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 40) AS p FROM documents
        |           WHERE text IS NOT NULL AND length(substr(text, 1, 40)) >= 30)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  levenshtein(a.p, b.p)::INT AS dist
        |FROM d a JOIN d b
        |  ON a.doc_id < b.doc_id
        |  AND abs(length(a.p) - length(b.p)) <= 2
        |  AND levenshtein(a.p, b.p) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    // the identical Cramer solve over the identical exact-integer
    // sufficient statistics — expression trees mirrored term for term
    "tx_probe" ->
      """WITH f AS (
        |  SELECT (length(text) - length(replace(text, ' ', '')))::BIGINT AS x1,
        |         (length(text) - length(replace(text, 'e', '')))::BIGINT AS x2,
        |         length(text)::BIGINT AS y
        |  FROM documents WHERE text IS NOT NULL),
        |st AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(x1)::BIGINT AS s1, sum(x2)::BIGINT AS s2, sum(y)::BIGINT AS sy,
        |    sum(x1 * x1)::BIGINT AS s11, sum(x1 * x2)::BIGINT AS s12,
        |    sum(x2 * x2)::BIGINT AS s22, sum(x1 * y)::BIGINT AS s1y,
        |    sum(x2 * y)::BIGINT AS s2y, sum(y * y)::BIGINT AS syy
        |  FROM f),
        |d AS (
        |  SELECT n::DOUBLE AS n, s1::DOUBLE AS s1, s2::DOUBLE AS s2,
        |    sy::DOUBLE AS sy, s11::DOUBLE AS s11, s12::DOUBLE AS s12,
        |    s22::DOUBLE AS s22, s1y::DOUBLE AS s1y, s2y::DOUBLE AS s2y,
        |    syy::DOUBLE AS syy
        |  FROM st),
        |dets AS (
        |  SELECT *,
        |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2) AS det,
        |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y) AS det0,
        |    n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2) AS det1,
        |    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2) AS det2
        |  FROM d),
        |b AS (SELECT *, det0 / det AS b0, det1 / det AS b1, det2 / det AS b2 FROM dets),
        |fit AS (SELECT *,
        |    syy - (b0 * sy + b1 * s1y + b2 * s2y) AS sse,
        |    syy - sy * sy / n AS sst
        |  FROM b)
        |SELECT n::BIGINT AS n_docs,
        |  round(b0, 6) + 0.0 AS b0, round(b1, 6) + 0.0 AS b1,
        |  round(b2, 6) + 0.0 AS b2,
        |  round(1.0 - sse / sst, 6) + 0.0 AS r2,
        |  round(sqrt(greatest(sse, 0.0) / n), 6) + 0.0 AS rmse
        |FROM fit""".stripMargin,
    // bloom pruning must be invisible to results — the oracle is the
    // plain content-key IN filter over the whole table
    "src_bloomskip" ->
      """WITH d AS (SELECT doc_id, source, substr(md5(text), 1, 16) AS content_key
        |           FROM documents),
        |k AS (SELECT content_key FROM d WHERE doc_id IN (7, 123, 251, 384, 449))
        |SELECT doc_id, source, content_key FROM d
        |WHERE content_key IN (SELECT content_key FROM k)
        |ORDER BY doc_id""".stripMargin,
    // each snapshot's state recomputed from the base table + the
    // deterministic changesets (delete m0 / rewrite m1, then insert m2)
    "src_timetravel" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |v1 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 1 THEN 'rev1 ' || doc_id ELSE text END AS text
        |       FROM base WHERE doc_id % 10 <> 0),
        |v2 AS (SELECT * FROM v1
        |       UNION ALL
        |       SELECT doc_id + 20000000, 'new ' || (doc_id + 20000000)
        |       FROM base WHERE doc_id % 10 = 2),
        |s0 AS (SELECT 0 AS version, count(*)::BIGINT AS n_rows,
        |         sum(('0x' || substr(md5(text), 1, 8))::BIGINT)::BIGINT AS content_sum
        |       FROM base),
        |s1 AS (SELECT 1, count(*)::BIGINT,
        |         sum(('0x' || substr(md5(text), 1, 8))::BIGINT)::BIGINT
        |       FROM v1),
        |s2 AS (SELECT 2, count(*)::BIGINT,
        |         sum(('0x' || substr(md5(text), 1, 8))::BIGINT)::BIGINT
        |       FROM v2)
        |SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |ORDER BY version""".stripMargin,
    "dd_exact" ->
      """SELECT min(doc_id) AS survivor_id, count(*)::BIGINT AS n_copies
        |FROM documents GROUP BY text ORDER BY survivor_id""".stripMargin,
    "dd_jaccard" ->
      """WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(len(list_intersect(a.toks, b.toks)) * 1.0 /
        |       len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jac
        |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin,
    "dd_embed" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b, round($cosSql, 6) AS cos
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE $cosSql >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,
    // 3-word shingles as a DuckDB list comprehension, mirroring the
    // native word_shingles builder (short texts collapse to one shingle
    // of all words — same as the Spark side)
    "dd_jaccard_join" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id,
         |        CASE WHEN len(w) >= 3
         |             THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                                 for i in range(1, len(w) - 1)])
         |             ELSE [array_to_string(w, ' ')] END AS sh
         |      FROM d),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |        len(list_intersect(a.sh, b.sh)) * 1.0 /
         |        len(list_distinct(list_concat(a.sh, b.sh))) AS j
         |      FROM s a JOIN s b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(j, 4) AS jaccard FROM p
         |WHERE j >= 0.8 ORDER BY id_a, id_b""".stripMargin,
    // transitive closure by recursive min-label walk over the symmetric
    // j>=0.8 pair graph (same shingle SQL as dd_jaccard_join); UNION
    // (not ALL) dedups rows so the recursion terminates
    "dd_components" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id,
         |        CASE WHEN len(w) >= 3
         |             THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                                 for i in range(1, len(w) - 1)])
         |             ELSE [array_to_string(w, ' ')] END AS sh
         |      FROM d),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |      FROM s a JOIN s b ON a.doc_id < b.doc_id
         |      WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
         |            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION ALL SELECT id_b, id_a FROM p),
         |walk(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, walk.comp FROM walk JOIN e ON e.src = walk.id),
         |cc AS (SELECT id AS doc_id, min(comp) AS component FROM walk GROUP BY 1)
         |SELECT cc.doc_id, cc.component, n.n_members
         |FROM cc JOIN (SELECT component, count(*) AS n_members FROM cc GROUP BY 1) n
         |  USING (component)
         |ORDER BY cc.doc_id""".stripMargin,
    // incremental maintenance must equal the full closure bit for bit —
    // the oracle IS the dd_components oracle
    "dd_components_inc" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id,
         |        CASE WHEN len(w) >= 3
         |             THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                                 for i in range(1, len(w) - 1)])
         |             ELSE [array_to_string(w, ' ')] END AS sh
         |      FROM d),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |      FROM s a JOIN s b ON a.doc_id < b.doc_id
         |      WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
         |            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION ALL SELECT id_b, id_a FROM p),
         |walk(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, walk.comp FROM walk JOIN e ON e.src = walk.id),
         |cc AS (SELECT id AS doc_id, min(comp) AS component FROM walk GROUP BY 1)
         |SELECT cc.doc_id, cc.component, n.n_members
         |FROM cc JOIN (SELECT component, count(*) AS n_members FROM cc GROUP BY 1) n
         |  USING (component)
         |ORDER BY cc.doc_id""".stripMargin,
    // the dd_components closure + the 4-dp quality contract score, with
    // the per-component argmax replayed as (q DESC, doc_id) rank 1
    "dd_canonical" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id,
         |        CASE WHEN len(w) >= 3
         |             THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                                 for i in range(1, len(w) - 1)])
         |             ELSE [array_to_string(w, ' ')] END AS sh
         |      FROM d),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |      FROM s a JOIN s b ON a.doc_id < b.doc_id
         |      WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
         |            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION ALL SELECT id_b, id_a FROM p),
         |walk(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, walk.comp FROM walk JOIN e ON e.src = walk.id),
         |cc AS (SELECT id AS doc_id, min(comp) AS component FROM walk GROUP BY 1),
         |q AS (SELECT doc_id,
         |        round(least(len(string_split(text, ' ')) * 1.0 / 50.0, 1.0) *
         |              (length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) * 1.0 /
         |               length(text)), 4) AS q
         |      FROM documents),
         |m AS (SELECT cc.component, cc.doc_id, q.q,
         |        row_number() OVER (PARTITION BY cc.component
         |                           ORDER BY q.q DESC NULLS LAST, cc.doc_id) AS rn,
         |        count(*) OVER (PARTITION BY cc.component) AS n_members
         |      FROM cc JOIN q USING (doc_id))
         |SELECT component, n_members, doc_id AS canonical_id, q AS canonical_q
         |FROM m WHERE rn = 1 ORDER BY component""".stripMargin,
    "dd_minhash_recall" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        CASE WHEN len(w) >= 3
        |             THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                                 for i in range(1, len(w) - 1)])
        |             ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM d)
        |SELECT count(*) AS n_exact, 0 AS n_missed, 0 AS n_precision_miss
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
        |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8""".stripMargin,
    // dd_lsh_index itself is banding-dependent (rows-only); this twin's
    // n_exact_new is the exact shingle-jaccard ground truth restricted
    // to batch-touching pairs, and the two zeros are the deterministic
    // maintenance-invisibility assertions (seeded hashes)
    "dd_lsh_index_check" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        CASE WHEN len(w) >= 3
        |             THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                                 for i in range(1, len(w) - 1)])
        |             ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM d)
        |SELECT count(*) AS n_exact_new, 0 AS n_missed, 0 AS n_diff_reband
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE (a.doc_id % 4 = 0 OR b.doc_id % 4 = 0)
        |  AND len(list_intersect(a.sh, b.sh)) * 1.0 /
        |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8""".stripMargin,
    // same contract over the APPENDED index — the gate's predicate is
    // identical (pairs touching the %4==0 generation)
    "dd_lsh_index_inc" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        CASE WHEN len(w) >= 3
        |             THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                                 for i in range(1, len(w) - 1)])
        |             ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM d)
        |SELECT count(*) AS n_exact_new, 0 AS n_missed, 0 AS n_diff_reband
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE (a.doc_id % 4 = 0 OR b.doc_id % 4 = 0)
        |  AND len(list_intersect(a.sh, b.sh)) * 1.0 /
        |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8""".stripMargin,
    // the hamming index's planted hash is pure integer arithmetic, so
    // the ENTIRE pair set replays in SQL — pigeonhole banding is
    // complete at maxDist < pieces, no S-curve, no count-twin needed
    "dd_hamming_index" ->
      """WITH h AS (SELECT doc_id,
        |  ((doc_id // 4) * 2654435761 % 1099511627776) * 4
        |    + (CASE WHEN doc_id % 4 = 3 THEN 0 ELSE doc_id % 4 END) AS hh
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.hh, b.hh)) AS INTEGER) AS dist
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE (a.doc_id % 7 = 0 OR b.doc_id % 7 = 0)
        |  AND bit_count(xor(a.hh, b.hh)) <= 2
        |ORDER BY 1, 2""".stripMargin,
    // identical expected set through the appended generation: history =
    // everything outside the %7==0 gate either way — an append bug
    // shows up as MISSING day-1 pairs, not a different oracle
    "dd_hamming_index_inc" ->
      """WITH h AS (SELECT doc_id,
        |  ((doc_id // 4) * 2654435761 % 1099511627776) * 4
        |    + (CASE WHEN doc_id % 4 = 3 THEN 0 ELSE doc_id % 4 END) AS hh
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.hh, b.hh)) AS INTEGER) AS dist
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE (a.doc_id % 7 = 0 OR b.doc_id % 7 = 0)
        |  AND bit_count(xor(a.hh, b.hh)) <= 2
        |ORDER BY 1, 2""".stripMargin,
    // the language-ID heuristic (argmax of per-profile stopword hits,
    // ties in profile order, zero hits → und) is itself SQL-expressible —
    // generated from the same Text.langProfiles so the two sides cannot
    // drift
    "dd_simhash_recall" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        CASE WHEN len(w) >= 3
        |             THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                                 for i in range(1, len(w) - 1)])
        |             ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM d)
        |SELECT count(*) AS n_high, 1 AS recall_floor_ok
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
        |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9""".stripMargin,
    "tx_langid" -> langIdOracle,
    "tx_fingerprint_stable" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        CASE WHEN len(w) >= 3
        |             THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                                 for i in range(1, len(w) - 1)])
        |             ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM d)
        |SELECT count(*) AS n_neardup_pairs, 0 AS n_low_overlap
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
        |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8""".stripMargin,
    "tx_pack" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |                        ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT lang, doc_id, n_tokens,
        | ((cum - n_tokens) // 512)::BIGINT AS chunk
        |FROM c ORDER BY lang, doc_id""".stripMargin,
    "mm_resize" ->
      """SELECT doc_id,
        | least(octet_length(encode(text)), 64)::INT AS resized_len,
        | octet_length(encode(text))::INT AS orig_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ann_brute" -> bruteTopKSql,
    "ann_hybrid" -> rrfHybridSql,
    "ann_lsh_exhaustive" -> bruteTopKSql,
    "ann_ivf_full" -> bruteTopKSql,
    // the persisted layout probing EVERY cell must equal brute force —
    // pins the on-disk assignment, the DPP probe join and the ranking
    "ann_ivf_layout_full" -> bruteTopKSql,
    // the zero-quantization-error regime must equal brute force on the
    // 256-vector subset — the same brute SQL over the restricted corpus
    "ann_ivfpq_full" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |           WHERE vec_id < 256),
         |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
         |scored AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS id, $cosSql AS c
         |  FROM (SELECT vec_id, v FROM q) a
         |  JOIN e b ON b.vec_id != a.vec_id),
         |ranked AS (
         |  SELECT qid, id, c,
         |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, id) AS rank
         |  FROM scored)
         |SELECT qid, id, rank::INT AS rank, round(c, 6) AS cos
         |FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "ann_ivfpq_recall" ->
      s"""SELECT count(*)::BIGINT AS n_brute, 1 AS recall_floor_ok
         |FROM ($bruteTopKSql)""".stripMargin,
    // the PERSISTED PQ index in the same zero-error regime: on-disk
    // codes + ADC scan + refine join must equal brute force
    "ann_pq_layout_full" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |           WHERE vec_id < 256),
         |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
         |scored AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS id, $cosSql AS c
         |  FROM (SELECT vec_id, v FROM q) a
         |  JOIN e b ON b.vec_id != a.vec_id),
         |ranked AS (
         |  SELECT qid, id, c,
         |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, id) AS rank
         |  FROM scored)
         |SELECT qid, id, rank::INT AS rank, round(c, 6) AS cos
         |FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // recall contracts for the DEFAULT approximate regimes: n_brute is
    // recomputed from the brute ranking; the floor flag is deterministic
    // (seeded hashes) and asserted as a constant
    "ann_lsh_recall" ->
      s"""SELECT count(*)::BIGINT AS n_brute, 1 AS recall_floor_ok
         |FROM ($bruteTopKSql)""".stripMargin,
    "ann_ivf_recall" ->
      s"""SELECT count(*)::BIGINT AS n_brute, 1 AS recall_floor_ok
         |FROM ($bruteTopKSql)""".stripMargin,
    "ann_pq_recall" ->
      s"""SELECT count(*)::BIGINT AS n_brute, 1 AS recall_floor_ok
         |FROM ($bruteTopKSql)""".stripMargin,
    "ann_pca_recall" ->
      s"""SELECT count(*)::BIGINT AS n_brute, 1 AS recall_floor_ok
         |FROM ($bruteTopKSql)""".stripMargin,
    // every covariance entry recomputed from scratch: cov(i,j) =
    // Σ v_i·v_j / n − μ_i·μ_j over the same vectors (population moment,
    // matching Pca.fit)
    "ann_pca_cov" ->
      """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (SELECT len(v) AS d FROM e LIMIT 1),
        |ij AS (SELECT a.i AS i, b.j AS j
        |       FROM (SELECT unnest(range(1, d + 1)) AS i FROM d) a,
        |            (SELECT unnest(range(1, d + 1)) AS j FROM d) b
        |       WHERE a.i <= b.j),
        |c AS (SELECT i, j,
        |        sum(v[i] * v[j]) / count(*) -
        |        (sum(v[i]) / count(*)) * (sum(v[j]) / count(*)) AS cov
        |      FROM e, ij GROUP BY i, j)
        |SELECT i::INT AS i, j::INT AS j, round(cov, 6) + 0.0 AS cov_r
        |FROM c ORDER BY i, j""".stripMargin,
    // n/dim recomputed; the model contracts are deterministic constants
    "ann_pca_flags" ->
      """SELECT count(*)::BIGINT AS n_vecs,
        | (SELECT len(embedding) FROM embeddings LIMIT 1)::INT AS dim,
        | 8 AS k, 1 AS ortho_ok, 1 AS eig_sorted_ok,
        | 1 AS proj_var_eq_eig_ok, 1 AS var_floor_ok
        |FROM embeddings""".stripMargin,
    // centered norms recomputed from the oracle's own per-dimension
    // means; the k=dim projection must preserve them (gap flag constant)
    "ann_pca_full" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (SELECT len(v) AS d FROM e LIMIT 1),
        |m AS (SELECT i, avg(v[i]) AS mu
        |      FROM e, (SELECT unnest(range(1, d + 1)) AS i FROM d)
        |      GROUP BY i),
        |c AS (SELECT vec_id, sum((v[i] - mu) * (v[i] - mu)) AS nsq
        |      FROM e, m GROUP BY vec_id)
        |SELECT vec_id, round(nsq, 4) AS norm_sq_r, 1 AS gap_ok
        |FROM c ORDER BY vec_id""".stripMargin,
    // int8 quantization arithmetic replayed exactly: same max, same
    // 127/max scale, same round-and-clamp, same reconstruction errors
    "ann_int8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        |s AS (SELECT vec_id, v,
        |        CASE WHEN mx = 0 THEN 1.0 ELSE 127.0 / mx END AS scale FROM m),
        |q AS (SELECT vec_id, v, scale,
        |        list_transform(v, x -> round(x * scale)::INT) AS qv FROM s)
        |SELECT vec_id,
        | list_sum(qv)::BIGINT AS q_sum,
        | round(scale, 6) AS scale_r,
        | round(list_max([abs(v[i] - qv[i] / scale) for i in range(1, len(v) + 1)]), 6) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,
    "q_asof_join" -> asofOracleSql,
    // identical semantics by construction — the bucketed variant must
    // reproduce the plain as-of bit-for-bit
    "q_asof_bucketed" -> asofOracleSql,
    "dd_embed_recall" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT count(*) AS n_exact, 0 AS n_precision_miss, 1 AS recall_floor_ok
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE $cosSql >= 0.4""".stripMargin,
    "tx_tokens" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tx_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text, length(text) AS n_chars,
        |    len(string_split(text, ' ')) AS n_words,
        |    len(list_filter(string_split(text, ' '), w -> list_contains(
        |      ['the','and','of','to','in','is','that','it','was','for','a','on'], w))) AS n_stop,
        |    length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_alnum
        |  FROM documents)
        |SELECT doc_id, n_chars, n_words,
        | round(length(replace(replace(text, chr(10), ''), ' ', '')) * 1.0 / n_words, 4) AS avg_word_len,
        | round(n_stop * 1.0 / n_words, 4) AS stop_ratio,
        | round(n_alnum * 1.0 / n_chars, 4) AS alnum_ratio,
        | round(least(n_words * 1.0 / 50.0, 1.0) * (n_alnum * 1.0 / n_chars), 4) AS quality
        |FROM t ORDER BY doc_id""".stripMargin,
    // word histogram via unnest/group-by, 3-grams via the same list
    // comprehension as the shingle oracles; dup positions = every
    // occurrence of a gram whose count exceeds 1
    "tx_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wc AS (SELECT doc_id, word, count(*) AS c
        |       FROM (SELECT doc_id, unnest(w) AS word FROM d) GROUP BY 1, 2),
        |agg AS (SELECT doc_id, max(c) AS top_c, count(*) AS n_distinct, sum(c) AS n_words
        |        FROM wc GROUP BY 1),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 3
        |           THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
        |           ELSE [] END AS grams FROM d),
        |gc AS (SELECT doc_id, gram, count(*) AS c
        |       FROM (SELECT doc_id, unnest(grams) AS gram FROM g) GROUP BY 1, 2),
        |gagg AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_pos,
        |                sum(c) AS n_grams
        |         FROM gc GROUP BY 1)
        |SELECT a.doc_id,
        | a.n_words::BIGINT AS n_words,
        | round(a.top_c * 1.0 / a.n_words, 4) AS top_word_frac,
        | round((a.n_words - a.n_distinct) * 1.0 / a.n_words, 4) AS dup_word_frac,
        | round(CASE WHEN coalesce(gg.n_grams, 0) = 0 THEN 0.0
        |       ELSE gg.dup_pos * 1.0 / gg.n_grams END, 4) AS dup_3gram_frac
        |FROM agg a LEFT JOIN gagg gg ON a.doc_id = gg.doc_id
        |ORDER BY a.doc_id""".stripMargin,
    "tx_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (((doc_id % 1000000007) * 654435747 + 0) % 1000000007)::DOUBLE <
        |      (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 WHEN 'fr' THEN 1.0
        |            ELSE 0.1 END) * 1000000007.0
        |ORDER BY doc_id""".stripMargin,
    // the reservoir selection replayed as a window: same integer draw
    // (the reduced-mod spelling), k smallest per stratum, id tie-break
    "tx_reservoir" ->
      """WITH d AS (SELECT source AS stratum, doc_id,
        |    ((doc_id % 1000000007) * 654435747 + 0) % 1000000007 AS draw
        |  FROM documents),
        |r AS (SELECT stratum, doc_id, draw,
        |    row_number() OVER (PARTITION BY stratum ORDER BY draw, doc_id) AS rn
        |  FROM d)
        |SELECT stratum, doc_id, draw FROM r WHERE rn <= 10
        |ORDER BY stratum, doc_id""".stripMargin,
    "tx_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, w, unnest(range(0, len(w), 12)) AS s FROM d)
        |SELECT doc_id, (s // 12)::INT AS chunk_idx,
        | len(list_slice(w, s + 1, s + 16))::INT AS n_chunk_tokens,
        | array_to_string(list_slice(w, s + 1, s + 16), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "tx_bpe" -> bpeOracleSql(10),
    "tx_bpe_apply" -> bpeApplyOracleSql(10),
    "tx_curate" -> curateOracleSql,
    // 8-word gram sets with the same distinct/short-text collapse as the
    // native word_shingles builder; eval = doc_id % 97 = 0
    "tx_decontam" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        CASE WHEN len(w) >= 8
        |             THEN list_distinct([array_to_string(list_slice(w, i, i + 7), ' ')
        |                                 for i in range(1, len(w) - 6)])
        |             ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM d),
        |eg AS (SELECT DISTINCT unnest(sh) AS gram FROM s WHERE doc_id % 97 = 0),
        |tg AS (SELECT doc_id, unnest(sh) AS gram FROM s WHERE doc_id % 97 <> 0),
        |h AS (SELECT doc_id, count(*) AS n_hit FROM tg JOIN eg USING (gram) GROUP BY 1)
        |SELECT t.doc_id, coalesce(h.n_hit, 0)::BIGINT AS n_hit_grams,
        |       CASE WHEN coalesce(h.n_hit, 0) > 0 THEN 1 ELSE 0 END AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) t
        |LEFT JOIN h USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // all-pairs train×eval cosine with the lower-eval-id argmax tie-break;
    // the 0.95 flag compares on the unrounded double in both engines
    "tx_decontam_vec" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |ev AS (SELECT vec_id, v FROM e WHERE vec_id % 97 = 0),
         |tr AS (SELECT vec_id, v FROM e WHERE vec_id % 97 <> 0),
         |sc AS (SELECT a.vec_id AS id, b.vec_id AS rid, $cosSql AS c
         |       FROM tr a CROSS JOIN ev b),
         |r AS (SELECT id, rid, c,
         |        row_number() OVER (PARTITION BY id ORDER BY c DESC, rid) AS rn
         |      FROM sc)
         |SELECT id AS vec_id, rid AS eval_id, round(c, 6) AS max_cos,
         |  CASE WHEN c >= 0.95 THEN 1 ELSE 0 END AS contaminated
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // both engines implement UAX #15 NFC; chr(769) = U+0301 COMBINING
    // ACUTE, so each injected 'e'+chr(769) pair composes to one code
    // point and the md5 of the normalized bytes must agree exactly
    "tx_nfc" ->
      """WITH t AS (SELECT doc_id,
        |    text || ' ' || repeat('e' || chr(769), (doc_id % 3 + 1)::INT) AS dirty
        |  FROM documents),
        |n AS (SELECT doc_id, dirty, nfc_normalize(dirty) AS nfc FROM t)
        |SELECT doc_id, length(dirty)::INT AS len_raw, length(nfc)::INT AS len_nfc,
        |  md5(nfc) AS nfc_md5,
        |  CASE WHEN length(nfc) <> length(dirty) THEN 1 ELSE 0 END AS changed
        |FROM n ORDER BY doc_id""".stripMargin,
    // DuckDB has no nfkc_normalize — the oracle rebuilds the EXPECTED
    // normalized text from the same planted formula with the UAX #15
    // compatibility mappings spelled literally (ASCII corpus text is
    // NFKC-invariant; the space boundary blocks cross composition), so
    // md5 equality certifies the engine's NFKC on every row
    "tx_nfkc" ->
      """WITH t AS (SELECT doc_id,
        |    text || ' ' || CASE (doc_id % 6)::INT
        |      WHEN 0 THEN 'Ａ' WHEN 1 THEN 'ﬁ' WHEN 2 THEN '²'
        |      WHEN 3 THEN '№' WHEN 4 THEN 'ﬀ' ELSE '①' END AS dirty,
        |    text || ' ' || CASE (doc_id % 6)::INT
        |      WHEN 0 THEN 'A' WHEN 1 THEN 'fi' WHEN 2 THEN '2'
        |      WHEN 3 THEN 'No' WHEN 4 THEN 'ff' ELSE '1' END AS norm
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, length(dirty)::INT AS len_raw,
        |  length(norm)::INT AS len_nfkc, md5(norm) AS nfkc_md5,
        |  1 AS changed
        |FROM t ORDER BY doc_id""".stripMargin,
    // DuckDB has no encoding repair — the oracle plants the SAME dirty
    // mojibake forms from the shared tables and rebuilds the EXPECTED
    // healed text with the clean characters spelled literally (ASCII
    // corpus text is repair-invariant; each corruption is its own
    // space-delimited token); md5 certifies the repair per row
    "tx_mojibake" -> {
      def kase(n: Int, vals: Seq[String]): String =
        s"CASE (doc_id % $n)::INT " + vals.zipWithIndex.map {
          case (v, i) => s"WHEN $i THEN '$v'" }.mkString(" ") + " END"
      s"""WITH t AS (SELECT doc_id,
         |    text || ' ' || ${kase(6, mojiSingleDirty)}
         |         || ' ' || ${kase(3, mojiDoubleDirty)} AS dirty,
         |    text || ' ' || ${kase(6, mojiSingleClean)}
         |         || ' ' || ${kase(3, mojiDoubleClean)} AS clean
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id, length(dirty)::INT AS len_raw,
         |  length(clean)::INT AS len_fixed, md5(clean) AS fixed_md5,
         |  CASE WHEN clean <> dirty THEN 1 ELSE 0 END AS changed
         |FROM t ORDER BY doc_id""".stripMargin
    },
    // every readability input recounted with regex/replace spellings;
    // formulas re-derived with e0-forced DOUBLE literals in the same
    // left-associative op order, so the 4-dp rounds agree
    "tx_readability" ->
      """WITH t AS (SELECT doc_id, text,
        |    [w for w in regexp_split_to_array(text, '[ \t\n\r]+') if w <> ''] AS toks,
        |    len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS vr,
        |    (length(text) - length(replace(text, '.', '')))
        |      + (length(text) - length(replace(text, '!', '')))
        |      + (length(text) - length(replace(text, '?', ''))) AS enders
        |  FROM documents WHERE text IS NOT NULL),
        |u AS (SELECT doc_id,
        |    len(toks)::BIGINT AS n_words,
        |    greatest(enders, 1)::BIGINT AS n_sentences,
        |    (vr + len([w for w in toks
        |               if NOT regexp_matches(w, '[aeiouyAEIOUY]')]))::BIGINT AS n_syllables
        |  FROM t)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN round(206.835e0
        |    - 1.015e0 * n_words / n_sentences
        |    - 84.6e0 * n_syllables / n_words, 4) END AS flesch,
        |  CASE WHEN n_words > 0 THEN round(0.39e0 * n_words / n_sentences
        |    + 11.8e0 * n_syllables / n_words - 15.59e0, 4) END AS fk_grade
        |FROM u ORDER BY doc_id""".stripMargin,
    // tx_compress is rows-only (zlib bytes aren't SQL-expressible);
    // this twin's invariants must all be the literal 1
    "tx_compress_check" ->
      """SELECT doc_id, 1 AS rt_ok, 1 AS bound_ok, 1 AS double_ok,
        |  1 AS rep_ok
        |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin,
    // same textbook Levenshtein DP in both engines — integer distances;
    // argmin tie-break is (dist, entry) lexicographic on ASCII labels
    "tx_fuzzy" ->
      """WITH d AS (SELECT doc_id,
        |    substr(source, 1, (doc_id % length(source))::INT) ||
        |    substr(source, (doc_id % length(source))::INT + 2) AS dirty
        |  FROM documents),
        |dict AS (SELECT DISTINCT source FROM documents),
        |sc AS (SELECT doc_id, dirty, source, levenshtein(dirty, source) AS dist
        |       FROM d CROSS JOIN dict),
        |r AS (SELECT doc_id, dirty, source, dist,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY dist, source) AS rn
        |      FROM sc)
        |SELECT doc_id, dirty, source AS matched, dist::INT AS dist
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // identical injected string on both sides; RE2 'g' replace mirrors
    // Spark's replace-all; md5 hex agrees across engines
    "tx_pii" ->
      """WITH t AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@example.com from 10.' || (doc_id % 256)
        |       || '.' || ((doc_id * 7) % 256) || '.4 call +1-555-'
        |       || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS s
        |  FROM documents)
        |SELECT doc_id,
        | len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT AS n_email,
        | len(regexp_extract_all(s, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))::INT AS n_ip,
        | len(regexp_extract_all(s, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}'))::INT AS n_phone,
        | md5(regexp_replace(regexp_replace(regexp_replace(s,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |      '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrub_md5
        |FROM t ORDER BY doc_id""".stripMargin,
    "dd_incremental" ->
      """SELECT doc_id,
        |  CASE WHEN text IN (SELECT text FROM documents WHERE doc_id % 3 <> 0)
        |       THEN 0 ELSE 1 END AS is_new
        |FROM documents WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin,
    // same add-1-smoothed unigram models refit in SQL; integer counts
    // divide as DOUBLE once n_t/n_r/v are cast
    "tx_dsir" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |cw AS (SELECT w, count(*) AS c_r,
        |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
        |       FROM tok GROUP BY w),
        |st AS (SELECT sum(c_r)::DOUBLE AS n_r, sum(c_t)::DOUBLE AS n_t,
        |         count(*)::DOUBLE AS v FROM cw),
        |lw AS (SELECT w, ln((c_t + 1) / (n_t + v)) - ln((c_r + 1) / (n_r + v)) AS lw
        |       FROM cw, st),
        |dt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w)
        |SELECT doc_id, sum(c)::BIGINT AS n_tokens, round(sum(c * lw), 4) AS dsir_logw
        |FROM dt JOIN lw USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // injection + C4 normalization replayed; grouping on the normalized
    // text itself (the Spark side groups its md5 — same partition)
    "dd_normalized" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, upper(text) || ' !!' AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |n AS (SELECT doc_id,
        |        trim(regexp_replace(regexp_replace(lower(text),
        |             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nt
        |      FROM aug)
        |SELECT min(doc_id) AS survivor_id, count(*)::BIGINT AS n_copies
        |FROM n GROUP BY nt ORDER BY survivor_id""".stripMargin,
    // brute top-k with the label inequality fused into the join
    "ann_hardneg" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id, label, v FROM e WHERE vec_id < 5),
         |scored AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS id, b.label AS neg_label, $cosSql AS c
         |  FROM q a JOIN e b
         |    ON b.vec_id != a.vec_id AND b.label IS DISTINCT FROM a.label),
         |ranked AS (
         |  SELECT qid, id, neg_label, c,
         |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, id) AS rank
         |  FROM scored)
         |SELECT qid, id, rank::INT AS rank, round(c, 6) AS cos, neg_label
         |FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "ann_mmr" -> mmrOracle,
    // dd_components' closure + the exact-integer hash split decision on
    // the component label
    "tx_split" ->
      """WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        CASE WHEN len(w) >= 3
        |             THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                                 for i in range(1, len(w) - 1)])
        |             ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM d),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |      FROM s a JOIN s b ON a.doc_id < b.doc_id
        |      WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
        |            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |walk(id, comp) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, walk.comp FROM walk JOIN e ON e.src = walk.id),
        |cc AS (SELECT id AS doc_id, min(comp) AS component FROM walk GROUP BY 1)
        |SELECT doc_id, component,
        |  CASE WHEN (((component % 1000000007) * 654435747 + 0) % 1000000007)::DOUBLE <
        |            0.1 * 1000000007.0
        |       THEN 'val' ELSE 'train' END AS split
        |FROM cc ORDER BY doc_id""".stripMargin,
    // SemDeDup exhaustive regime: exact all-pairs cosine closure via a
    // recursive CTE, singletons included, min-id survivor per group
    "dd_semantic_full" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |      FROM e a JOIN e b ON b.vec_id > a.vec_id
         |      WHERE $cosSql >= 0.4),
         |ed AS (SELECT id_a AS src, id_b AS dst FROM p
         |       UNION ALL SELECT id_b, id_a FROM p),
         |walk(id, comp) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT ed.dst, walk.comp FROM walk JOIN ed ON ed.src = walk.id),
         |cc AS (SELECT id, min(comp) AS comp FROM walk GROUP BY 1)
         |SELECT comp AS survivor_id, count(*)::BIGINT AS n_members
         |FROM cc GROUP BY comp ORDER BY survivor_id""".stripMargin,
    // group count from the same closure; the refinement flag is
    // deterministic (clustered pairs ⊆ exact pairs) and asserted constant
    "dd_semantic_refine" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |      FROM e a JOIN e b ON b.vec_id > a.vec_id
         |      WHERE $cosSql >= 0.4),
         |ed AS (SELECT id_a AS src, id_b AS dst FROM p
         |       UNION ALL SELECT id_b, id_a FROM p),
         |walk(id, comp) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT ed.dst, walk.comp FROM walk JOIN ed ON ed.src = walk.id),
         |cc AS (SELECT id, min(comp) AS comp FROM walk GROUP BY 1)
         |SELECT count(DISTINCT comp)::BIGINT AS n_exact_groups, 1 AS refinement_ok
         |FROM cc""".stripMargin,
    // tf/df/N refit; 0-based lockstep positions mirror posexplode; the
    // 4-dp-rounded score and first-occurrence tie-break replayed
    "tx_keywords" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pw AS (SELECT doc_id,
        |         unnest(w) AS word,
        |         unnest(range(0, len(w))) AS pos
        |       FROM t),
        |tf AS (SELECT doc_id, word, count(*) AS tf, min(pos) AS fpos
        |       FROM pw GROUP BY doc_id, word),
        |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |sc AS (SELECT doc_id, word, fpos,
        |         round(tf * ln(n.n / df), 4) AS tfidf
        |       FROM tf JOIN dfreq USING (word) CROSS JOIN n),
        |r AS (SELECT doc_id, word, tfidf,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, fpos) AS rank
        |      FROM sc)
        |SELECT doc_id, rank::INT AS rank, word, tfidf
        |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,
    // per-source α-temperature rates recomputed from the data, then the
    // exact-integer hash decision replayed per row
    "tx_mixture" ->
      """WITH c AS (SELECT source, count(*)::DOUBLE AS n FROM documents
        |           WHERE source IS NOT NULL GROUP BY source),
        |t AS (SELECT sum(pow(n, 0.5)) AS tp FROM c),
        |r AS (SELECT source, least(1.0, 300.0 * pow(n, 0.5) / tp / n) AS rate FROM c, t)
        |SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
        |WHERE (((d.doc_id % 1000000007) * 654435747 + 7) % 1000000007)::DOUBLE < rate * 1000000007.0
        |ORDER BY doc_id""".stripMargin,
    // centroids refit per (label, dim) via lockstep unnest, reassembled
    // ordered, every cosine recomputed
    "ann_centroid" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (SELECT label, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS i FROM e),
        |m AS (SELECT label, i, sum(x) / count(*) AS c FROM d GROUP BY label, i),
        |cl AS (SELECT label, list(c ORDER BY i) AS cv FROM m GROUP BY label)
        |SELECT e.vec_id, e.label,
        |  round(list_dot_product(e.v, cl.cv) /
        |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cl.cv, cl.cv))), 6) AS proto_cos
        |FROM e JOIN cl USING (label) ORDER BY e.vec_id""".stripMargin,
    // 10-NN majority vote: ranking, vote counts, (votes desc, label asc)
    // argmax and the correctness flag all replayed
    "ann_knn_label" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id, label, v FROM e WHERE vec_id < 50),
         |scored AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS id, b.label AS nl, $cosSql AS c
         |  FROM q a JOIN e b ON b.vec_id != a.vec_id),
         |ranked AS (
         |  SELECT qid, id, nl,
         |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, id) AS rank
         |  FROM scored),
         |votes AS (SELECT qid, nl, count(*) AS v FROM ranked WHERE rank <= 10
         |          GROUP BY qid, nl),
         |sel AS (SELECT qid, nl, v,
         |          row_number() OVER (PARTITION BY qid ORDER BY v DESC, nl) AS rn
         |        FROM votes)
         |SELECT s.qid, s.nl AS pred_label, s.v::BIGINT AS n_votes,
         |       (s.nl = q.label)::INT AS correct
         |FROM sel s JOIN q ON q.vec_id = s.qid WHERE s.rn = 1 ORDER BY s.qid""".stripMargin,
    // interpolated bigram LM refit in SQL: lockstep-unnested bigram
    // pairs, add-1 counts from the en slice, identical IEEE probability
    // expression per bigram
    "tx_perplexity" ->
      """WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, lang,
        |        unnest([w[i] for i in range(1, len(w))]) AS v,
        |        unnest([w[i+1] for i in range(1, len(w))]) AS ww
        |       FROM tok),
        |uni AS (SELECT ww, count(*) AS cu
        |        FROM (SELECT unnest(w) AS ww FROM tok WHERE lang = 'en')
        |        GROUP BY ww),
        |bi AS (SELECT v, ww, count(*) AS cb FROM bg WHERE lang = 'en' GROUP BY v, ww),
        |st AS (SELECT sum(cu)::DOUBLE AS n, count(*)::DOUBLE AS vo FROM uni),
        |sc AS (SELECT g.doc_id,
        |         0.7 * (coalesce(b.cb, 0) + 1) / (coalesce(uv.cu, 0) + st.vo)
        |         + (1.0 - 0.7) * (coalesce(uw.cu, 0) + 1) / (st.n + st.vo) AS p
        |       FROM bg g
        |       LEFT JOIN uni uw ON uw.ww = g.ww
        |       LEFT JOIN uni uv ON uv.ww = g.v
        |       LEFT JOIN bi b ON b.v = g.v AND b.ww = g.ww
        |       CROSS JOIN st)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams, round(-sum(ln(p)), 4) AS nll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // 12-word spans; doc frequency over per-doc-distinct postings
    "dd_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        CASE WHEN len(w) >= 12
        |             THEN list_distinct([array_to_string(list_slice(w, i, i + 11), ' ')
        |                                 for i in range(1, len(w) - 10)])
        |             ELSE [array_to_string(w, ' ')] END AS sh
        |      FROM d),
        |p AS (SELECT doc_id, unnest(sh) AS span FROM s),
        |dup AS (SELECT span FROM p GROUP BY span HAVING count(*) >= 2),
        |pd AS (SELECT doc_id, count(*) AS n_dup FROM p JOIN dup USING (span) GROUP BY 1)
        |SELECT s.doc_id, len(s.sh)::INT AS n_spans,
        |       coalesce(pd.n_dup, 0)::BIGINT AS n_dup_spans
        |FROM s LEFT JOIN pd USING (doc_id) ORDER BY s.doc_id""".stripMargin,
    "dd_span_coverage" ->
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
        |           WHERE text IS NOT NULL AND source IS NOT NULL),
        |g AS (SELECT doc_id, source, unnest(
        |        CASE WHEN len(w) >= 5
        |             THEN [{'p': i, 'g': array_to_string(list_slice(w, i, i + 4), ' ')}
        |                   for i in range(1, len(w) - 3)]
        |             ELSE [] END) AS u
        |      FROM d),
        |o AS (SELECT doc_id, source, u.p AS p, u.g AS g FROM g),
        |dup AS (SELECT g FROM o GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT doc_id, source, unnest(range(p, p + 5)) AS cp
        |        FROM o JOIN dup USING (g)),
        |covs AS (SELECT source, count(*)::BIGINT AS n_covered FROM cov GROUP BY 1),
        |tot AS (SELECT source, count(*)::BIGINT AS n_docs,
        |               sum(len(w))::BIGINT AS n_words FROM d GROUP BY 1)
        |SELECT tot.source, tot.n_docs, tot.n_words,
        |  coalesce(covs.n_covered, 0)::BIGINT AS n_covered,
        |  round(coalesce(covs.n_covered, 0) / tot.n_words, 6) AS coverage
        |FROM tot LEFT JOIN covs USING (source) ORDER BY tot.source""".stripMargin,
    // 8-word spans shared by >=2 distinct docs; covered positions
    // union per doc (1-based here, 0-based in Spark — same set), then
    // the text rebuilds from the surviving words
    "dd_span_scrub" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, unnest(
        |        CASE WHEN len(w) >= 8
        |             THEN [{'p': i, 'g': array_to_string(list_slice(w, i, i + 7), ' ')}
        |                   for i in range(1, len(w) - 6)]
        |             ELSE [] END) AS u
        |      FROM d),
        |o AS (SELECT doc_id, u.p AS p, u.g AS g FROM g),
        |dup AS (SELECT g FROM o GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 8)) AS cp
        |        FROM o JOIN dup USING (g)),
        |cl AS (SELECT doc_id, list(cp) AS cps FROM cov GROUP BY doc_id),
        |r AS (SELECT d.doc_id, len(d.w) AS n_words,
        |        CASE WHEN cl.cps IS NULL THEN d.w
        |             ELSE [d.w[i] for i in range(1, len(d.w) + 1)
        |                   if NOT list_contains(cl.cps, i)] END AS kept
        |      FROM d LEFT JOIN cl USING (doc_id))
        |SELECT doc_id, n_words::BIGINT AS n_words,
        |  (n_words - len(kept))::BIGINT AS n_removed,
        |  round((n_words - len(kept)) / n_words, 6) AS removed_frac,
        |  coalesce(array_to_string(kept, ' '), '') AS text_scrubbed
        |FROM r ORDER BY doc_id""".stripMargin,
    // chained any-length scrub at two detection windows: plant the
    // 40-word passage, replay gram DF per n, merge covered positions
    // into islands (gaps-and-islands ≡ the interval fold) and gate at
    // the 30-word chain length before excision
    "dd_span_scrub_long" ->
      s"""SELECT * FROM (${spanScrubLongBlock(5)})
         |UNION ALL SELECT * FROM (${spanScrubLongBlock(12)})
         |ORDER BY n, doc_id""".stripMargin,
    // rebuild 7-word lines, then keep only each distinct line's global
    // (doc, position) FIRST occurrence — CCNet paragraph-dedup replay
    "dd_line_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE text IS NOT NULL),
        |l0 AS (SELECT doc_id,
        |         [array_to_string(list_slice(w, i, i + 6), ' ')
        |          for i in range(1, len(w) + 1, 7)] AS ls FROM d),
        |l AS (SELECT doc_id, u.p AS p, u.l AS l FROM
        |        (SELECT doc_id, unnest([{'p': i, 'l': ls[i]}
        |                                for i in range(1, len(ls) + 1)]) AS u
        |         FROM l0)),
        |k AS (SELECT doc_id, p, l,
        |        (row_number() OVER (PARTITION BY l ORDER BY doc_id, p) = 1
        |         OR trim(l) = '') AS keep
        |      FROM l),
        |r AS (SELECT doc_id, count(*)::BIGINT AS n_lines,
        |        (count(*) FILTER (WHERE NOT keep))::BIGINT AS n_removed,
        |        coalesce(array_to_string(
        |          list(l ORDER BY p) FILTER (WHERE keep), chr(10)), '')
        |          AS text_dedup
        |      FROM k GROUP BY doc_id)
        |SELECT doc_id, n_lines, n_removed,
        |  round(n_removed / n_lines, 6) AS removed_frac, text_dedup
        |FROM r ORDER BY doc_id""".stripMargin,
    "dd_line_dedup_inc" -> lineDedupIncOracle,
    // the persisted-index probe must EQUAL the in-memory incremental
    // operator on the same splits — identical replay string
    "dd_line_index" -> lineDedupIncOracle,
    // two-stage lifecycle: B1 (doc_id ≡ 0 mod 6) vs history H (doc_id %
    // 3 ≠ 0), then B2 (≡ 3 mod 6) vs H ∪ B1-lines — the append folds
    // kept(B1) in, and lines(H ∪ kept(B1)) = lines(H ∪ B1)
    "dd_line_index_inc" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE text IS NOT NULL),
        |l0 AS (SELECT doc_id,
        |         [array_to_string(list_slice(w, i, i + 6), ' ')
        |          for i in range(1, len(w) + 1, 7)] AS ls FROM d),
        |hl1 AS (SELECT DISTINCT u AS l FROM
        |          (SELECT unnest(ls) AS u FROM l0 WHERE doc_id % 3 <> 0)
        |        WHERE trim(u) <> ''),
        |hl2 AS (SELECT DISTINCT u AS l FROM
        |          (SELECT unnest(ls) AS u FROM l0
        |           WHERE doc_id % 3 <> 0 OR doc_id % 6 = 0)
        |        WHERE trim(u) <> ''),
        |b1 AS (SELECT doc_id, u.p AS p, u.l AS l FROM
        |         (SELECT doc_id, unnest([{'p': i, 'l': ls[i]}
        |                                 for i in range(1, len(ls) + 1)]) AS u
        |          FROM l0 WHERE doc_id % 6 = 0)),
        |b2 AS (SELECT doc_id, u.p AS p, u.l AS l FROM
        |         (SELECT doc_id, unnest([{'p': i, 'l': ls[i]}
        |                                 for i in range(1, len(ls) + 1)]) AS u
        |          FROM l0 WHERE doc_id % 6 = 3)),
        |k1 AS (SELECT doc_id, p, l,
        |         trim(l) = '' AS blank,
        |         (trim(l) <> '' AND l IN (SELECT l FROM hl1)) AS hist,
        |         (row_number() OVER (PARTITION BY l ORDER BY doc_id, p) = 1)
        |           AS first
        |       FROM b1),
        |k2 AS (SELECT doc_id, p, l,
        |         trim(l) = '' AS blank,
        |         (trim(l) <> '' AND l IN (SELECT l FROM hl2)) AS hist,
        |         (row_number() OVER (PARTITION BY l ORDER BY doc_id, p) = 1)
        |           AS first
        |       FROM b2),
        |c AS (SELECT doc_id, p, l, hist,
        |        (blank OR (NOT hist AND first)) AS keep
        |      FROM (SELECT * FROM k1 UNION ALL SELECT * FROM k2)),
        |r AS (SELECT doc_id, count(*)::BIGINT AS n_lines,
        |        (count(*) FILTER (WHERE hist))::BIGINT AS n_removed_history,
        |        (count(*) FILTER (WHERE NOT hist AND NOT keep))::BIGINT
        |          AS n_removed_batch,
        |        coalesce(array_to_string(
        |          list(l ORDER BY p) FILTER (WHERE keep), chr(10)), '')
        |          AS text_dedup
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id, n_lines, n_removed_history, n_removed_batch, text_dedup
        |FROM r ORDER BY doc_id""".stripMargin,
    // synthesize the HTML page, then replay the extraction chain:
    // script/style/comment drop, tags to spaces, entities decode
    // (&amp; last), whitespace collapses
    "tx_html" ->
      ("""WITH h AS (SELECT doc_id,
        |  '<html><head><title>Doc ' || doc_id ||
        |  '</title><script type="text/javascript">var x = 1; if (x < 2) { x = 3; }</script>' ||
        |  '<style type="text/css">.main { color: #333; }</style></head>' ||
        |  '<body class="doc"><h1>Doc &#39;' || doc_id ||
        |  '&#39;</h1><!-- crawl note --><p>' ||
        |  replace(text, ' data ', ' &amp;data&lt;x&gt; ') ||
        |  '</p><br/><div id="footer">&nbsp;&amp;quot;fin&quot;</div></body></html>'
        |  AS html FROM documents WHERE text IS NOT NULL),
        |e AS (SELECT doc_id, length(html)::BIGINT AS n_chars_html,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS text_plain
        |  FROM h)
        |SELECT doc_id, n_chars_html, length(text_plain)::BIGINT AS n_chars_plain,
        |  text_plain
        |FROM e ORDER BY doc_id""").stripMargin,
    // Gopher shape rules: rebuild the 7-word chunk lines with the
    // deterministic bullet/ellipsis injection, then replay every facet
    // — counts via non-regex replace, bullets/ellipses via list_filter,
    // alpha words via the regex twin of the native letter_count — and
    // the pass flag on the ROUNDED facets at the entry's thresholds
    "tx_gopher" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE text IS NOT NULL),
        |l0 AS (SELECT doc_id,
        |         [CASE WHEN ((i - 1) // 7) % 4 = 1 THEN '• ' ELSE '' END ||
        |          array_to_string(list_slice(w, i, i + 6), ' ') ||
        |          CASE WHEN ((i - 1) // 7) % 5 = 2 THEN ' ...' ELSE '' END
        |          for i in range(1, len(w) + 1, 7)] AS ls FROM d),
        |t AS (SELECT doc_id, ls, array_to_string(ls, chr(10)) AS text FROM l0),
        |t2 AS (SELECT doc_id, ls, text, string_split(text, ' ') AS tw FROM t),
        |f AS (SELECT doc_id,
        |        len(tw) AS n_words,
        |        round(length(replace(replace(text, chr(10), ''), ' ', '')) * 1.0 / len(tw), 4) AS avg_word_len,
        |        round(((length(text) - length(replace(text, '#', ''))) +
        |               (length(text) - length(replace(text, '…', '')))) * 1.0 / len(tw), 4) AS symbol_ratio,
        |        round(len(list_filter(ls, l -> list_contains(['•', '‣', '-', '*'],
        |                 substr(ltrim(l), 1, 1)))) * 1.0 / len(ls), 4) AS bullet_line_frac,
        |        round(len(list_filter(ls, l -> ends_with(rtrim(l), '...')
        |                 OR ends_with(rtrim(l), '…'))) * 1.0 / len(ls), 4) AS ellipsis_line_frac,
        |        round(len(list_filter(tw, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(tw), 4) AS alpha_word_frac
        |      FROM t2)
        |SELECT doc_id, n_words, avg_word_len, symbol_ratio,
        |  bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
        |  (n_words >= 10 AND n_words <= 100000
        |   AND avg_word_len >= 3.0 AND avg_word_len <= 10.0
        |   AND symbol_ratio <= 0.1 AND bullet_line_frac <= 0.9
        |   AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8)::INT AS gopher_pass
        |FROM f ORDER BY doc_id""".stripMargin,
    // C4 bad-words step: lowercase alnum tokens, occurrence count
    // against the same three literal demo terms the entry passes
    "tx_badwords" ->
      """WITH d AS (SELECT doc_id,
        |        len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |          x -> list_contains(['vector', 'spark', 'hash'], x))) AS n_hits
        |      FROM documents)
        |SELECT doc_id, n_hits, (n_hits > 0)::INT AS blocked
        |FROM d ORDER BY doc_id""".stripMargin,
    // rebuild 7-word lines, plant nav/banner/blank/copyright, then
    // replay the keep rules: blank OR (>=5 ALNUM-BEARING words —
    // separator tokens like '|' don't count — AND has letters AND
    // uppercase fraction of letters <= 0.5)
    "tx_boilerplate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE text IS NOT NULL),
        |t AS (SELECT doc_id,
        |        'Home | About | Contact' || chr(10) ||
        |        'SUBSCRIBE NOW AND CLICK HERE TODAY' || chr(10) || chr(10) ||
        |        array_to_string([array_to_string(list_slice(w, i, i + 6), ' ')
        |                         for i in range(1, len(w) + 1, 7)], chr(10)) ||
        |        chr(10) || '(c) 2026 Corp' AS text
        |      FROM d),
        |x AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM t),
        |k AS (SELECT doc_id, len(ls)::BIGINT AS n_lines,
        |        [l for l in ls if trim(l) = '' OR
        |          (len([tok for tok in regexp_split_to_array(trim(l), ' +')
        |                if regexp_matches(tok, '[A-Za-z0-9]')]) >= 5
        |           AND len(regexp_replace(l, '[^A-Za-z]', '', 'g')) > 0
        |           AND len(regexp_replace(l, '[^A-Z]', '', 'g'))
        |               / len(regexp_replace(l, '[^A-Za-z]', '', 'g')) <= 0.5)]
        |          AS kept
        |      FROM x)
        |SELECT doc_id, n_lines, len(kept)::BIGINT AS n_kept,
        |  array_to_string(kept, chr(10)) AS text_clean
        |FROM k ORDER BY doc_id""".stripMargin,
    // block page synthesis → block-preserving extraction (block-close
    // tags to newlines BEFORE the tag strip, per-line whitespace
    // normalization) → the boilerplate keep rules, all in one replay
    "tx_web_pipeline" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE text IS NOT NULL),
        |$pageHtmlCte,
        |e AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        '(?i)<(?:br|hr)[^>]*>|</(?:p|div|h[1-6]|li|tr|table|ul|ol|blockquote)>',
        |        chr(10), 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '[ \t]+', ' ', 'g'),
        |    ' ?\n ?', chr(10), 'g'),
        |    '\n{3,}', chr(10) || chr(10), 'g'),
        |    '^[\n ]+|[\n ]+$$', '', 'g') AS text
        |FROM h),
        |x AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM e),
        |k AS (SELECT doc_id, len(ls)::BIGINT AS n_lines,
        |        [l for l in ls if trim(l) = '' OR
        |          (len([tok for tok in regexp_split_to_array(trim(l), ' +')
        |                if regexp_matches(tok, '[A-Za-z0-9]')]) >= 5
        |           AND len(regexp_replace(l, '[^A-Za-z]', '', 'g')) > 0
        |           AND len(regexp_replace(l, '[^A-Z]', '', 'g'))
        |               / len(regexp_replace(l, '[^A-Za-z]', '', 'g')) <= 0.5)]
        |          AS kept
        |      FROM x)
        |SELECT doc_id, n_lines, len(kept)::BIGINT AS n_kept,
        |  array_to_string(kept, chr(10)) AS text_clean
        |FROM k ORDER BY doc_id""".stripMargin,
    // the COMPOSED modern web recipe: page synthesis → block
    // extraction → boilerplate keep → Gopher shape pass (rounded
    // facets, entry thresholds) → 'dup' bad-word drop → keep-first
    // line dedup over the survivors → md5 shuffle-shard — every stage
    // the exact fragment its standalone oracle already proves
    // the COMPOSED modern web recipe: page synthesis → block
    // extraction → boilerplate keep → Gopher shape pass (rounded
    // facets, entry thresholds) → 'dup' bad-word drop → keep-first
    // line dedup over the survivors → md5 shuffle-shard — every stage
    // the exact fragment its standalone oracle already proves
    "tx_web_curate" -> webCurateOracle("text IS NOT NULL"),
    // the same recipe fed from WARC container bytes: the base set is
    // what survives the container — parseable (doc_id % 7 <> 3, the
    // malformed plant) and status 200 (doc_id % 11 <> 0)
    "tx_warc_curate" -> webCurateOracle(
      "text IS NOT NULL AND doc_id % 7 <> 3 AND doc_id % 11 <> 0" +
        " AND doc_id % 13 <> 5"),
    // header-map consumption: robots verdict + declared language from
    // the id plant formulas; detection = the SAME extraction and
    // script-routing fragments the tx_web_curate / tx_langid oracles
    // already prove, composed
    "tx_robots" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |           WHERE text IS NOT NULL AND doc_id % 7 <> 3),
         |$pageHtmlCte,
         |$extractBlocksCte,
         |b AS (SELECT doc_id, text FROM e),
         |$langIdCtes,
         |r AS (SELECT doc_id,
         |        CASE WHEN doc_id % 11 = 0 THEN 404 ELSE 200 END AS status,
         |        (doc_id % 13 = 5)::INT AS robots_deny,
         |        CASE WHEN doc_id % 19 = 3 THEN 'en'
         |             WHEN doc_id % 19 = 7 THEN 'de'
         |             WHEN doc_id % 19 = 11 THEN 'fr' END AS content_language,
         |        $langGuessCase AS lang_guess
         |      FROM li_g)
         |SELECT doc_id, status, robots_deny, content_language, lang_guess,
         |  CASE WHEN content_language IS NULL THEN NULL
         |       ELSE (content_language = lang_guess)::INT END AS lang_match
         |FROM r ORDER BY doc_id""".stripMargin,
    // the language-keyed recipe: routing, per-language histogram
    // quantile and keep decision, then the exact-integer mixture draw
    // over the survivors
    "tx_lang_curate" ->
      s"""WITH b AS (SELECT doc_id, $langPlantCase AS text FROM documents),
         |$langIdCtes,
         |lid AS (SELECT doc_id, text, $langGuessCase AS lang FROM li_g),
         |s AS (SELECT doc_id, lang,
         |        round(least(len(string_split(text, ' ')) * 1.0 / 50.0, 1.0) *
         |              (length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) * 1.0
         |               / length(text)), 4) AS score
         |      FROM lid),
         |hist AS (SELECT lang, score, count(*) AS c FROM s
         |         WHERE score IS NOT NULL GROUP BY 1, 2),
         |cum AS (SELECT lang, score,
         |        sum(c) OVER (PARTITION BY lang ORDER BY score) AS cum,
         |        sum(c) OVER (PARTITION BY lang) AS n FROM hist),
         |cut AS (SELECT lang, min(score) AS cutoff FROM cum
         |        WHERE cum >= ceil(0.25 * n) GROUP BY 1),
         |keep AS (SELECT s.doc_id, s.lang, s.score, c.cutoff
         |         FROM s JOIN cut c USING (lang) WHERE s.score >= c.cutoff),
         |cnt AS (SELECT lang, count(*)::DOUBLE AS n FROM keep GROUP BY lang),
         |tp AS (SELECT sum(pow(n, 0.5)) AS tp FROM cnt),
         |r AS (SELECT lang, least(1.0, 300.0 * pow(n, 0.5) / tp / n) AS rate
         |      FROM cnt, tp)
         |SELECT k.doc_id, k.lang, k.score, k.cutoff
         |FROM keep k JOIN r USING (lang)
         |WHERE (((k.doc_id % 1000000007) * 654435747 + 0) % 1000000007)::DOUBLE
         |      < rate * 1000000007.0
         |ORDER BY doc_id""".stripMargin,
    // md5(id ":" seed) permutation key, 32-bit-prefix shard, per-shard
    // rank — the full reproducible training order replays in SQL
    "tx_shard" ->
      """WITH k AS (SELECT doc_id, md5(doc_id::VARCHAR || ':7') AS key
        |           FROM documents),
        |a AS (SELECT doc_id, key,
        |        (('0x' || substr(key, 1, 8))::UBIGINT % 16)::INT AS shard
        |      FROM k)
        |SELECT shard,
        |  (row_number() OVER (PARTITION BY shard ORDER BY key, doc_id))::INT AS seq,
        |  doc_id
        |FROM a ORDER BY shard, seq""".stripMargin,
    "tx_bm25" ->
      """WITH d AS (SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents),
        |dl AS (SELECT id, len(toks) AS dl FROM d),
        |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(len(toks)) AS avgdl FROM d),
        |q(qid, term) AS (VALUES (0, 'join'), (0, 'hash'), (1, 'scan'),
        |                        (1, 'filter'), (1, 'vector'),
        |                        (2, 'customer'), (2, 'order')),
        |tok AS (SELECT id, unnest(toks) AS term FROM d),
        |tf AS (SELECT id, term, count(*)::DOUBLE AS tf FROM tok
        |       WHERE term IN (SELECT term FROM q) GROUP BY id, term),
        |dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
        |w AS (SELECT tf.id, tf.term,
        |        ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
        |        (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS w
        |      FROM tf JOIN dfreq USING (term) JOIN dl USING (id), stats),
        |s AS (SELECT qid, id, sum(w) AS score FROM w JOIN q USING (term)
        |      GROUP BY qid, id),
        |r AS (SELECT qid, id, score,
        |        row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
        |      FROM s)
        |SELECT qid::BIGINT AS qid, id, rank::INT AS rank, round(score, 6) AS score
        |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "tx_topdocs" ->
      """WITH t AS (
        |  SELECT doc_id, text, length(text) AS n_chars,
        |    len(string_split(text, ' ')) AS n_words,
        |    length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_alnum
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    round(least(n_words * 1.0 / 50.0, 1.0) * (n_alnum * 1.0 / n_chars), 4) AS quality
        |  FROM t),
        |r AS (
        |  SELECT d.lang, q.doc_id, q.quality,
        |    row_number() OVER (PARTITION BY d.lang ORDER BY q.quality DESC, q.doc_id) AS rank
        |  FROM documents d JOIN q ON d.doc_id = q.doc_id)
        |SELECT lang, rank::INT AS rank, doc_id, quality
        |FROM r WHERE rank <= 3 ORDER BY lang, rank""".stripMargin,
    "mm_features" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes, 16 AS feat_dim
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the blob/metadata contract replayed field by field; md5 of the
    // UTF-8 bytes certifies the binary column itself, not just lengths
    "mm_schema" ->
      """SELECT doc_id,
        | 'application/octet-stream' AS mime,
        | length(text)::INT AS n_chars,
        | (doc_id % 3)::INT AS channel,
        | octet_length(encode(text))::INT AS blob_bytes,
        | md5(text) AS blob_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frames" ->
      """SELECT doc_id,
        | unnest(range(0, octet_length(encode(text)) // 32, 4))::INT AS frame_idx,
        | 32 AS frame_len
        |FROM documents ORDER BY doc_id, frame_idx""".stripMargin,
    // the PNG synthesis formula replayed: dims from doc_id, pixel sum over
    // all w*h gray samples (PNG is lossless, so decode(encode(x)) = x)
    "mm_decode" ->
      """SELECT doc_id,
        | (1 + doc_id % 8)::INT AS img_w,
        | (1 + doc_id % 5)::INT AS img_h,
        | list_sum([(doc_id * 31 + i) % 256
        |           for i in range(0, ((1 + doc_id % 8) * (1 + doc_id % 5))::INT)])::BIGINT AS px_sum
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the GIF synthesis formula replayed arithmetically: indexed GIF is
    // lossless, so the real multi-frame decode must reproduce every
    // sampled frame's dimensions and pixel sum exactly
    "mm_video" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    unnest(range(0, (2 + doc_id % 3)::INT, 2))::INT AS frame_idx
        |  FROM documents)
        |SELECT doc_id, frame_idx,
        | (1 + doc_id % 6)::INT AS frame_w,
        | (1 + doc_id % 4)::INT AS frame_h,
        | list_sum([(doc_id * 31 + frame_idx * 97 + p) % 256
        |           for p in range(0, ((1 + doc_id % 6) * (1 + doc_id % 4))::INT)])::BIGINT AS px_sum
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    // the WAV synthesis formula replayed arithmetically: WAV PCM is
    // lossless, so the real javax.sound decode must reproduce it
    // exactly (r11 formula: clone-seeded eff id, ≥64 samples, XOR of
    // two squared Lehmer streams over eff·64 + i — Multimodal.wavSample;
    // x < 2^31 so x*x stays inside BIGINT)
    "mm_audio" ->
      """WITH e AS (SELECT doc_id,
        |  CASE WHEN doc_id % 100 = 99 THEN doc_id - 99 ELSE doc_id END AS eff
        |  FROM documents),
        |sm AS (SELECT doc_id,
        |  [xor(((eff * 64 + i) % 2147483647 * 48271 % 2147483647)
        |         * ((eff * 64 + i) % 2147483647 * 48271 % 2147483647)
        |         % 2147483647,
        |       ((eff * 64 + i) % 2147483629 * 16807 % 2147483629)
        |         * ((eff * 64 + i) % 2147483629 * 16807 % 2147483629)
        |         % 2147483629) % 65536 - 32768
        |   for i in range(0, (64 + eff % 32)::INT)] AS s
        |  FROM e)
        |SELECT doc_id,
        | 8000::INT AS sample_rate,
        | 1::INT AS n_channels,
        | len(s)::BIGINT AS n_samples,
        | list_sum(s)::BIGINT AS sample_sum
        |FROM sm ORDER BY doc_id""".stripMargin,
    // both KMV sketches rebuilt (distinct md5-13-prefix hashes,
    // bottom-256, hex order == numeric order on fixed width), the
    // k-th order statistic converted hex→numeric positionally (each
    // term < 2^52 → exact in double), and the estimator replayed term
    // for term; exact join count alongside
    "q_joinest" -> {
      val hexval = "list_sum([(strpos('0123456789abcdef', substr(%s[256], i, 1)) - 1.0) * 16.0**(13 - i) for i in range(1, 14)])"
      s"""WITH av AS (SELECT DISTINCT substr(md5(o_orderkey::VARCHAR), 1, 13) AS h
         |            FROM orders WHERE o_orderkey IS NOT NULL),
         |ar AS (SELECT h, row_number() OVER (ORDER BY h) AS r FROM av),
         |ask AS (SELECT list(h ORDER BY h) AS sk FROM ar WHERE r <= 256),
         |bv AS (SELECT DISTINCT substr(md5(l_orderkey::VARCHAR), 1, 13) AS h
         |            FROM lineitem WHERE l_orderkey IS NOT NULL),
         |br AS (SELECT h, row_number() OVER (ORDER BY h) AS r FROM bv),
         |bsk AS (SELECT list(h ORDER BY h) AS sk FROM br WHERE r <= 256),
         |an AS (SELECT count(*)::BIGINT AS n_a FROM orders WHERE o_orderkey IS NOT NULL),
         |bn AS (SELECT count(*)::BIGINT AS n_b FROM lineitem WHERE l_orderkey IS NOT NULL),
         |ex AS (SELECT count(*)::BIGINT AS exact_rows
         |       FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |m AS (SELECT a.sk AS ska, b.sk AS skb,
         |        list_sort(list_distinct(list_concat(a.sk, b.sk)))[1:256] AS mg
         |      FROM ask a, bsk b),
         |f AS (SELECT ska, skb, mg,
         |        len(mg) AS ku,
         |        len(list_filter(mg, v -> list_contains(ska, v)
         |                             AND list_contains(skb, v))) AS shared,
         |        CASE WHEN len(ska) < 256 THEN len(ska)::DOUBLE
         |             ELSE 255e0 * 4.503599627370496e15 / (${hexval.format("ska")}) END AS da,
         |        CASE WHEN len(skb) < 256 THEN len(skb)::DOUBLE
         |             ELSE 255e0 * 4.503599627370496e15 / (${hexval.format("skb")}) END AS db,
         |        CASE WHEN len(mg) < 256 THEN len(mg)::DOUBLE
         |             ELSE 255e0 * 4.503599627370496e15 / (${hexval.format("mg")}) END AS du
         |      FROM m),
         |g AS (SELECT da, db, (shared / ku) * du AS di FROM f)
         |SELECT an.n_a, bn.n_b,
         |  round(da, 4) AS d_est_a, round(db, 4) AS d_est_b,
         |  round(di, 4) AS d_est_shared,
         |  round(di * (an.n_a / da) * (bn.n_b / db), 2) AS est_rows,
         |  ex.exact_rows
         |FROM g, an, bn, ex""".stripMargin
    },
    // the WAV synthesis → decoded sample signs → fingerprint bits →
    // full Hamming pair set, replayed arithmetically (PCM is lossless;
    // mean is int-sum / n in double on both engines). r11 formula:
    // every clip now has ≥64 samples, so the fingerprint always uses
    // exactly 64 bits; bit 63 is added as the signed 2⁶³ addend
    // because DuckDB's `<<` range-checks where Java's wraps
    "mm_audio_dedup" ->
      """WITH e AS (SELECT doc_id,
        |  CASE WHEN doc_id % 100 = 99 THEN doc_id - 99 ELSE doc_id END AS eff
        |  FROM documents),
        |sm AS (SELECT doc_id,
        |  [xor(((eff * 64 + i) % 2147483647 * 48271 % 2147483647)
        |         * ((eff * 64 + i) % 2147483647 * 48271 % 2147483647)
        |         % 2147483647,
        |       ((eff * 64 + i) % 2147483629 * 16807 % 2147483629)
        |         * ((eff * 64 + i) % 2147483629 * 16807 % 2147483629)
        |         % 2147483629) % 65536 - 32768
        |   for i in range(0, 64)] AS s
        |       FROM e),
        |hs AS (SELECT doc_id, list_sum(s) / 64 AS mean, s FROM sm),
        |hh AS (SELECT doc_id,
        |         list_sum([CASE WHEN s[i + 1] > mean THEN
        |                     CASE WHEN i = 63 THEN -9223372036854775807 - 1
        |                          ELSE 1::BIGINT << i END
        |                   ELSE 0 END
        |                   for i in range(0, 64)])::BIGINT AS h
        |       FROM hs),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |        bit_count(xor(a.h, b.h))::INT AS dist
        |      FROM hh a JOIN hh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, dist FROM p WHERE dist <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    // per-source discrete 25th-percentile cutoff on the 4-dp contract
    // quality score, replayed on the histogram exactly as the operator
    // computes it (smallest score whose cumulative count reaches
    // ceil(q*n))
    "tx_threshold" ->
      """WITH s AS (SELECT doc_id, source,
        |    round(least(len(string_split(text, ' ')) * 1.0 / 50.0, 1.0) *
        |          (length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) * 1.0
        |           / length(text)), 4) AS score
        |  FROM documents),
        |hist AS (SELECT source, score, count(*) AS c FROM s
        |         WHERE score IS NOT NULL GROUP BY 1, 2),
        |cum AS (SELECT source, score,
        |        sum(c) OVER (PARTITION BY source ORDER BY score) AS cum,
        |        sum(c) OVER (PARTITION BY source) AS n
        |        FROM hist),
        |cut AS (SELECT source, min(score) AS cutoff FROM cum
        |        WHERE cum >= ceil(0.25 * n) GROUP BY 1)
        |SELECT s.doc_id, s.source, s.score, c.cutoff
        |FROM s JOIN cut c USING (source)
        |WHERE s.score >= c.cutoff ORDER BY s.doc_id""".stripMargin,
    // the A-ES draw replayed exactly: u from the same integer hash,
    // key = ln(u)/n_chars, top-100 by (key DESC, doc_id)
    "tx_wsample" ->
      """WITH s AS (SELECT doc_id, source, n_chars,
        |    ln(((((doc_id % 1000000007) * 654435747 + 0) % 1000000007 + 1.0)) / 1000000008.0)
        |      / n_chars AS k
        |  FROM documents),
        |top AS (SELECT * FROM s ORDER BY k DESC, doc_id LIMIT 100)
        |SELECT doc_id, source, n_chars, round(k, 6) AS es_key
        |FROM top ORDER BY doc_id""".stripMargin,
    // Zipf head with cumulative coverage: total-ordered by
    // (count DESC, token), rank and running sum over the 100-row head
    "tx_vocab" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS n_occurrences FROM t GROUP BY 1),
        |tot AS (SELECT sum(n_occurrences) AS total FROM c),
        |top AS (SELECT token, n_occurrences FROM c
        |        ORDER BY n_occurrences DESC, token LIMIT 100)
        |SELECT row_number() OVER (ORDER BY n_occurrences DESC, token)::INT AS rank,
        |  token, n_occurrences,
        |  round(sum(n_occurrences) OVER (ORDER BY n_occurrences DESC, token)
        |        * 1.0 / (SELECT total FROM tot), 6) AS coverage
        |FROM top ORDER BY rank""".stripMargin,
    // every pairwise source intersection of distinct 3-word shingle sets
    // (same shingle SQL as dd_jaccard_join, keyed by source not doc)
    "dd_overlap" ->
      """WITH d AS (SELECT source, string_split(text, ' ') AS w FROM documents),
        |s0 AS (SELECT source, unnest(
        |        CASE WHEN len(w) >= 3
        |             THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                                 for i in range(1, len(w) - 1)])
        |             ELSE [array_to_string(w, ' ')] END) AS sh
        |      FROM d),
        |s AS (SELECT DISTINCT source, sh FROM s0),
        |n AS (SELECT source, count(*) AS n_sh FROM s GROUP BY 1),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |        count(*) AS n_shared
        |      FROM s a JOIN s b ON a.sh = b.sh AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, p.n_shared,
        |  round(p.n_shared * 1.0 / na.n_sh, 6) AS frac_of_a,
        |  round(p.n_shared * 1.0 / nb.n_sh, 6) AS frac_of_b
        |FROM p JOIN n na ON p.source_a = na.source
        |       JOIN n nb ON p.source_b = nb.source
        |ORDER BY source_a, source_b""".stripMargin,
    // the KMV estimator replayed end-to-end: same shingles, 13-hex-char
    // md5-prefix hash (lexicographic = numeric on fixed-width lowercase
    // hex, so string order here == the engine's 52-bit integer order),
    // per-source bottom-256 distinct, merged bottom-256, shared fraction
    "dd_overlap_kmv" ->
      """WITH d AS (SELECT source, string_split(text, ' ') AS w FROM documents),
        |s0 AS (SELECT source, unnest(
        |        CASE WHEN len(w) >= 3
        |             THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                                 for i in range(1, len(w) - 1)])
        |             ELSE [array_to_string(w, ' ')] END) AS sh
        |      FROM d),
        |hv AS (SELECT DISTINCT source, substr(md5(sh), 1, 13) AS h FROM s0),
        |rn AS (SELECT source, h,
        |        row_number() OVER (PARTITION BY source ORDER BY h) AS r
        |      FROM hv),
        |sk AS (SELECT source, list(h ORDER BY h) AS sk
        |      FROM rn WHERE r <= 256 GROUP BY source),
        |p AS (SELECT x.source AS source_a, y.source AS source_b,
        |        x.sk AS ska, y.sk AS skb
        |      FROM sk x JOIN sk y ON x.source < y.source),
        |m AS (SELECT source_a, source_b, ska, skb,
        |        list_sort(list_distinct(list_concat(ska, skb)))[1:256] AS mg
        |      FROM p)
        |SELECT source_a, source_b, len(mg) AS k_used,
        |  len(list_filter(mg, v -> list_contains(ska, v)
        |                       AND list_contains(skb, v))) AS n_shared_sk,
        |  round(len(list_filter(mg, v -> list_contains(ska, v)
        |                             AND list_contains(skb, v))) * 1.0
        |        / len(mg), 6) AS jaccard_est
        |FROM m ORDER BY source_a, source_b""".stripMargin,
    // raw URL derived with the SAME doc_id/source arithmetic as the
    // Spark side, then canonicalized step-for-step: lowercase
    // scheme+host, strip www., strip :80/:443, drop fragment, drop
    // tracking params, sort survivors, strip one trailing slash
    "tx_url" ->
      """WITH r AS (SELECT doc_id,
        |   (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END) ||
        |   (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        |   source || '.Example.COM' ||
        |   (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
        |        WHEN 2 THEN ':8080' ELSE '' END) ||
        |   '/Docs/' || doc_id ||
        |   (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
        |   (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&b=2&ref=x&a=1'
        |         WHEN doc_id % 3 = 1 THEN '?b=2&a=1' ELSE '' END) ||
        |   (CASE WHEN doc_id % 2 = 1 THEN '#Sec' || (doc_id % 7) ELSE '' END)
        |   AS url
        | FROM documents),
        |p AS (SELECT doc_id,
        |   lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |   regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
        | FROM r),
        |q AS (SELECT doc_id, scheme, rest,
        |   regexp_extract(rest, '^([^/?#]*)', 1) AS auth FROM p),
        |h AS (SELECT doc_id, scheme,
        |   regexp_replace(regexp_replace(lower(auth), '^www\.', ''),
        |                  ':(80|443)$', '') AS host,
        |   regexp_replace(substring(rest, length(auth) + 1), '#.*$', '') AS nofrag
        | FROM q),
        |pa AS (SELECT doc_id, scheme, host,
        |   regexp_extract(nofrag, '^([^?]*)', 1) AS path0,
        |   regexp_extract(nofrag, '\?(.*)$', 1) AS qs FROM h),
        |fin AS (SELECT doc_id, scheme, host,
        |   CASE WHEN path0 = '' OR path0 = '/' THEN ''
        |        ELSE regexp_replace(path0, '/$', '') END AS path,
        |   list_sort(list_filter(string_split(qs, '&'), x ->
        |     NOT (regexp_matches(x, '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)=')
        |          OR x = ''))) AS params
        | FROM pa)
        |SELECT doc_id,
        |  scheme || '://' || host || path ||
        |  (CASE WHEN len(params) > 0
        |        THEN '?' || array_to_string(params, '&') ELSE '' END) AS url_canon,
        |  host
        |FROM fin ORDER BY doc_id""".stripMargin,
    // the tx_url host derivation + the dot-anchored suffix decision,
    // port-stripped before the match, replayed per row
    "tx_blocklist" ->
      """WITH r AS (SELECT doc_id,
        |   (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END) ||
        |   (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        |   source || '.Example.COM' ||
        |   (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
        |        WHEN 2 THEN ':8080' ELSE '' END) ||
        |   '/Docs/' || doc_id ||
        |   (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
        |   (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&b=2&ref=x&a=1'
        |         WHEN doc_id % 3 = 1 THEN '?b=2&a=1' ELSE '' END) ||
        |   (CASE WHEN doc_id % 2 = 1 THEN '#Sec' || (doc_id % 7) ELSE '' END)
        |   AS url
        | FROM documents),
        |p AS (SELECT doc_id,
        |   regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
        | FROM r),
        |q AS (SELECT doc_id, regexp_extract(rest, '^([^/?#]*)', 1) AS auth FROM p),
        |h AS (SELECT doc_id,
        |   regexp_replace(regexp_replace(lower(auth), '^www\.', ''),
        |                  ':(80|443)$', '') AS host
        | FROM q),
        |n AS (SELECT doc_id, host,
        |   regexp_replace(host, ':[0-9]+$', '') AS hn FROM h)
        |SELECT doc_id, host,
        |  CASE WHEN hn = 'src3.example.com' OR hn LIKE '%.src3.example.com'
        |         OR hn = 'src7.example.com' OR hn LIKE '%.src7.example.com'
        |         OR hn = 'src1.example.com' OR hn LIKE '%.src1.example.com'
        |       THEN 1 ELSE 0 END AS blocked
        |FROM n ORDER BY doc_id""".stripMargin,
    // the FULL 8-iteration IRLS trajectory unrolled: per iteration the
    // nine logistic sufficient statistics with the previous betas, then
    // the closed-form adjugate Newton update — the exact Probe.logit2
    // step — ending in the scan-side scoring pass
    "tx_quality_lr" ->
      s"""WITH d AS (SELECT doc_id,
         |    CASE WHEN n_chars + 17 * (doc_id % 13) > 400
         |         THEN 1.0 ELSE 0.0 END AS y,
         |    n_chars / 100.0 AS x1,
         |    len(string_split(text, ' ')) / 10.0 AS x2
         |  FROM documents),
         |t0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
         |${(1 to 8).map(lrIterSql).mkString(",\n")}
         |SELECT doc_id, CAST(y AS INT) AS label,
         |  round(1 / (1 + exp(-(b0 + b1 * x1 + b2 * x2))), 6) + 0.0 AS score,
         |  CASE WHEN 1 / (1 + exp(-(b0 + b1 * x1 + b2 * x2))) > 0.5
         |       THEN 1 ELSE 0 END AS pred
         |FROM d, t8 ORDER BY doc_id""".stripMargin,
    // parsed rows carry their fields; quarantined (doc_id ≡ 3 mod 7)
    // lines carry all-null + ok=0 — one row per planted corruption
    "src_jsonl" ->
      """SELECT doc_id, lang, source, n_chars, 1 AS ok
        |FROM documents WHERE doc_id % 7 <> 3
        |UNION ALL
        |SELECT NULL, NULL, NULL, NULL, 0 AS ok
        |FROM documents WHERE doc_id % 7 = 3
        |ORDER BY ok, doc_id""".stripMargin,
    // WARC container ingest: parsed rows replay every field from the
    // synthesized page (status by the 404 plant, byte length and md5 of
    // the exact body bytes); quarantined rows split by reason — one
    // 'malformed' per WARX-version plant, one 'torn' for the truncated
    // trailing gzip member on the g=5 shard
    "src_warc" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE text IS NOT NULL),
        |$pageHtmlCte
        |SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 0 THEN 404 ELSE 200 END AS status,
        |  'text/html' AS mime, strlen(html)::BIGINT AS n_bytes,
        |  md5(html) AS body_md5, 1 AS ok, NULL::VARCHAR AS reason
        |FROM h WHERE doc_id % 7 <> 3
        |UNION ALL
        |SELECT NULL::BIGINT, NULL::INT, NULL::VARCHAR, NULL::BIGINT,
        |  NULL::VARCHAR, 0, 'malformed'
        |FROM h WHERE doc_id % 7 = 3
        |UNION ALL
        |SELECT NULL::BIGINT, NULL::INT, NULL::VARCHAR, NULL::BIGINT,
        |  NULL::VARCHAR, 0, 'torn'
        |ORDER BY ok, doc_id""".stripMargin,
    // CSV quarantine semantics: a bad FIELD (n_chars → 'n/a') nulls only
    // itself — the row keeps its parsed doc_id/lang/source with ok=0,
    // unlike JSONL's all-null torn-line rows
    "src_csv" ->
      """SELECT doc_id, lang, source, n_chars, 1 AS ok
        |FROM documents WHERE doc_id % 7 <> 3
        |UNION ALL
        |SELECT doc_id, lang, source, NULL, 0 AS ok
        |FROM documents WHERE doc_id % 7 = 3
        |ORDER BY ok, doc_id""".stripMargin,
    // the z-order re-layout must neither lose nor invent rows — the
    // rectangle replayed as a plain base-table filter
    "src_zorder" ->
      """SELECT l_orderkey, l_partkey, l_quantity::BIGINT AS qty
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 5000
        |  AND l_partkey BETWEEN 200 AND 900
        |ORDER BY l_orderkey, l_partkey, qty""".stripMargin,
    // 3 PageRank rounds unrolled: same edge derivation, same multigraph
    // contributions, same leaky-dangling simplification
    "gr_pagerank" ->
      """WITH e AS (SELECT a.source AS s, b.source AS t
        |      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |      WHERE a.source != b.source),
        |nodes AS (SELECT DISTINCT v FROM
        |      (SELECT s AS v FROM e UNION SELECT t AS v FROM e)),
        |nn AS (SELECT count(*)::DOUBLE AS cnt FROM nodes),
        |deg AS (SELECT s, count(*) AS dg FROM e GROUP BY s),
        |r0 AS (SELECT v, 1.0 / (SELECT cnt FROM nn) AS p FROM nodes),
        |c1 AS (SELECT e.t AS v, sum(r0.p / deg.dg) AS c
        |      FROM e JOIN r0 ON e.s = r0.v JOIN deg ON e.s = deg.s GROUP BY e.t),
        |r1 AS (SELECT nodes.v, 0.15 / (SELECT cnt FROM nn)
        |        + 0.85 * coalesce(c1.c, 0) AS p
        |      FROM nodes LEFT JOIN c1 ON nodes.v = c1.v),
        |c2 AS (SELECT e.t AS v, sum(r1.p / deg.dg) AS c
        |      FROM e JOIN r1 ON e.s = r1.v JOIN deg ON e.s = deg.s GROUP BY e.t),
        |r2 AS (SELECT nodes.v, 0.15 / (SELECT cnt FROM nn)
        |        + 0.85 * coalesce(c2.c, 0) AS p
        |      FROM nodes LEFT JOIN c2 ON nodes.v = c2.v),
        |c3 AS (SELECT e.t AS v, sum(r2.p / deg.dg) AS c
        |      FROM e JOIN r2 ON e.s = r2.v JOIN deg ON e.s = deg.s GROUP BY e.t),
        |r3 AS (SELECT nodes.v, 0.15 / (SELECT cnt FROM nn)
        |        + 0.85 * coalesce(c3.c, 0) AS p
        |      FROM nodes LEFT JOIN c3 ON nodes.v = c3.v)
        |SELECT v AS node, round(p, 6) AS rank FROM r3 ORDER BY node""".stripMargin,
    // three synchronous LPA rounds unrolled: per round, a (node, label)
    // neighbor-vote count and a row_number argmax ordered
    // (count DESC, label ASC) — the same total order the engine's
    // min(struct(-count, label)) aggregate encodes
    "gr_lpa" ->
      """WITH e0 AS (SELECT a.source AS s, b.source AS t
        |      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |      WHERE a.source != b.source),
        |e AS (SELECT s, t FROM e0 UNION ALL SELECT t AS s, s AS t FROM e0),
        |lab0 AS (SELECT DISTINCT s AS v, s AS lbl FROM e),
        |v1 AS (SELECT e.s AS v, l.lbl, count(*) AS c
        |      FROM e JOIN lab0 l ON e.t = l.v GROUP BY 1, 2),
        |lab1 AS (SELECT v, lbl FROM (SELECT v, lbl,
        |      row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn
        |      FROM v1) WHERE rn = 1),
        |v2 AS (SELECT e.s AS v, l.lbl, count(*) AS c
        |      FROM e JOIN lab1 l ON e.t = l.v GROUP BY 1, 2),
        |lab2 AS (SELECT v, lbl FROM (SELECT v, lbl,
        |      row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn
        |      FROM v2) WHERE rn = 1),
        |v3 AS (SELECT e.s AS v, l.lbl, count(*) AS c
        |      FROM e JOIN lab2 l ON e.t = l.v GROUP BY 1, 2),
        |lab3 AS (SELECT v, lbl FROM (SELECT v, lbl,
        |      row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn
        |      FROM v3) WHERE rn = 1)
        |SELECT v AS node, lbl AS label FROM lab3 ORDER BY node""".stripMargin,
    // the full battery rebuilt in one statement: 4-dp quality rounded
    // BEFORE the host average (identical float inputs both engines),
    // the gr_pagerank and gr_lpa replays verbatim, and the same LEFT
    // joins — linkless hosts carry NULL authority/community
    "gr_scorecard" ->
      """WITH tq AS (SELECT doc_id, source,
        |    round(least(len(string_split(text, ' ')) * 1.0 / 50.0, 1.0)
        |      * (length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
        |         * 1.0 / length(text)), 4) AS quality
        |  FROM documents),
        |host AS (SELECT source, count(*)::BIGINT AS n_docs,
        |      round(avg(quality), 6) AS avg_quality FROM tq GROUP BY source),
        |e0 AS (SELECT a.source AS s, b.source AS t
        |      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |      WHERE a.source != b.source),
        |nodes AS (SELECT DISTINCT v FROM
        |      (SELECT s AS v FROM e0 UNION SELECT t AS v FROM e0)),
        |nn AS (SELECT count(*)::DOUBLE AS cnt FROM nodes),
        |deg AS (SELECT s, count(*) AS dg FROM e0 GROUP BY s),
        |r0 AS (SELECT v, 1.0 / (SELECT cnt FROM nn) AS p FROM nodes),
        |c1 AS (SELECT e0.t AS v, sum(r0.p / deg.dg) AS c
        |      FROM e0 JOIN r0 ON e0.s = r0.v JOIN deg ON e0.s = deg.s GROUP BY e0.t),
        |r1 AS (SELECT nodes.v, 0.15 / (SELECT cnt FROM nn)
        |        + 0.85 * coalesce(c1.c, 0) AS p
        |      FROM nodes LEFT JOIN c1 ON nodes.v = c1.v),
        |c2 AS (SELECT e0.t AS v, sum(r1.p / deg.dg) AS c
        |      FROM e0 JOIN r1 ON e0.s = r1.v JOIN deg ON e0.s = deg.s GROUP BY e0.t),
        |r2 AS (SELECT nodes.v, 0.15 / (SELECT cnt FROM nn)
        |        + 0.85 * coalesce(c2.c, 0) AS p
        |      FROM nodes LEFT JOIN c2 ON nodes.v = c2.v),
        |c3 AS (SELECT e0.t AS v, sum(r2.p / deg.dg) AS c
        |      FROM e0 JOIN r2 ON e0.s = r2.v JOIN deg ON e0.s = deg.s GROUP BY e0.t),
        |r3 AS (SELECT nodes.v, 0.15 / (SELECT cnt FROM nn)
        |        + 0.85 * coalesce(c3.c, 0) AS p
        |      FROM nodes LEFT JOIN c3 ON nodes.v = c3.v),
        |le AS (SELECT s, t FROM e0 UNION ALL SELECT t AS s, s AS t FROM e0),
        |lab0 AS (SELECT DISTINCT s AS v, s AS lbl FROM le),
        |w1 AS (SELECT le.s AS v, l.lbl, count(*) AS c
        |      FROM le JOIN lab0 l ON le.t = l.v GROUP BY 1, 2),
        |lab1 AS (SELECT v, lbl FROM (SELECT v, lbl,
        |      row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn
        |      FROM w1) WHERE rn = 1),
        |w2 AS (SELECT le.s AS v, l.lbl, count(*) AS c
        |      FROM le JOIN lab1 l ON le.t = l.v GROUP BY 1, 2),
        |lab2 AS (SELECT v, lbl FROM (SELECT v, lbl,
        |      row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn
        |      FROM w2) WHERE rn = 1),
        |w3 AS (SELECT le.s AS v, l.lbl, count(*) AS c
        |      FROM le JOIN lab2 l ON le.t = l.v GROUP BY 1, 2),
        |lab3 AS (SELECT v, lbl FROM (SELECT v, lbl,
        |      row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn
        |      FROM w3) WHERE rn = 1)
        |SELECT host.source, host.n_docs, host.avg_quality,
        |  round(r3.p, 6) AS authority, lab3.lbl AS community
        |FROM host LEFT JOIN r3 ON host.source = r3.v
        |  LEFT JOIN lab3 ON host.source = lab3.v
        |ORDER BY host.source""".stripMargin,
    // union-schema read: lang exists only for the v2 (odd doc_id) half
    "src_evolve" ->
      """SELECT source, count(*) AS n,
        | count(CASE WHEN doc_id % 2 = 1 THEN lang END) AS n_lang
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // the MERGE replayed relationally: latest change per key by seq,
    // anti-join survivors + non-delete upserts
    "src_merge" ->
      """WITH base AS (SELECT doc_id, source, text FROM documents),
        |ch AS (
        |  SELECT 'D' AS op, doc_id, source, text, 1::BIGINT AS seq
        |    FROM base WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT 'U', doc_id, source, 'stale ' || doc_id, 1::BIGINT
        |    FROM base WHERE doc_id % 10 = 1
        |  UNION ALL
        |  SELECT 'U', doc_id, source, 'updated ' || doc_id, 2::BIGINT
        |    FROM base WHERE doc_id % 10 = 1
        |  UNION ALL
        |  SELECT 'I', doc_id + 10000000, source,
        |         'inserted ' || (doc_id + 10000000), 1::BIGINT
        |    FROM base WHERE doc_id % 10 = 2),
        |latest AS (
        |  SELECT op, doc_id, source, text FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                 ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1),
        |merged AS (
        |  SELECT b.doc_id, b.source, b.text FROM base b
        |  LEFT JOIN latest l ON b.doc_id = l.doc_id WHERE l.doc_id IS NULL
        |  UNION ALL
        |  SELECT doc_id, source, text FROM latest WHERE op != 'D')
        |SELECT doc_id, source, substr(md5(text), 1, 8) AS content
        |FROM merged ORDER BY doc_id""".stripMargin,
    // manifest-pruned band read == the plain band filter (file skipping
    // must be invisible to results)
    "src_skip" ->
      """SELECT doc_id, source, lang, length(text)::BIGINT AS text_len
        |FROM documents
        |WHERE doc_id BETWEEN 100 AND 299
        |ORDER BY doc_id""".stripMargin,
    // the ORC write+read path must preserve content value-for-value:
    // row count, distinct-content count and the order-independent
    // md5-prefix checksum, full-table and through a pushed-down filter
    "src_orc" ->
      """WITH s AS (SELECT doc_id, md5(text) AS h FROM documents)
        |SELECT 'all' AS stage, count(*) AS n_rows,
        |  count(DISTINCT h) AS n_distinct_text,
        |  sum(('0x' || substr(h, 1, 8))::BIGINT)::BIGINT AS content_sum
        |FROM s
        |UNION ALL
        |SELECT 'doc_id_lt_100', count(*), count(DISTINCT h),
        |  sum(('0x' || substr(h, 1, 8))::BIGINT)::BIGINT
        |FROM s WHERE doc_id < 100
        |ORDER BY stage""".stripMargin,
    // per-character frequencies (chars ≡ bytes on ASCII), entropy terms
    // summed in character order, one final /ln(2) — the identical IEEE
    // sequence the native byte_entropy expression runs
    "tx_entropy" ->
      """WITH ch AS (SELECT doc_id, length(text) AS n,
        |    unnest(string_split(text, '')) AS c
        |  FROM documents),
        |f AS (SELECT doc_id, n, c, count(*) AS cnt
        |      FROM ch GROUP BY 1, 2, 3),
        |agg AS (SELECT doc_id, n,
        |    count(*) AS nd,
        |    max(cnt) AS topc,
        |    list_sum(list_transform(
        |      list(cnt * 1.0 / n ORDER BY c),
        |      p -> -(p * ln(p)))) / ln(2.0) AS ent
        |  FROM f GROUP BY 1, 2)
        |SELECT doc_id, n AS n_chars, nd::INT AS n_distinct_chars,
        |  round(topc * 1.0 / n, 6) AS top_char_frac,
        |  round(ent, 4) AS entropy_bits
        |FROM agg ORDER BY doc_id""".stripMargin,
    // row count, distinct-content count and the md5-prefix content sum
    // must survive compaction bit-for-bit; file counts follow the fixed
    // layout arithmetic (64 round-robin shards in, ceil(n/200) out)
    "src_compact" ->
      """WITH c AS (SELECT count(*) AS n,
        |    count(DISTINCT md5(text)) AS nd,
        |    sum(('0x' || substr(md5(text), 1, 8))::BIGINT)::BIGINT AS cs
        |  FROM documents)
        |SELECT 'after' AS stage, n AS n_rows, nd AS n_distinct_text,
        |  cs AS content_sum, ceil(n / 200.0)::BIGINT AS n_files FROM c
        |UNION ALL
        |SELECT 'before', n, nd, cs, least(n, 64)::BIGINT FROM c
        |ORDER BY stage""".stripMargin
    // dd_minhash / dd_simhash / dd_embed_blocked / ann_lsh / ann_ivf /
    // tx_langid / tx_fingerprint: probabilistic or non-SQL-expressible →
    // rows-only + specs (dd_embed_blocked's quality is value-checked by
    // dd_embed_recall; ann_lsh/ann_ivf machinery by the exhaustive twins)
  )
}
