package graft.ops

import graft.functions.Vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora (SURVEY.md §2.8).
  *
  * Everything is expressed with codegen'd built-ins (split / transform /
  * aggregate / xxhash64) so signature computation is a narrow map with no
  * UDFs; the only shuffles are the ones the algorithms require (hash
  * groupBy for exact, band-key equi-join + pair distinct for LSH). At
  * 100 TB: exact dedup shuffles 16-byte digests, MinHash-LSH shuffles
  * (band, bandHash, id) tuples — never document text — and hot LSH
  * buckets split under AQE skew handling.
  */
object Dedup {

  /** Shared `maxBucket` regime encoding for the banded pair operators
    * ([[minhashLsh]], [[hammingPairs]], [[simhashNearDup]],
    * [[graft.sources.MinhashIndex.probe]]): > 0 = explicit cap,
    * [[BucketAuto]] (0, the default) = cap computed from the corpus
    * ([[defaultMaxBucket]] / [[defaultMaxBucketFixedWidth]]),
    * [[BucketUnlimited]] (−1, any negative) = no cap — the exact-recall
    * regime every CORRECTNESS oracle pins. MIGRATION (r10): before r10,
    * 0 meant "off" on these operators; callers that relied on that must
    * now pass [[BucketUnlimited]]. Note [[BucketAuto]] triggers eager
    * work at plan-construction time (a count() over the input — or the
    * collapsed hash table — plus a localCheckpoint of the band keys);
    * pass an explicit cap on derived corpora whose lineage is expensive
    * (the [[Ann.defaultNlist]] caveat).
    */
  val BucketAuto = 0
  val BucketUnlimited = -1

  // ------------------------------------------------------------- exact

  /** Content-hash groups: one row per distinct content with the keeper
    * (min id) and the copy count. Grouping key is the md5 digest, not the
    * text, so the shuffle carries 16 bytes per row.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))

  /** C4-style text normalization for fuzzy-exact dedup (after the public
    * C4 recipe — Raffel et al. 2020 normalize before hashing so that
    * case/punctuation/whitespace variants of the same page collapse):
    * lowercase, replace every non-[a-z0-9 ] character with a space,
    * collapse runs of spaces, trim. Pure codegen'd scan-side expression;
    * spelled in the java.util.regex∩RE2 subset so external engines
    * (the DuckDB oracle, a downstream Trino reader) replay it
    * byte-for-byte.
    */
  def normalizeText(t: Column): Column =
    trim(regexp_replace(regexp_replace(lower(t), "[^a-z0-9 ]", " "), " +", " "))

  /** Exact dedup over the NORMALIZED text: one row per distinct
    * normalized content with the keeper (min id) and the copy count.
    * Same digest-only shuffle as [[exactGroups]] — normalization happens
    * scan-side inside the md5 argument, so the 16-byte hash is still the
    * only thing that moves.
    */
  def normalizedGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(normalizeText(col(textCol))).as("content_hash"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))

  /** The deduplicated frame: keep the min-id row per content hash.
    *
    * Precondition: `idCol` is unique — with duplicate ids, every row
    * matching (hash, min id) survives (where the old window formulation
    * kept exactly one).
    *
    * Survivors are computed with the partial-aggregating [[exactGroups]]
    * and semi-joined back on (hash, id). When the survivor set broadcasts,
    * the wide document rows never shuffle (only their digests do); at
    * corpus scale — one survivor per distinct document — the join degrades
    * to a shuffled semi-join, where the win over a
    * `row_number().over(partitionBy(hash))` window is that no duplicate
    * group is pinned onto a single task (AQE can split skewed hash keys)
    * and the digest-only aggregate still combines map-side.
    *
    * Joins are null-safe (`<=>`): md5(null) is null, and a plain `===`
    * would silently drop every null-text row instead of keeping one
    * representative.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val survivors = exactGroups(df, idCol, textCol)
      .select(col("content_hash"), col("survivor_id").as(idCol))
    df.withColumn("__hash", md5(col(textCol)))
      .join(survivors,
        col("__hash") <=> survivors("content_hash") && df(idCol) <=> survivors(idCol),
        "left_semi")
      .drop("__hash")
  }

  /** Shared hot-bucket guard for banded candidate generation: drop
    * bucket keys holding more than `cap` rows before the self-join (an
    * m-row bucket yields m² pairs — one boilerplate key would dominate
    * the job, and AQE can split a partition but not shrink a quadratic
    * pair count). Over-cap keys are found with a partial-aggregated
    * count (one row per bucket through the shuffle) and broadcast into
    * an anti-join; a window count would shuffle every key AND pin each
    * hot bucket on one task.
    *
    * Trade-offs callers accept when setting a cap: (a) recall — a true
    * near-dup pair whose only shared bucket is over the cap is lost, so
    * run [[exact]] first (giant buckets are near-always identical
    * content); (b) cost — the banded frame's lineage is evaluated twice
    * (once for counts, once as the probe side); persist upstream if the
    * signature computation dominates.
    */
  private def dropOverCapBuckets(banded: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    if (cap <= 0) banded
    else {
      val overCap = banded.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
        .select(keys.map(col): _*)
      banded.join(broadcast(overCap), keys, "left_anti")
    }

  /** Computed bucket-cap default for the banded pair generators — the
    * r9 ANN knob-default pattern ([[Ann.defaultNlist]]) extended to
    * dedup (r10): a bucket of m members emits m²/2 candidate pairs, so
    * capping buckets at c·√n bounds TOTAL per-bucket pair work by
    * c²·n/2 — linear in corpus size, which is the property a fixed cap
    * loses across decades (too tight at 100 TB, never triggering at
    * test scale). c = 1 bounds per-bucket verify work by n/2 — and the
    * operating recipe runs [[exact]] FIRST, after which a band bucket
    * of > √n DISTINCT documents is near-always boilerplate, not a true
    * near-dup cluster (SkewBench: the planted 2,000-doc boilerplate
    * family spread over ~300–900-member buckets that c = 4 sailed
    * over, re-paying most of the m² work; c = 1 sheds them and tracks
    * the hand-tuned cap within noise). Floor 256 keeps every
    * test/verify corpus (near-dup families of single digits, max exact
    * family 2) strictly below the cap, so the exact oracles never see
    * a drop. Callers choose the regime: maxBucket > 0 explicit, 0
    * (default) this computed cap, < 0 unlimited — the exact
    * ground-truth regime the CORRECTNESS entries pin.
    */
  def defaultMaxBucket(n: Long): Int =
    math.max(256, math.ceil(math.sqrt(math.max(0L, n).toDouble)).toInt)

  /** [[defaultMaxBucket]]'s variant for FIXED-WIDTH band keys
    * ([[hammingPairs]]' w-bit chunks): a w-bit position has only 2^w
    * possible buckets, so UNIFORM hashes average n/2^w members per
    * bucket — an absolute √n cap sheds EVERY bucket once n > 2^w·√n
    * (measured: the first-cut √n default kept ZERO cross pairs on a
    * 200k-hash corpus at w = 8, where uniform occupancy ~780 > 448).
    * The degenerate-band signal is occupancy RELATIVE to that uniform
    * baseline: the default caps at 8× expected occupancy (floor 256),
    * which keeps every near-uniform bucket and sheds only bands
    * holding an outsized share of all hashes — the
    * everything-collides-here shape banding cannot make selective
    * anyway.
    */
  def defaultMaxBucketFixedWidth(n: Long, widthBits: Int): Int = {
    require(widthBits >= 1 && widthBits <= 32, "widthBits must be in [1, 32]")
    val expected = math.ceil(math.max(0L, n).toDouble / (1L << widthBits).toDouble)
    // clamp before narrowing: at n = 10¹² distinct hashes and w = 8 the
    // 8× term overflows Int (a cap that wraps negative would mean
    // "drop everything")
    math.min(Int.MaxValue.toLong, math.max(256L, 8L * expected.toLong)).toInt
  }

  // ------------------------------------------------------- minhash LSH

  /** Distinct word k-shingles as an array column (native codegen'd
    * builder — graft.functions.GeomImpl.wordShingles).
    */
  def shingles(text: Column, k: Int): Column =
    graft.functions.FunctionDefs.call("word_shingles", split(text, " "), lit(k))

  /** MinHash signature: element i is min over shingles of
    * xxhash64(shingleHash XOR salt_i). Native codegen'd loop
    * (graft.functions.GeomImpl.minhashSig) — one pass per row, no
    * shuffle, no boxed lambda evaluation.
    */
  def minhashSig(shingleCol: Column, numPerm: Int, seed: Long = 42): Column =
    graft.functions.FunctionDefs.call("minhash_sig", shingleCol, lit(numPerm), lit(seed))

  /** Exact Jaccard over two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** (id, __sh, __sig) — the shared shingle+signature frame for
    * [[minhashLsh]] and the persisted [[graft.sources.MinhashIndex]]:
    * both MUST evaluate the identical expressions, or index probes
    * would miss collisions the in-flight path finds.
    */
  private[graft] def sigFrame(df: DataFrame, idCol: String, textCol: String,
                              k: Int, numPerm: Int, seed: Long): DataFrame =
    df.select(col(idCol), col(textCol))
      .withColumn("__sh", shingles(col(textCol), k))
      .withColumn("__sig", minhashSig(col("__sh"), numPerm, seed))

  /** (id, __band, __bkey) band-bucket keys over a [[sigFrame]] — the
    * shared banding expression (see [[sigFrame]]'s contract).
    */
  private[graft] def bandKeyRows(withSig: DataFrame, idCol: String,
                                 numPerm: Int, bands: Int): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val r = numPerm / bands
    withSig.select(
      col(idCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), j =>
        hash(slice(col("__sig"), j * r + 1, lit(r))))).as(Seq("__band", "__bkey")))
  }

  /** MinHash + LSH near-duplicate pairs: shingle → signature → band
    * buckets → bucket equi-join → exact-Jaccard verify.
    *
    * Returns (id_a, id_b, jaccard) for candidate pairs with
    * jaccard >= threshold. Candidate recall follows the standard LSH
    * S-curve for `bands` bands of `numPerm/bands` rows.
    *
    * `maxBucket` drops band buckets holding more rows than the cap
    * before the self-join. A bucket of m rows yields m² candidate
    * pairs — one boilerplate-heavy key at 100 TB would otherwise dominate
    * the whole job, and AQE can only split a skewed partition, not shrink
    * the quadratic pair count. Run [[exact]] first: a giant bucket is
    * near-always identical content, which exact dedup removes for the
    * cost of a hash. Regimes (r10): maxBucket > 0 explicit cap; 0
    * (default) the [[defaultMaxBucket]] occupancy cap computed from one
    * count() over `df` (an extra lineage replay on a derived corpus —
    * cache upstream or pass an explicit cap, the [[Ann.defaultNlist]]
    * caveat); < 0 unlimited (the exact-recall regime the CORRECTNESS
    * entries pin).
    *
    * With a cap active the band-key postings are checkpointed into
    * `pins`, and the result reads them lazily: the caller's [[Pins]]
    * owns them (a per-trigger caller closes it once the pairs have
    * materialized).
    */
  def minhashLsh(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, seed: Long = 42, maxBucket: Int = 0,
      pins: Pins = new Pins): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val cap = if (maxBucket == 0) defaultMaxBucket(df.count()) else maxBucket
    val withSig = sigFrame(df, idCol, textCol, k, numPerm, seed)
    // with a cap active the band keys feed TWO consumers (the over-cap
    // count and the probe side) — materialize the (id, band, bkey)
    // postings once (3 longs/row) so the guard never re-pays the
    // shingle+signature scan (SkewBench r10: the re-pay cost 1.3× the
    // whole uncapped run on the 50k-doc skew corpus)
    val allBandKeys0 = bandKeyRows(withSig, idCol, numPerm, bands)
    val allBandKeys = if (cap > 0) pins(allBandKeys0) else allBandKeys0
    val bandKeys = dropOverCapBuckets(allBandKeys, Seq("__band", "__bkey"), cap)
    val a = bandKeys.select(col(idCol).as("id_a"), col("__band"), col("__bkey"))
    val b = bandKeys.select(col(idCol).as("id_b"), col("__band"), col("__bkey"))
    // self-join: SHUFFLE_HASH makes the two Exchanges canonically equal
    // so the second is a ReusedExchange — in the uncapped regime (no
    // checkpoint) the MinHash signature scan runs ONCE, not per side
    val candidates = a.hint("shuffle_hash").join(b, Seq("__band", "__bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val sh = withSig.select(col(idCol), col("__sh"))
    candidates
      .join(sh.select(col(idCol).as("id_a"), col("__sh").as("__sha")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("__sh").as("__shb")), "id_b")
      .withColumn("jaccard", jaccard(col("__sha"), col("__shb")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** EXACT n-gram Jaccard set-similarity self-join — no cross product and
    * no probabilistic loss: any pair with jaccard ≥ t > 0 shares at least
    * one shingle, so candidates come from an inverted-index equi-join on
    * distinct shingles, then the exact jaccard verifies. The shuffle
    * carries (shingle, id) postings; candidate fan-out is bounded by
    * shingle document-frequency (near-dup corpora keep boilerplate
    * shingles rare after [[exact]] dedup). `maxBucket` caps hot-shingle
    * postings — NOTE that unlike the LSH paths, a cap here breaks
    * exactness (a pair whose every shared shingle is over-cap is lost),
    * so it defaults to off; at 100 TB prefer [[minhashLsh]] and keep this
    * as the ground-truth/verification operator.
    */
  def jaccardJoin(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.8, maxBucket: Int = 0): DataFrame = {
    // Count-based formulation (no array re-join, no distinct pass): the
    // postings are DISTINCT shingles per doc, so the posting equi-join
    // emits exactly one row per (pair, common shingle) and a partial-
    // aggregating count per pair IS |A∩B|; |A∪B| = |A|+|B|-|A∩B| from
    // the carried set sizes. A size-ratio prefilter (jaccard ≥ t forces
    // min(|A|,|B|) ≥ t·max) drops incompatible pairs before the shuffle-
    // heavy aggregation. ~4× cheaper than re-joining the shingle arrays
    // and intersecting per candidate.
    val sized = df.select(col(idCol), shingles(col(textCol), k).as("__sh"))
      .select(col(idCol), size(col("__sh")).as("__n"), explode(col("__sh")).as("__tok"))
    val postings = dropOverCapBuckets(sized, Seq("__tok"), maxBucket)
    val a = postings.select(col(idCol).as("id_a"), col("__n").as("__na"), col("__tok"))
    val b = postings.select(col(idCol).as("id_b"), col("__n").as("__nb"), col("__tok"))
    // SHUFFLE_HASH, not broadcast: the two sides are the SAME posting
    // frame, so a shuffle join's two Exchanges canonicalize identically
    // and the second becomes a ReusedExchange — the corpus is scanned
    // and shingled ONCE, not once per side (a broadcast join keeps both
    // subtrees alive: it re-shingles the corpus to build the hash
    // relation AND to stream against it). At 100 TB a corpus-sized
    // posting table could never broadcast anyway — this pins the plan
    // the big regime uses, minus the driver collect.
    a.hint("shuffle_hash").join(b, Seq("__tok"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("__na"), col("__nb")).cast("double") >=
        lit(threshold) * greatest(col("__na"), col("__nb")))
      .groupBy("id_a", "id_b", "__na", "__nb").agg(count(lit(1)).as("__c"))
      .withColumn("jaccard", col("__c").cast("double") /
        (col("__na") + col("__nb") - col("__c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact edit-distance (Levenshtein ≤ maxDist) similarity join — the
    * typo/near-duplicate-title join the set-similarity operators can't
    * express (Jaccard is order-blind; edit distance is not).
    *
    * Candidate generation is the SYMMETRIC-DELETE neighborhood
    * (SymSpell, public): if ed(a,b) ≤ k, deleting the edited positions
    * from each side yields a COMMON ≤k-deletion variant, so true pairs
    * always collide on a variant signature. Signatures come from the
    * native `delete_variant_hashes` expression
    * ([[graft.functions.GeomImpl.deleteVariantHashes]]) — a polynomial
    * rolling hash evaluates every spliced variant in O(1) after O(n)
    * prep, so variants are never materialized. Candidates = pairs
    * sharing a signature; survivors pay one exact `levenshtein`.
    * Hash collisions only ADD candidates (verify removes them), so the
    * join is exact.
    *
    * Why this and not q-gram count/prefix filtering: gram filters key
    * on gram VALUES, whose selectivity collapses on low-diversity text
    * (a 40-word vocabulary makes every gram hot and the posting join
    * quadratic — measured 222 s at sf0.1 before this rewrite). A
    * deletion signature keys on (almost) the WHOLE string, so bucket
    * sizes track true near-dup multiplicity, not vocabulary: only
    * strings that really are within-k collide. The trade is write-side
    * fan-out — 1 + n + n(n−1)/2 signatures per string for k=2 — which
    * is why the operator runs on bounded keys (titles, normalized
    * prefixes), the SymSpell deployment shape. IDENTICAL strings are
    * collapsed before any signature work (see below), so duplicate
    * mass costs output size, never bucket blowup.
    *
    * `maxBucket` caps residual hot signature buckets — counted in
    * DISTINCT strings — with the exactness trade as usual (default
    * off — this IS the ground-truth operator; exact-dup pairs are
    * always found regardless of the cap).
    */
  def editDistanceJoin(
      df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, minLen: Int = 4,
      maxBucket: Int = 0): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      "editDistanceJoin: maxDist must be 1 or 2 (deletion-neighborhood size)")
    // EXACT-DUP COLLAPSE FIRST: identical strings (boilerplate, mirror
    // crawls) would otherwise multiply every signature bucket — a
    // 2,000-copy prefix is 2,000 members in all ~800 of its buckets
    // (measured 118 s on the adversarial-skew corpus). Collapsed, the
    // expensive stages (neighborhood signatures, bucket join, verify)
    // run over DISTINCT strings only; the id groups expand back at
    // output, where the pair count is the answer's own size.
    // materialized once (localCheckpoint): four consumers — the
    // within-group expansion, the signature postings and both candidate
    // string joins — would otherwise each replay the collapse shuffle
    // group ids derive from the STRING (xxhash64), not from
    // array_min(ids): a duplicate id value attached to two distinct
    // strings would collide min-id group keys and fan out the candidate
    // joins with silently duplicated pairs — the string hash keys each
    // distinct string exactly once regardless of id hygiene (a 64-bit
    // collision between two <=k-edit candidate strings is the only
    // residual hazard, vanishingly unlikely and caught by the exact
    // levenshtein verify emitting a dup pair, not a wrong distance)
    val groups = df
      .select(col(idCol).as("__id"), col(strCol).as("__s"))
      .filter(col("__s").isNotNull && length(col("__s")) >= minLen)
      .groupBy("__s").agg(collect_list(col("__id")).as("__ids"))
      .withColumn("__gid", xxhash64(col("__s")))
      .localCheckpoint()
    // identical strings are dist-0 pairs by definition
    val within = groups.filter(size(col("__ids")) >= 2)
      .select(explode(col("__ids")).as("id_a"), col("__ids"))
      .select(col("id_a"), explode(col("__ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("dist"))
    // gid-only postings: the signature shuffle carries 2 longs per row,
    // never the strings; ONE shuffle groups by signature and emits
    // within-bucket group pairs (a self-join would recompute the whole
    // neighborhood expansion per side).
    // The checkpointed `groups` frame is AQE-coalesced by BYTES, which
    // on a small-byte corpus serializes the O(len²/2)-per-string
    // neighborhood hashing on one core — fan it out when coalescing
    // left fewer partitions than cores (the qProfile guard; the extra
    // exchange moves distinct strings once, trivial next to the
    // signature expansion it parallelizes, and a no-op at warehouse
    // scale where the checkpoint is already wide).
    val par = df.sparkSession.sparkContext.defaultParallelism
    val gSrc = if (groups.rdd.getNumPartitions < par)
      groups.repartition(par) else groups
    val posts = gSrc.select(col("__gid"),
      explode(array_distinct(graft.functions.FunctionDefs.call(
        "delete_variant_hashes", col("__s"), lit(maxDist)))).as("__sig"))
    val cap = if (maxBucket > 0) maxBucket else Int.MaxValue
    // the signature aggregate sees ~len²/2 × strings rows, nearly all
    // singleton groups — size its partitioning to the MEASURED posting
    // count, not the session default (38M rows into 32 partitions
    // spills every hash map; 256 partitions measured 71 → 29 s at sf1).
    // r12: the former 8×-session-default heuristic kept per-partition
    // maps ~150k rows only by luck of the sf; a closed-form posting
    // estimate over the already-materialized `groups` frame — each
    // distinct string emits ≤ 1 + L + L(L−1)/2 signatures for k=2 —
    // costs one tiny job and keeps the maps at ~128k rows per
    // partition at EVERY corpus size, so host memory pressure cannot
    // turn the aggregation into a spill storm (the r11 driver-sweep
    // divergence class). AQE can coalesce small post-shuffle
    // partitions but never split a pre-aggregation map that is
    // already too big.
    val postEst = groups.select(sum(
      if (maxDist >= 2)
        lit(1L) + length(col("__s")) +
          length(col("__s")).cast("long") * (length(col("__s")) - 1) / 2
      else lit(1L) + length(col("__s")).cast("long")).as("p"))
      .head.getAs[Any]("p") match {
        case null      => 0L
        case n: Number => n.longValue()
      }
    val floor = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // clamp in Long BEFORE narrowing: a giant-corpus estimate would
    // wrap (postEst / 128000).toInt negative and silently fall back to
    // the session floor — the exact regime the sizing exists for
    val sigParts = math.min(4096L, math.max(floor.toLong, postEst / 128000L + 1)).toInt
    val pp = posts.repartition(sigParts, col("__sig"))
    val gidPairs = (if (cap == Int.MaxValue) {
      // Uncapped pair generation as a signature SELF-JOIN, not a
      // collect_list aggregate: nearly every signature group is a
      // singleton, so the former groupBy allocated one list per
      // posting row (~postEst tiny ArrayBuffers through an
      // ObjectHashAggregate) just to throw most of them away —
      // measured 148 s task time in ONE stage at 10× sf0.1.
      // SHUFFLE_HASH on the shared repartition ([[jaccardJoin]]'s
      // reasoning): the two sides canonicalize to the SAME exchange,
      // so the neighborhood expansion runs once and the second side
      // is a ReusedExchange; within-bucket pairs stream out of a
      // per-partition hash build (≤ ~128k rows by sigParts, an
      // explicit partition count AQE leaves alone) instead of
      // materializing per-group lists. Emits exactly the old shape's
      // rows: co-bucketed ordered pairs, deduped across signatures.
      pp.select(col("__sig"), col("__gid").as("__ga")).hint("shuffle_hash")
        .join(pp.select(col("__sig"), col("__gid").as("__gb")), Seq("__sig"))
        .filter(col("__ga") < col("__gb"))
    } else {
      // Capped regime needs every bucket's SIZE before any pair is
      // emitted — the aggregate stays (cap filtering is the point).
      pp.groupBy("__sig")
        .agg(collect_list(col("__gid")).as("__m"))
        .filter(size(col("__m")) >= 2 && size(col("__m")) <= cap)
        .select(explode(col("__m")).as("__ga"), col("__m"))
        .select(col("__ga"), explode(col("__m")).as("__gb"))
        .filter(col("__ga") < col("__gb"))
    }).select("__ga", "__gb").distinct()
    // strings + member lists re-acquired only for surviving candidates
    val sides = groups.select(col("__gid"), col("__s"), col("__ids"))
    val cross = gidPairs
      .join(sides.select(col("__gid").as("__ga"), col("__s").as("__sa"),
        col("__ids").as("__ia")), "__ga")
      .join(sides.select(col("__gid").as("__gb"), col("__s").as("__sb"),
        col("__ids").as("__ib")), "__gb")
      .withColumn("dist", levenshtein(col("__sa"), col("__sb")))
      .filter(col("dist") <= maxDist) // distinct strings ⇒ dist ≥ 1
      .select(explode(col("__ia")).as("__a"), col("__ib"), col("dist"))
      .select(col("__a"), explode(col("__ib")).as("__b"), col("dist"))
      .select(least(col("__a"), col("__b")).as("id_a"),
        greatest(col("__a"), col("__b")).as("id_b"), col("dist"))
    within.unionByName(cross)
  }

  /** The w-bit chunk array of a 64-bit hash column — the shared banding
    * expression for [[hammingPairs]] and the persisted
    * [[graft.sources.HammingIndex]] (the [[sigFrame]] contract: index
    * probes must chunk exactly as the in-flight path does, or they
    * would miss collisions it finds). `hashColName` is interpolated
    * into a SQL lambda because the per-element shift amount is itself
    * the lambda variable (the Column API's shiftright takes a literal).
    */
  private[graft] def hammingChunks(hashColName: String, pieces: Int): Column = {
    require(pieces >= 2 && 64 % pieces == 0, "pieces must divide 64")
    val width = 64 / pieces
    val mask = if (width == 64) -1L else (1L << width) - 1L
    expr(s"transform(sequence(0, ${pieces - 1}), " +
      s"j -> shiftright($hashColName, cast(j * $width AS int)) & ${mask}L)")
  }

  /** Generic Hamming near-dup pairs over ANY 64-bit signature column
    * (SimHash, perceptual image hashes, audio fingerprints): pigeonhole
    * banding — split the word into `pieces` chunks; hamming ≤ maxDist <
    * pieces forces ≥ 1 shared (position, chunk) — then the exact
    * popcount verify.
    *
    * HASH-IDENTICAL COLLAPSE FIRST (the [[editDistanceJoin]] shape):
    * real crawl corpora carry huge hash-identical populations — blank or
    * solid-color images all aHash to the same 64-bit value. Posted raw,
    * a 1M-image blank cluster is 1M members in each of its `pieces`
    * band buckets and ~10¹² in-bucket pairs in ONE task. Collapsed, the
    * banding stages see DISTINCT hashes only: the degenerate cluster is
    * one posting per band, its members come back as dist-0 pairs emitted
    * arithmetically from group membership, and duplicate mass costs
    * output size, never bucket blowup. Postings carry the 8-byte hash
    * alone; id lists re-join only for surviving verified hash pairs.
    *
    * `maxBucket` caps residual hot band buckets — counted in DISTINCT
    * hashes (a diverse near-collision population, not duplicate mass) —
    * with the usual exactness trade: over-cap buckets drop their
    * CROSS-hash candidate pairs (dist-0 pairs are always exact). The
    * trade is a measured contract: DedupSpec plants a retention corpus
    * and pins what a cap keeps. Regimes (r10): > 0 explicit cap; 0
    * (default) the [[defaultMaxBucketFixedWidth]] cap — 8× the uniform
    * occupancy n/2^width of the DISTINCT hash count (free — `groups`
    * is already materialized; an ABSOLUTE √n cap is wrong here, see
    * that helper's doc); < 0 unlimited, the ground-truth regime the
    * CORRECTNESS entries pin (their oracles replay the complete pair
    * set, which a cap may legitimately shrink at scales where a band
    * bucket outgrows it).
    *
    * Precondition: `idCol` is unique (one signature per id, the
    * [[editDistanceJoin]] contract). Duplicate ids would re-enter the
    * within-group expansion once per occurrence; an id spread across
    * two near hashes is guarded against surfacing as a self pair, but
    * its cross pairs are the caller's duplicate mass.
    *
    * The collapsed hash groups are checkpointed into `pins` and the
    * result reads them lazily: the caller's [[Pins]] owns them.
    */
  def hammingPairs(df: DataFrame, idCol: String, hashCol: String,
                   maxDist: Int, pieces: Int = 8, maxBucket: Int = 0,
                   pins: Pins = new Pins): DataFrame = {
    require(pieces >= 2 && 64 % pieces == 0, "pieces must divide 64")
    require(maxDist >= 0 && maxDist < pieces,
      "pigeonhole banding needs maxDist < pieces")
    val width = 64 / pieces
    // materialized once (localCheckpoint): three consumers — the
    // within-group expansion, the band postings and the candidate id
    // re-join — would otherwise each replay the collapse shuffle
    val groups = pins(df
      .select(col(idCol).as("__id"), col(hashCol).cast("long").as("__h"))
      .filter(col("__h").isNotNull)
      .groupBy("__h").agg(collect_list(col("__id")).as("__ids")))
    // hash-identical members are dist-0 pairs by definition
    val within = groups.filter(size(col("__ids")) >= 2)
      .select(explode(col("__ids")).as("id_a"), col("__ids"))
      .select(col("id_a"), explode(col("__ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("dist"))
    // band DISTINCT hashes only; the posting shuffle carries 2 longs +
    // a band position per row, never ids or member lists
    val posts = groups.select(col("__h"),
      posexplode(hammingChunks("__h", pieces)).as(Seq("__p", "__k")))
    val cap =
      if (maxBucket > 0) maxBucket
      else if (maxBucket == 0) defaultMaxBucketFixedWidth(groups.count(), width)
      else Int.MaxValue
    val hashPairs = posts.groupBy("__p", "__k")
      .agg(collect_list(col("__h")).as("__m"))
      .filter(size(col("__m")) >= 2 && size(col("__m")) <= cap)
      .select(explode(col("__m")).as("__ha"), col("__m"))
      .select(col("__ha"), explode(col("__m")).as("__hb"))
      .filter(col("__ha") < col("__hb"))
      .withColumn("dist", bit_count(col("__ha").bitwiseXOR(col("__hb"))))
      .filter(col("dist") <= maxDist)
      .select("__ha", "__hb", "dist").distinct()
    // id lists re-acquired only for surviving verified hash pairs.
    // Under the unique-id precondition the two id lists are disjoint
    // (an id carries ONE hash) so no distinct() is needed on the
    // output-sized frame; the =!= guard keeps an id that violates the
    // contract across two near hashes from surfacing as a self pair.
    val cross = hashPairs
      .join(groups.select(col("__h").as("__ha"), col("__ids").as("__ia")),
        "__ha")
      .join(groups.select(col("__h").as("__hb"), col("__ids").as("__ib")),
        "__hb")
      .select(explode(col("__ia")).as("__a"), col("__ib"), col("dist"))
      .select(col("__a"), explode(col("__ib")).as("__b"), col("dist"))
      .filter(col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("id_a"),
        greatest(col("__a"), col("__b")).as("id_b"), col("dist"))
    within.unionByName(cross)
  }

  // ------------------------------------------------------------ simhash

  /** 64-bit SimHash over whitespace tokens: per-bit ±1 votes from each
    * token's xxhash64, sign-packed MSB-first. Native codegen'd loop
    * (graft.functions.GeomImpl.simhashNative).
    */
  def simhash64(textCol: String): Column =
    graft.functions.FunctionDefs.call("simhash64", split(col(textCol), " "))

  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with Hamming distance <= maxDist:
    * [[simhash64]] feeds the generic collapse-first [[hammingPairs]]
    * banding (pigeonhole chunks over the 64-bit hash, exact popcount
    * verify). Returns (id_a, id_b, dist).
    *
    * Since r11 this IS [[hammingPairs]] over the text's simhash — one
    * banding engine for every 64-bit signature family, with one
    * `maxBucket` regime encoding ([[BucketAuto]]/[[BucketUnlimited]]):
    * > 0 explicit cap, 0 the computed [[defaultMaxBucketFixedWidth]]
    * occupancy cap, < 0 unlimited. Collapse-first changes the capped
    * semantics vs the r10 row-counted form: hash-identical documents
    * (exact-dup mass) always surface as dist-0 pairs whatever the cap
    * — the cap is counted in DISTINCT hashes and sheds only cross-hash
    * candidate pairs from degenerate bands (DedupSpec pins both
    * halves). MIGRATION: before r11, maxBucket = 0 meant unlimited
    * here; callers wanting the exact regime must pass
    * [[BucketUnlimited]].
    */
  def simhashNearDup(
      df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, pieces: Int = 4, maxBucket: Int = 0): DataFrame =
    hammingPairs(
      df.select(col(idCol), simhash64(textCol).as("__simhash")),
      idCol, "__simhash", maxDist, pieces, maxBucket)

  // ------------------------------------------------- embedding near-dup

  /** Exact embedding near-duplicates: all pairs with cosine >= threshold.
    * O(n²) verification baseline — at scale use [[Ann.lshBuckets]] to
    * block candidates first and verify only within buckets.
    */
  def embeddingNearDup(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val e = df.select(
      col(idCol), Vectors.toDouble(col(vecCol)).as("__v"))
    // the broadcast-nested-loop stream side inherits the SCAN's
    // partitioning — a single-row-group input serializes the O(n²)
    // cosine verify on one core. Fan it out when the scan yields fewer
    // splits than cores (the qProfile guard: a no-op on real multi-file
    // layouts, and the repartition cost is O(n) vectors vs O(n²) work).
    val e0 = e.localCheckpoint(eager = false)
    val par = df.sparkSession.sparkContext.defaultParallelism
    val eP = if (e0.rdd.getNumPartitions < par) e0.repartition(par) else e0
    val a = eP.select(col(idCol).as("id_a"), col("__v").as("__va"))
    val b = e0.select(col(idCol).as("id_b"), col("__v").as("__vb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", Vectors.cosine(col("__va"), col("__vb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** LSH-blocked embedding near-dup — the 100 TB path: candidates come
    * from a self-join on random-hyperplane bucket keys (multiple
    * independent tables to recover boundary losses), exact cosine only
    * within buckets. One scan computes all signatures; the shuffle
    * carries (table, bucket, id, vec) instead of the n² cross product.
    * Reported cosines are exact; recall follows the LSH S-curve
    * (high-cosine pairs collide in some table with high probability).
    *
    * `nBits` is the cost knob and must scale with the corpus: expected
    * bucket size is n/2^nBits, so candidate-pair cost is
    * Σ|bucket|² ≈ n²/2^nBits per table — with nBits FIXED each data
    * decade costs ~100× in candidates (measured in SCALE_r06: 103×
    * candidate pairs and ~11× wall for the sf1→sf10 decade at nBits=8,
    * vs 2.8×/decade holding bucket size with nBits=12). Raising nBits
    * also lowers the per-table collision probability p = (1−θ/π)^nBits,
    * so recall at the threshold drops unless `tables` rises with it —
    * pick the (nBits, tables) operating point with a recall contract
    * (dd_embed_recall's pattern) and hold n/2^nBits roughly constant
    * as the corpus grows.
    */
  def embeddingNearDupBlocked(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nBits: Int = 8, tables: Int = 8, seed: Long = 7): DataFrame = {
    val e = df.select(col(idCol).as("__id"), Vectors.toDouble(col(vecCol)).as("__v"))
      .select(col("__id"), col("__v"),
        posexplode(array((0 until tables).map(t =>
          graft.functions.FunctionDefs.call("lsh_bucket",
            col("__v"), lit(nBits), lit(seed + t * 7919))): _*)).as(Seq("__tbl", "__bucket")))
    val a = e.select(col("__id").as("id_a"), col("__v").as("__va"), col("__tbl"), col("__bucket"))
    val b = e.select(col("__id").as("id_b"), col("__v").as("__vb"), col("__tbl"), col("__bucket"))
    // self-join: SHUFFLE_HASH + ReusedExchange — signatures computed once
    a.hint("shuffle_hash").join(b, Seq("__tbl", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "__va", "__vb").distinct()
      .withColumn("cos", Vectors.cosine(col("__va"), col("__vb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  // ------------------------------------------------ component clustering

  /** SemDeDup (after the public recipe — Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): k-means-cluster the embeddings, compare pairs only
    * WITHIN a cluster (cosine ≥ threshold), then collapse transitive
    * near-dup groups and keep the min-id representative of each. Output:
    * (survivor_id, n_members) — singletons included, exactly like
    * [[exactGroups]], so downstream keep-joins are interchangeable.
    *
    * At 100 TB: centroids come from [[graft.ops.Ann.kmeansCentroids]]
    * (vec_sum Lloyd rounds, nlist rows to the driver) and ride in the
    * plan as a literal; assignment is one scan-side expression; the
    * pair stage is a cluster-keyed self-equi-join — pair cost is
    * Σ|cluster|² instead of n², and nlist is the knob that bounds it
    * (the paper runs ~100k clusters at web scale; SCALE_r06 measures
    * the knob: fixed nlist=8 cost 46× wall for the sf1→sf10 decade,
    * nlist scaled with n held the same decade to 2.2×). Recall is exact
    * WITHIN clusters; cross-cluster near-dups are the documented miss,
    * shrinking as clustering tightens — at nlist=1 the operator
    * degrades to the exact all-pairs closure (the oracle regime).
    * [[connectedComponents]] then shuffles labels only.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nlist: Int = 16, iters: Int = 2,
                    seed: Long = 7): DataFrame =
    semanticComponents(df, idCol, vecCol, threshold, nlist, iters, seed)
      .groupBy("group_id")
      .agg(min(col("id")).as("survivor_id"), count(lit(1)).as("n_members"))
      .select("survivor_id", "n_members")

  /** Per-id semantic-dup group labels (the row-level view of
    * [[semanticDedup]]): every input id, labeled with the min id of its
    * within-cluster cosine component (its own id if unpaired).
    *
    * Determinism caveat (same as [[graft.ops.Ann.kmeansCentroids]]'s
    * callers): with nlist>1 the centroids come from vec_sum float
    * aggregation, whose summation order varies with partitioning —
    * borderline cosine/assignment ties can flip, so the output is
    * partitioning-sensitive. Keep driver checks rows-only (or use the
    * nlist=1 exhaustive regime, which skips Lloyd entirely); do NOT
    * promote dd_semantic to a hash-compared oracle.
    */
  def semanticComponents(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nlist: Int = 16, iters: Int = 2,
                         seed: Long = 7): DataFrame = {
    val c = df.select(col(idCol).cast("long").as("id"),
      Vectors.toDouble(col(vecCol)).as("__v"))
    // nlist=1 is the exhaustive regime: every row lands in the single
    // cluster whatever its centroid — skip the Lloyd rounds entirely
    val assigned =
      if (nlist == 1) c.withColumn("__c", lit(0))
      else {
        val cent = typedlit(Ann.kmeansCentroids(df, idCol, vecCol, nlist, iters, seed).toSeq)
        c.withColumn("__c", graft.functions.FunctionDefs.call("ivf_assign", col("__v"), cent))
      }
    // the within-cluster pair join broadcasts one side and streams the
    // other with the SCAN's partitioning — a single-row-group input
    // serializes the Σ|cluster|² cosine verify on one core (worst at
    // the nlist=1 oracle regime). Fan the stream side out when the scan
    // yields fewer splits than cores (the qProfile guard; repartition
    // cost is O(n) vectors vs O(Σ|cluster|²) verify work).
    val a0 = assigned.localCheckpoint(eager = false)
    val par = df.sparkSession.sparkContext.defaultParallelism
    val aP = if (a0.rdd.getNumPartitions < par) a0.repartition(par) else a0
    val a = aP.select(col("__c"), col("id").as("id_a"), col("__v").as("__va"))
    val b = a0.select(col("__c"), col("id").as("id_b"), col("__v").as("__vb"))
    val pairs = a.join(b, Seq("__c"))
      .filter(col("id_a") < col("id_b"))
      .filter(Vectors.cosine(col("__va"), col("__vb")) >= threshold)
      .select("id_a", "id_b")
    val cc = connectedComponents(pairs)
    c.select(col("id")).join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("group_id"))
  }

  /** Minimum-label connected components over an undirected pair list:
    * (id, comp) for every node appearing in `pairs`, comp = smallest id
    * in the node's component.
    *
    * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
    * Mirrokni, Rastogi & Vassilvitskii, "Connected Components in
    * MapReduce and Beyond", SoCC 2014), which converges in O(log n)
    * alternations even on path/chain graphs — replacing the previous
    * min-label propagation whose round count was the component DIAMETER
    * (a 10k-link template chain cost 10k sequential shuffles; now ~14).
    * Each phase is label-only traffic: a partial-aggregable groupBy-min
    * plus an equi-join on the same key, never a collect_set — so a hot
    * node's neighborhood reduces map-side instead of materializing as
    * one array (hot-key-safe), and each round localCheckpoints to keep
    * the plan lineage flat. Convergence is detected from ONE aggregate
    * per round — edge count plus two independent order-independent
    * 64-bit xor digests of the pair hashes — computed on the SAME job
    * that materializes the round's lazy checkpoint, so each alternation
    * costs exactly one job launch (count + except cost three, and the
    * except was a full extra shuffle; at ~14 rounds the job launches
    * were the dominant driver latency). A premature stop would need two
    * DIFFERENT edge sets agreeing on count and both digests (~2^-128);
    * maxIter still bounds the loop if a digest collision ever masked a
    * change. At the fixpoint the edge set is one star per component
    * centered on its minimum id.
    */
  def connectedComponents(pairs: DataFrame, idACol: String = "id_a",
                          idBCol: String = "id_b", maxIter: Int = 25): DataFrame =
    connectedComponentsWithRounds(pairs, idACol, idBCol, maxIter)._1

  /** [[connectedComponents]] plus the number of large+small-star rounds
    * it ran — exposed so the O(log n) convergence contract is testable.
    * `localCutoff` overrides [[LocalCcMaxEdges]] (0 disables the local
    * fast path — the distributed-contract tests pin the alternating-star
    * rounds through it).
    */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, idACol: String = "id_a", idBCol: String = "id_b",
      maxIter: Int = 25, localCutoff: Long = LocalCcMaxEdges): (DataFrame, Int) =
    ccInternal(pairs, idACol, idBCol, maxIter, new Pins, localCutoff)

  /** Edge-count gate below which the CC fixpoint finishes as ONE driver
    * union-find instead of O(log n) alternating-star rounds. Every
    * distributed round costs 3-4 exchanges plus a job launch — pure
    * driver latency once the edge set is small — while 200k edges are
    * ~3 MB collected (the [[graft.sources.LineIndex]] maxCollect
    * precedent: a bounded collect WITH a fully-distributed fallback).
    * The gate reads the edge count the init-signature job already
    * computes, so the big regime pays nothing; real corpora enter the
    * distributed path the moment pairs outgrow the bound. This is the
    * standard hybrid CC shape: iterate distributed until the graph fits
    * on one node, then finish locally — here the graph either starts
    * under the bound (label-level supernode merges, small-SF pair sets)
    * or never crosses it downward mid-run (alternating-star never grows
    * the edge count, so the gate is checked once, up front).
    */
  private[graft] val LocalCcMaxEdges: Long = 200000L

  /** [[connectedComponentsWithRounds]] with its checkpoints in `pins`:
    * the RESULT reads the pair frame, the node set and the fixpoint
    * edge set lazily, so [[mergeComponents]] closes its own `pins` once
    * the labels have materialized. Superseded PER-ROUND edge frames are
    * released inline here (each round's signature job materializes and
    * lineage-truncates the next frame, so the previous round's blocks
    * are dead the moment it returns).
    */
  private def ccInternal(
      pairs: DataFrame, idACol: String, idBCol: String, maxIter: Int,
      pins: Pins, localCutoff: Long = LocalCcMaxEdges): (DataFrame, Int) = {
    // lazy-checkpoint the pair frame itself: `nodes` and the edge seed
    // both read it, and pair generation is typically the most expensive
    // upstream stage (a similarity join) — without this it would be
    // computed twice. Null endpoints are dropped edge-wise (a pair with
    // no partner is not an edge; NullSafetySpec pins it) so a stray
    // null key can't surface as a (null, null) label row.
    val raw = pins(pairs.select(col(idACol).cast("long").as("src"),
      col(idBCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull), eager = false)
    // lazy: materializes inside the final labels join, no dedicated job
    val nodes = pins(raw.select(col("src").as("id"))
      .union(raw.select(col("dst").as("id"))).distinct(), eager = false)

    // large-star: for each node u, hang every LARGER neighbor off
    // min(Γ(u) ∪ {u}) — emitted edges always point big → small
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src").agg(min("dst").as("__mn"))
        .select(col("src"), least(col("__mn"), col("src")).as("m"))
      sym.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }

    // small-star: orient big → small, then hang every SMALLER-or-equal
    // neighbor (and u itself) off min(Γ(u) ∪ {u})
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val mins = o.groupBy("src").agg(min("dst").as("__mn"))
        .select(col("src"), least(col("__mn"), col("src")).as("m"))
      o.join(mins, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(mins.select(col("src"), col("m").as("dst")))
        .distinct()
    }

    // edge-set signature: count + two independent xor digests, all
    // partial-aggregable (one row per partition through the shuffle);
    // running it against a LAZY localCheckpoint makes the signature job
    // double as the checkpoint materialization — one job per round
    def sig(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(
        count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(src, dst))").as("x1"),
        expr("bit_xor(xxhash64(dst, src, 7))").as("x2")).head()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    var edges = pins(raw.filter(col("src") =!= col("dst")).distinct(), eager = false)
    var prevSig = sig(edges)
    // LOCAL FAST PATH (see LocalCcMaxEdges): the init-sig job above
    // already materialized the distinct edge set and counted it — when
    // it fits the bounded-collect gate, one driver union-find replaces
    // every alternating-star round. Labels are identical by
    // construction: union always roots at the SMALLER id, so find(x)
    // is exactly the component's minimum member id (DedupSpec pins
    // local == distributed on the same graphs).
    if (prevSig._1 > 0L && prevSig._1 <= localCutoff) {
      val arr = edges.collect()
      val parent = new java.util.HashMap[Long, java.lang.Long](
        math.min(arr.length * 4L, Int.MaxValue.toLong).toInt)
      def find(x: Long): Long = {
        var r = x
        while ({ val p = parent.get(r); p != null && p.longValue() != r }) r = parent.get(r)
        var c = x
        while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
        r
      }
      arr.foreach { e =>
        val ra = find(e.getLong(0)); val rb = find(e.getLong(1))
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      import scala.jdk.CollectionConverters._
      val sess = pairs.sparkSession
      val mapping = sess.createDataFrame(
        parent.keySet().asScala.toSeq.map { id =>
          org.apache.spark.sql.Row(id.longValue(), find(id.longValue()))
        }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("comp",
            org.apache.spark.sql.types.LongType, nullable = false))))
      val labels = nodes
        .join(broadcast(mapping), Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
      return (labels, 0)
    }
    var rounds = 0
    var converged = prevSig._1 == 0L
    while (rounds < maxIter && !converged) {
      val next = pins(smallStar(largeStar(edges)), eager = false)
      val nextSig = sig(next)
      converged = nextSig == prevSig
      // the sig job materialized (and lineage-truncated) `next`: the
      // superseded round's blocks are dead — release them so a deep
      // convergence doesn't pin one edge-frame copy per round
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(edges)
      edges = next
      prevSig = nextSig
      rounds += 1
    }
    val labels = nodes
      .join(edges.select(col("src").as("id"), col("dst").as("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    (labels, rounds)
  }

  /** Incremental connected components — fold NEW near-dup edges into an
    * existing labeling WITHOUT recomputing the closure: the daily-ingest
    * dedup maintenance step (new pairs arrive from a banded LSH pass or
    * [[incrementalNovel]]'s exact digest join over the day's batch).
    *
    * Existing components are transitively closed, so they merge as
    * SUPERNODES: each new edge's endpoints map to their current
    * component label (identity for never-seen ids), the label-level
    * edge set — at most new-edge-count edges, independent of corpus
    * size — runs through the same O(log n) alternating-star CC, and
    * the old-label → merged-root mapping broadcasts back over the big
    * labels table in ONE scan with a hash probe (the [[MergeInto]]
    * trade: the 100 TB labels table never shuffles). Component ids
    * stay min-id: a supernode's label IS its component's minimum
    * member id, so the merged root is the minimum over the merged
    * membership — the result equals the full-rebuild
    * [[connectedComponents]] over (old edges ∪ new edges) bit for bit
    * (the q_scd2_inc oracle shape; CORRECTNESS entry
    * `dd_components_inc`).
    *
    * The result reads three checkpoints lazily (the edge frame, the
    * endpoint map, the merged-root map); they go to `pins`, which the
    * caller owns — [[graft.streaming.CcStream]] closes it once the
    * merged labeling has materialized, so a stream running for
    * thousands of triggers holds ONE labels copy. The super-graph CC's
    * own internals are released here (dead once `merged` is eagerly
    * checkpointed).
    *
    * @param labels existing labeling: (id, comp) as produced by
    *               [[connectedComponents]] (comp = min member id)
    * @return (id, comp) covering labeled ids ∪ new-edge endpoints
    */
  def mergeComponents(labels: DataFrame, newEdges: DataFrame,
                      idACol: String = "id_a", idBCol: String = "id_b",
                      pins: Pins = new Pins): DataFrame = {
    val edges = pins(newEdges.select(col(idACol).cast("long").as("__a"),
      col(idBCol).cast("long").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull), eager = false)
    val eps = edges.select(col("__a").as("id"))
      .union(edges.select(col("__b").as("id"))).distinct()
    // current label of every endpoint: ONE labels scan behind a
    // broadcast semi-join probe (output is endpoint-sized)
    val seen = labels.join(broadcast(eps), Seq("id"), "left_semi")
      .select(col("id"), col("comp"))
    val epMap = pins(seen) // small; consumed three times
    val superEdges = edges
      .join(broadcast(epMap.select(col("id").as("__a"), col("comp").as("__ca"))),
        Seq("__a"), "left")
      .join(broadcast(epMap.select(col("id").as("__b"), col("comp").as("__cb"))),
        Seq("__b"), "left")
      .select(coalesce(col("__ca"), col("__a")).as("id_a"),
        coalesce(col("__cb"), col("__b")).as("id_b"))
    // supernode → merged root over the TINY label-level graph; the
    // CC's internal checkpoints are dead once `merged` materializes
    val ccPins = new Pins
    val merged = pins(ccInternal(superEdges, "id_a", "id_b", 25, ccPins)._1)
    ccPins.close()
    // relabel the big table in one scan; untouched comps pass through
    val relabeled = labels
      .join(broadcast(merged.select(col("id").as("comp"), col("comp").as("__new"))),
        Seq("comp"), "left")
      .select(col("id"), coalesce(col("__new"), col("comp")).as("comp"))
    // never-seen endpoints enter with their merged root (every new id
    // IS a supernode, so the mapping covers it; isolated-after-self-loop
    // ids fall back to themselves)
    val newIds = eps.join(broadcast(epMap.select("id")), Seq("id"), "left_anti")
    val newRows = newIds.join(broadcast(merged), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    relabeled.unionByName(newRows)
  }

  // ------------------------------------------- incremental (bloom-gated)

  /** Incremental ingest dedup through a broadcast Bloom gate: flag each
    * incoming row as novel (1) or already-in-history (0), EXACTLY.
    *
    * The 100 TB shape: a full-fidelity answer would shuffle-join every
    * incoming row's digest against the historical corpus. Instead the
    * history reduces to one m-bit Bloom filter ([[graft.functions.BloomAgg]]
    * — partial filters OR together map-side, so the build shuffles one
    * buffer per partition, not rows), the filter rides the plan as a
    * binary literal, and a scan-side `bloom_contains` probe splits
    * incoming into (a) definite-novel rows — a Bloom "no" has no false
    * negatives — which never shuffle, and (b) the maybe-duplicate
    * minority (true dups + the configured fp rate) whose md5 digests
    * alone pay the verification join. Result quality is identical to the
    * full join; the filter only decides how much work the join sees.
    * Sized at the default 2^23 bits / 5 hashes, 1 M history docs probe at
    * fp ≈ 1.7% — tune numBits ≈ 10·|history| for ≲1%.
    *
    * Null-safe throughout: null text hashes to a sentinel on both the
    * build and probe sides, and the verification join compares digests
    * with `<=>`, so a null-text incoming row deduplicates against a
    * null-text history row instead of always reading as novel.
    */
  def incrementalNovel(history: DataFrame, incoming: DataFrame,
                       idCol: String, textCol: String,
                       numBits: Long = 1L << 23, numHashes: Int = 5): DataFrame = {
    val contentHash = coalesce(xxhash64(col(textCol)), lit(0L))
    val bloom = history
      .agg(graft.functions.FunctionDefs.callAgg("bloom_agg",
        contentHash, lit(numBits), lit(numHashes)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val flagged = incoming.withColumn("__maybe",
      graft.functions.FunctionDefs.call("bloom_contains",
        lit(bloom), contentHash, lit(numHashes)))
    val certainNew = flagged.filter(!col("__maybe"))
      .select(col(idCol), lit(1).as("is_new"))
    val histDigests = history
      .select(md5(col(textCol)).as("__hh")).distinct()
      .withColumn("__seen", lit(1))
    val resolved = flagged.filter(col("__maybe"))
      .select(col(idCol), md5(col(textCol)).as("__h"))
      .join(histDigests, col("__h") <=> col("__hh"), "left")
      .select(col(idCol),
        when(col("__seen").isNull, 1).otherwise(0).as("is_new"))
    certainNew.unionByName(resolved)
  }

  /** Cross-source duplication matrix — the provenance diagnostic a
    * multi-crawl merge runs before choosing survivor policy: for every
    * unordered source pair (a < b), how many DISTINCT content keys
    * appear in both, and what fraction of each side's distinct keys that
    * overlap is. `keyed` is any (keyCol, sourceCol) frame — md5 digests
    * for exact-content overlap, exploded shingles for phrase-level
    * overlap — so the shuffle carries only the key + a small source tag.
    *
    * Scale shape: one map-side-combining distinct over (key, source),
    * a self-equi-join ON THE KEY (shared keys cluster by join key; no
    * source pair ever cross-joins — a key present in m sources expands
    * to m·(m−1)/2 pair rows, bounded by |sources|²), then a
    * source-pair-sized aggregate. Output is ≤ |sources|² rows — a driver
    * artifact.
    */
  def sourceOverlap(keyed: DataFrame, keyCol: String, sourceCol: String): DataFrame = {
    val hs = keyed.select(col(keyCol).as("__h"), col(sourceCol).as("__s")).distinct()
    val perSource = hs.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
    val pairs = hs.as("x").join(hs.as("y"),
        col("x.__h") === col("y.__h") && col("x.__s") < col("y.__s"))
      .groupBy(col("x.__s").as("source_a"), col("y.__s").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(perSource).withColumnRenamed("__s", "source_a")
        .withColumnRenamed("__n", "__na"), "source_a")
      .join(broadcast(perSource).withColumnRenamed("__s", "source_b")
        .withColumnRenamed("__n", "__nb"), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared") * lit(1.0) / col("__na"), 6).as("frac_of_a"),
        round(col("n_shared") * lit(1.0) / col("__nb"), 6).as("frac_of_b"))
  }

  /** Sketch-based cross-source overlap — the 100 TB path for
    * [[sourceOverlap]]. The exact matrix must shuffle the distinct
    * (key, source) pairs and self-join them; this replaces both with ONE
    * scan-side `kmv_agg` whose state is ≤ k longs per source (map-side
    * partials are k-bounded, the shuffle carries |sources|·k values,
    * never the keys), then estimates pairwise Jaccard from the tiny
    * sketches alone: among the k smallest distinct values of the merged
    * pair, the fraction present in BOTH sketches (Beyer et al., SIGMOD
    * 2007's bottom-k coordinated sample).
    *
    * The hash is the 52-bit md5-prefix value — chosen over xxhash64
    * because an external engine orders the same 13-hex-char prefix
    * identically (lexicographic = numeric on fixed-width lowercase hex),
    * so the sketch, the merged bottom-k and the estimate are all exactly
    * replayable: the estimator is DETERMINISTIC, only its error vs the
    * true Jaccard is probabilistic. With k ≥ the true distinct count the
    * sketch IS the full hash set and the estimate is exact (the spec's
    * convergence pin).
    *
    * The |sources|² pair enumeration is a broadcast nested-loop join of
    * the sketch table with itself — |sources| rows of ≤ k longs, a
    * driver-scale frame by construction.
    */
  def kmvOverlap(keyed: DataFrame, keyCol: String, sourceCol: String,
                 k: Int): DataFrame = {
    val h = conv(substring(md5(col(keyCol)), 1, 13), 16, 10).cast("long")
    val sk = keyed.select(col(sourceCol).as("__s"), h.as("__h"))
      .groupBy(col("__s"))
      .agg(graft.functions.FunctionDefs.callAgg("kmv_agg", col("__h"), lit(k)).as("__sk"))
    val merged = slice(array_sort(array_union(col("x.__sk"), col("y.__sk"))), 1, k)
    sk.as("x").join(sk.as("y"), col("x.__s") < col("y.__s"))
      .select(col("x.__s").as("source_a"), col("y.__s").as("source_b"),
        col("x.__sk").as("__ska"), col("y.__sk").as("__skb"),
        merged.as("__mg"))
      .select(col("source_a"), col("source_b"),
        size(col("__mg")).cast("long").as("k_used"),
        size(filter(col("__mg"), v =>
          array_contains(col("__ska"), v) && array_contains(col("__skb"), v)))
          .cast("long").as("n_shared_sk"))
      .select(col("source_a"), col("source_b"), col("k_used"), col("n_shared_sk"),
        round(col("n_shared_sk") * lit(1.0) / col("k_used"), 6).as("jaccard_est"))
  }
}
