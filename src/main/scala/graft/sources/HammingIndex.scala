package graft.sources

import graft.ops.{Dedup, Pins}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted Hamming chunk-posting index — [[MinhashIndex]]'s twin for
  * the 64-bit SIGNATURE family ([[Dedup.simhash64]] text signatures,
  * perceptual image hashes, audio fingerprints): discovering which of a
  * day's batch are near-duplicates (hamming ≤ k) of a 100 TB indexed
  * history without re-banding the history's signatures every day.
  *
  *  - `build` stores the history collapse-first (the [[Dedup.hammingPairs]]
  *    shape): a (id, h) docs table range-clustered ON THE HASH through
  *    [[StatsManifest]], plus postings over DISTINCT hashes only —
  *    ((piece, chunk)-combined key, h), 2 longs per (distinct hash,
  *    piece) — so a million hash-identical blank images are ONE posting
  *    row per piece, never a million.
  *  - [[Maintainer.probe]] chunks the BATCH's hashes in flight (the shared
  *    [[Dedup.hammingChunks]] expression), prunes posting files through
  *    the manifest (batch chunk keys collected once — broadcast-sized
  *    by contract — and filtered against the manifest rows
  *    driver-side, [[StatsManifest.pruneLocal]]), equi-joins postings
  *    against the broadcast batch keys,
  *    verifies candidates with the exact popcount — the hash rides the
  *    posting row, so unlike [[MinhashIndex]] there is NO second fetch
  *    before verification — and only VERIFIED hash pairs expand to id
  *    pairs through the hash-clustered docs table. Hash-identical
  *    matches (dist 0, the exact-dup mass) take a direct equality join
  *    against the docs table instead, so they are immune to the hot-key
  *    cap exactly as [[Dedup.hammingPairs]]' within-group pairs are.
  *
  * Output contract = [[Dedup.hammingPairs]] over (history ∪ batch)
  * RESTRICTED to pairs touching the batch (id_a < id_b, dist ≤
  * maxDist). Because pigeonhole banding is COMPLETE for maxDist <
  * pieces — not probabilistic like the minhash S-curve — the unlimited
  * regime is EXACT: the dd_hamming_index CORRECTNESS entries replay the
  * full pair set in SQL (popcount over a SQL-expressible planted hash),
  * a stronger anchor than the minhash index's count-twin.
  *
  * Ids must be unique across history ∪ batch with ONE hash per id (the
  * [[Dedup.hammingPairs]] contract); re-probing an appended batch
  * surfaces its pairs again (dedup downstream on (id_a, id_b)).
  *
  * `build`, `delete` and `compact` live on this object; probe and
  * append exist only on the [[Maintainer]] handle.
  *
  * Crash-safety & concurrency: identical to [[MinhashIndex]] — both
  * manifests and `params` commit through [[VersionedDir]], write order
  * docs-manifest → postings-manifest → params, SINGLE WRITER with
  * idempotent replay. A replayed `append` duplicates doc/posting rows:
  * posting duplicates are absorbed by the candidate distinct, doc-row
  * duplicates by the output-sized pair distinct — bytes, never wrong
  * pairs.
  */
object HammingIndex {

  private def writeParams(s: SparkSession, path: String, pieces: Int,
                          nHashes: Long): Unit = {
    import s.implicits._
    VersionedDir.write(
      Seq((pieces, nHashes)).toDF("pieces", "n_hashes"), s"$path/params")
  }

  private def readParams(s: SparkSession, path: String): Row =
    VersionedDir.read(s, s"$path/params").head()

  private def chunkKeys(distinctH: DataFrame, pieces: Int): DataFrame =
    distinctH.select(col("__h"),
        posexplode(Dedup.hammingChunks("__h", pieces)).as(Seq("__p", "__k")))
      // (piece, chunk) → one sortable long, piece in the high 32 bits
      // (chunk is ≤ 32 bits — width = 64/pieces with pieces ≥ 2)
      .select(MinhashIndex.combinedKey(col("__p"), col("__k")).as("key"), col("__h"))

  /** Scan the history signatures once, write `path/docs` (id, h)
    * hash-clustered into `nDocFiles`, `path/postings` (key, h) over
    * DISTINCT hashes range-clustered into `nPostingFiles`, and
    * `path/params`. Both artifacts are longs-only — the index never
    * stores the content the signatures came from.
    */
  def build(df: DataFrame, idCol: String, hashCol: String, path: String,
            pieces: Int = 8, nPostingFiles: Int = 64,
            nDocFiles: Int = 32): Unit = {
    require(pieces >= 2 && 64 % pieces == 0, "pieces must divide 64")
    val spark = df.sparkSession
    StatsManifest.write(
      df.select(col(idCol).as("id"), col(hashCol).cast("long").as("h"))
        .filter(col("h").isNotNull),
      s"$path/docs", "h", nDocFiles)
    // postings derive from the STORED docs table (one pass over the
    // caller's frame, the MinhashIndex.build discipline), collapsed to
    // distinct hashes — duplicate mass costs doc rows, never postings
    val distinctH = Parquet.read(spark, s"$path/docs")
      .select(col("h").as("__h")).distinct()
    StatsManifest.write(chunkKeys(distinctH, pieces),
      s"$path/postings", "key", nPostingFiles)
    // footer-count: postings hold exactly pieces rows per distinct hash
    val nHashes =
      Parquet.read(spark, s"$path/postings").count() / pieces
    writeParams(spark, path, pieces, nHashes)
  }

  /** Logical deletes by id ([[MinhashIndex.delete]]'s contract):
    * tombstones drop history ids at the docs-expansion step of every
    * probe, so a removed document stops pairing immediately. Postings
    * are HASH-level and untouched — a fully-tombstoned hash still
    * costs its candidate row and still counts toward the hot-key guard
    * until [[compact]] rebuilds postings from the surviving docs.
    */
  def delete(s: SparkSession, path: String, ids: DataFrame,
             idCol: String = "id"): Unit =
    Tombstones.add(path, ids, idCol)

  /** Merge-on-write maintenance: re-cluster the surviving COMMITTED
    * docs (the manifest's files, never rows a crashed append left
    * unreferenced) into `dest` and REBUILD postings from their distinct
    * hashes — so hashes whose every member was tombstoned leave the
    * posting stream too — then start `dest` tombstone-free (a
    * pre-existing tombstone set at a previously-used `dest` is cleared
    * first, the
    * [[MinhashIndex.compact]] hygiene).
    */
  def compact(s: SparkSession, src: String, dest: String,
              nPostingFiles: Int = 64, nDocFiles: Int = 32): Unit = {
    Tombstones.clear(s, dest)
    val docs = Tombstones.without(s, src, StatsManifest.committed(s, s"$src/docs"))
    StatsManifest.write(docs, s"$dest/docs", "h", nDocFiles)
    val pieces = readParams(s, src).getInt(0)
    val distinctH = Parquet.read(s, s"$dest/docs")
      .select(col("h").as("__h")).distinct()
    StatsManifest.write(chunkKeys(distinctH, pieces),
      s"$dest/postings", "key", nPostingFiles)
    val nHashes = Parquet.read(s, s"$dest/postings").count() / pieces
    writeParams(s, dest, pieces, nHashes)
  }

  /** The index's one probe/append path — [[MinhashIndex.Maintainer]]'s
    * contract for the signature family: params and both file manifests
    * are read once at construction, served from memory on every probe
    * (file pruning is pure driver Scala over the cached rows — zero
    * per-probe metadata jobs), and extended IN MEMORY by each append
    * from the delta stats [[StatsManifest.append]] already collected.
    * Single-writer: an external append invalidates the cache (probes
    * would miss the new files); external DELETES are safe (tombstones
    * re-check per probe).
    */
  final class Maintainer(s: SparkSession, path: String) {
    private val p = readParams(s, path)
    private val pieces = p.getInt(0)
    private var nHashes = p.getLong(1)
    private val postRows = scala.collection.mutable.ArrayBuffer[Row](
      StatsManifest.manifest(s, s"$path/postings").collect().toIndexedSeq: _*)
    private val docRows = scala.collection.mutable.ArrayBuffer[Row](
      StatsManifest.manifest(s, s"$path/docs").collect().toIndexedSeq: _*)

    /** New near-dup pairs involving the batch: (id_a, id_b, dist) with
      * id_a < id_b, hamming dist ≤ maxDist — batch×history from the
      * index probe plus batch×batch from the in-flight
      * [[Dedup.hammingPairs]] pass. At `maxBucket = -1` the result
      * EQUALS hammingPairs over history ∪ batch restricted to
      * batch-touching pairs — EXACTLY (pigeonhole completeness), which
      * the dd_hamming_index entries pin against a full SQL replay.
      * `maxBucket` follows the [[Dedup.hammingPairs]] regimes (> 0
      * explicit, 0 = [[Dedup.defaultMaxBucketFixedWidth]] from the
      * indexed distinct-hash count, < 0 unlimited); the guard counts
      * HISTORY distinct-hash fan-out per probed key, the batch-internal
      * pass inherits the same cap, and dist-0 pairs bypass both (the
      * direct equality path).
      *
      * The returned frame reads the probe's checkpoints lazily (the
      * batch frame, the verified hash pairs, the batch-internal pass's
      * hash groups). They go to `pins`, which the caller owns — the
      * [[MinhashIndex.Maintainer.probe]] contract: this handle holds
      * none, so a later probe never invalidates an earlier result.
      */
    def probe(batch: DataFrame, idCol: String, hashCol: String,
              maxDist: Int, maxBucket: Int = 0,
              pins: Pins = new Pins): DataFrame = {
      require(maxDist >= 0 && maxDist < pieces,
        "pigeonhole banding needs maxDist < pieces")
      val width = 64 / pieces
      val cap =
        if (maxBucket == 0) Dedup.defaultMaxBucketFixedWidth(nHashes, width)
        else maxBucket

      // consumers: chunk keys, dist-0 path, id expansion
      val b = pins(batch
        .select(col(idCol).as("__bid"), col(hashCol).cast("long").as("__bh"))
        .filter(col("__bh").isNotNull))
      val bh = b.select(col("__bh").as("__h")).distinct()
      val bkeysAll = chunkKeys(bh, pieces)
        .select(col("key"), col("__h").as("__bh"))

      // POSITION SELECTION (pigeonhole minimality): a pair within
      // maxDist differs in ≤ maxDist chunk positions, so among ANY
      // maxDist+1 retained positions at least one chunk is equal —
      // banding on maxDist+1 positions is complete, and the exact
      // popcount verify below removes every extra candidate, so the
      // output set is INDEPENDENT of which positions are retained.
      // Retain the most selective ones: a position where few distinct
      // chunk values cover the whole batch (a near-constant signature
      // region — real phash/simhash populations have them too) is a
      // near-cartesian bucket; its candidate volume scales as
      // Σ_chunk hist_c·batch_c ≈ |hist|/|batch| · Σ_chunk batch_c², so
      // rank positions by the batch-side Σ batch_c² (the batch samples
      // the same signature population as history) and keep the
      // maxDist+1 smallest. Pure driver arithmetic over the same
      // batch-keys collect the manifest pruning already pays for.
      val keyCnts = bkeysAll.groupBy("key").agg(count(lit(1)).as("__c"))
        .collect()
        .map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue()))
      val nSel = math.min(pieces, maxDist + 1)
      val selPos: Seq[Long] =
        keyCnts.groupBy(_._1 >> 32).view
          .mapValues(_.iterator.map(kc => kc._2 * kc._2).sum).toSeq
          .sortBy { case (p, s2) => (s2, p) }
          .take(nSel).map(_._1).sorted
      val bkeys =
        if (selPos.size == pieces || selPos.isEmpty) bkeysAll
        else bkeysAll.filter(shiftright(col("key"), 32).isin(selPos: _*))

      // manifest pruning, driver-side: the batch's distinct chunk keys
      // are by contract broadcast-sized (they broadcast into the
      // candidate join below), so collecting them once and filtering
      // the cached manifest rows locally costs one batch-sized job +
      // driver arithmetic — no manifest join job. Only retained
      // positions' keys participate, so the posting read prunes to
      // their files.
      val keyArr = keyCnts.collect {
        case (k, _) if selPos.contains(k >> 32) => k
      }
      val posts = StatsManifest.readFiles(s, s"$path/postings",
        StatsManifest.pruneLocal(postRows.toSeq, keyArr))

      // hot-key guard over the pruned postings: a probed chunk key
      // whose HISTORY distinct-hash fan-out exceeds the cap is the
      // everything-collides-here band banding cannot make selective
      // (countDistinct: appended generations may re-post a hash)
      val guarded =
        if (cap <= 0) posts
        else {
          val hot = posts.join(broadcast(bkeys.select("key").distinct()), "key")
            .groupBy("key").agg(countDistinct(col("__h")).as("__n"))
            .filter(col("__n") > cap).select("key")
          posts.join(broadcast(hot), Seq("key"), "left_anti")
        }

      // candidate hash pairs: history hashes sharing ≥ 1 chunk with a
      // batch hash (the batch side broadcasts — the posting scan is
      // probed map-side, never shuffled), verified by exact popcount
      // BEFORE any id expansion. Hash-identical pairs are excluded
      // here and handled by the cap-immune direct path below.
      val banded = guarded.join(broadcast(bkeys), "key")
        .filter(col("__h") =!= col("__bh"))
        .select("__h", "__bh").distinct()
        .withColumn("dist", bit_count(col("__h").bitwiseXOR(col("__bh"))))
        .filter(col("dist") <= maxDist)

      // dist-0: batch hashes meet history docs by hash EQUALITY — exact
      // duplicates never depend on banding or survive-the-cap luck
      val direct = bh
        .select(col("__h"), col("__h").as("__bh"), lit(0).as("dist"))

      // one docs expansion for both: prune docs files by the verified
      // hash set's ranges, drop tombstoned ids, join hash → history
      // ids, then batch ids re-attach by hash (each id carries ONE
      // hash). The distinct absorbs doc-row duplicates from replayed
      // appends. The verified pairs checkpoint ONCE (output-sized): the
      // docs-file pruning needs them collected anyway, and the id
      // expansion reuses the materialized rows instead of re-running
      // the whole candidate+verify pipeline a second time (the r11
      // eager-dfiles double-compute).
      val pairsH = pins(banded.unionByName(direct))
      val hArr = pairsH.select(col("__h")).distinct().collect()
        .map(_.getAs[Number](0).longValue())
      val docsP = Tombstones.without(s, path, StatsManifest.readFiles(s,
        s"$path/docs", StatsManifest.pruneLocal(docRows.toSeq, hArr)))
      val cross = docsP
        .join(pairsH, col("h") === col("__h"))
        .join(broadcast(b), "__bh")
        .filter(col("id") =!= col("__bid"))
        .select(least(col("id"), col("__bid")).as("id_a"),
          greatest(col("id"), col("__bid")).as("id_b"), col("dist"))
        .distinct()

      // batch-internal pairs: the in-flight pass over the (small)
      // batch, same cap regime
      val within = Dedup.hammingPairs(
        b, "__bid", "__bh", maxDist, pieces, maxBucket = cap, pins = pins)
      cross.unionByName(within)
    }

    /** Fold a probed batch INTO the index — the daily write-back half
      * ([[MinhashIndex.Maintainer.append]]'s contract): delta-sized doc
      * rows and postings land as new range-clustered files through
      * [[StatsManifest.append]] and extend this handle's cached
      * manifests, `n_hashes` bumps by the batch's distinct hash count
      * (an UPPER bound when batch hashes already exist in history —
      * skews only the computed cap, tightening it), params commit
      * LAST. At-least-once: replaying a failed append duplicates rows,
      * never pairs (see the object doc).
      */
    def append(batch: DataFrame, idCol: String, hashCol: String): Unit = {
      val docPins = new Pins
      // three consumers: doc rows, postings, count
      val bdocs = docPins(batch
        .select(col(idCol).as("id"), col(hashCol).cast("long").as("h"))
        .filter(col("h").isNotNull))
      docRows ++= StatsManifest.append(bdocs, s"$path/docs", "h", nFiles = 4)
      val distinctH = bdocs.select(col("h").as("__h")).distinct()
      postRows ++= StatsManifest.append(chunkKeys(distinctH, pieces),
        s"$path/postings", "key", nFiles = 4)
      nHashes += distinctH.count()
      writeParams(s, path, pieces, nHashes)
      docPins.close()
    }
  }
}
