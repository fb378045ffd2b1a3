package graft.sources

import graft.ops.{Dedup, Pins}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash band-posting index — the missing piece of the
  * incremental near-dup lifecycle (r9 verdict task 2): `dd_incremental`
  * bloom-gates EXACT duplicates and `mergeComponents` folds KNOWN
  * edges, but discovering NEW fuzzy pairs between a day's batch and a
  * 100 TB history previously meant re-banding the history — a full
  * text scan plus the shingle/signature recompute, per day. This
  * layout pays that scan ONCE at build time and turns the daily
  * probe into index lookups:
  *
  *  - `build` writes the history's band postings
  *    ((band,bkey)-combined key, id) range-clustered through
  *    [[StatsManifest]] — 2 longs per posting, never text — plus a
  *    (id, shingles) docs table (id-clustered, same manifest
  *    mechanism) for the exact-Jaccard verify, and the banding
  *    parameters alongside (probes must replay the identical
  *    expressions — enforced, not assumed: `probe` reads them back).
  *  - `probe` computes the BATCH's signatures in flight, prunes
  *    posting files through the manifest (the batch's distinct band
  *    keys — broadcast-sized by contract — collect once and filter
  *    the manifest rows driver-side, [[StatsManifest.pruneLocal]]),
  *    equi-joins postings against the broadcast batch keys, fetches
  *    history shingles for the CANDIDATE ids only (docs-manifest
  *    pruning again, driver-side over the checkpointed candidates),
  *    verifies with the exact Jaccard, and unions the batch-internal
  *    [[Dedup.minhashLsh]] pairs. Probe cost therefore tracks batch
  *    size and candidate count — the history contributes posting-file
  *    reads only, and only for files whose key range a batch key
  *    actually hits.
  *
  * Output contract = [[Dedup.minhashLsh]] over (history ∪ batch)
  * RESTRICTED to pairs touching the batch (id_a < id_b, exact
  * jaccard ≥ threshold): maintenance must be invisible —
  * MinhashIndexSpec pins set equality, and the dd_lsh_index_check
  * CORRECTNESS entry re-proves it against the full re-band plus the
  * exact [[Dedup.jaccardJoin]] ground truth at every verify run.
  * Found pairs feed [[graft.ops.Dedup.mergeComponents]] /
  * [[graft.streaming.CcStream]], closing the loop.
  *
  * Ids must be unique across history ∪ batch (the [[Dedup]] pair-op
  * contract); re-probing a batch that was since appended would surface
  * its pairs again (dedup downstream on (id_a, id_b)).
  *
  * Crash-safety & concurrency (r11): both manifests and `params`
  * commit through [[VersionedDir]] — a crash ANYWHERE inside
  * [[append]] leaves probes serving a committed generation, never a
  * torn read. The write order is docs-manifest → postings-manifest →
  * params, so the partially-applied states are benign: data files
  * without a committed manifest are invisible; a committed docs
  * manifest without the postings one adds doc rows that no posting
  * references (dead bytes, zero pairs); a stale `n_docs` only skews
  * the computed bucket cap. The maintenance contract is SINGLE WRITER
  * with idempotent replay — re-running a failed [[append]] restores
  * full consistency (duplicate postings/doc rows cost bytes, never
  * pairs beyond duplicates of already-true pairs).
  */
object MinhashIndex {

  /** (band, bkey) → one sortable long: band in the high 32 bits. */
  private def combinedKey(band: org.apache.spark.sql.Column,
                          bkey: org.apache.spark.sql.Column) =
    shiftleft(band.cast("long"), 32)
      .bitwiseOR(bkey.cast("long").bitwiseAND(lit(0xffffffffL)))

  private def writeParams(s: SparkSession, path: String, k: Int, numPerm: Int,
                          bands: Int, seed: Long, nDocs: Long): Unit = {
    import s.implicits._
    VersionedDir.write(
      Seq((k, numPerm, bands, seed, nDocs))
        .toDF("k", "num_perm", "bands", "seed", "n_docs"),
      s"$path/params")
  }

  private def readParams(s: SparkSession, path: String): Row =
    VersionedDir.read(s, s"$path/params").head()

  /** Scan history once, write `path/postings` (key, id) range-clustered
    * into `nPostingFiles`, `path/docs` (id, sh) into `nDocFiles`, and
    * `path/params`. Postings are the only corpus-sized artifact probes
    * routinely touch — 2 longs per (doc, band).
    */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
            k: Int = 3, numPerm: Int = 64, bands: Int = 16, seed: Long = 42,
            nPostingFiles: Int = 64, nDocFiles: Int = 32): Unit = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val spark = docs.sparkSession
    // ONE pass over the corpus TEXT: the shingle arrays land in the
    // docs table, and the postings derive from the STORED shingles —
    // minhashSig over the same arrays yields identical signatures, so
    // the shared-expression contract with probe holds while the
    // (expensive) text scan + shingling is never replayed and nothing
    // corpus-sized is checkpointed
    StatsManifest.write(
      docs.select(col(idCol).as("id"),
        Dedup.shingles(col(textCol), k).as("sh")),
      s"$path/docs", "id", nDocFiles)
    val stored = spark.read.parquet(s"$path/docs")
      .withColumn("__sig", Dedup.minhashSig(col("sh"), numPerm, seed))
    val posts = Dedup.bandKeyRows(stored, "id", numPerm, bands)
      .select(combinedKey(col("__band"), col("__bkey")).as("key"), col("id"))
    StatsManifest.write(posts, s"$path/postings", "key", nPostingFiles)
    val nDocs = spark.read.parquet(s"$path/docs").count() // footer-count
    writeParams(spark, path, k, numPerm, bands, seed, nDocs)
  }

  /** Fold a probed batch INTO the index — the daily cycle's write-back
    * half: after [[probe]] surfaces the batch's pairs, `append` writes
    * the batch's postings and shingle rows as NEW range-clustered
    * files through [[StatsManifest.append]] (delta-sized work, both
    * manifests extended without rescanning history) and bumps the
    * stored corpus count (the computed-cap input). Tomorrow's probe
    * then sees today's docs as history. Appended file ranges overlap
    * resident ones, so probe pruning degrades by at most the appended
    * file count per day until a periodic [[build]] re-clusters — the
    * same write-amplification trade every LSM-shaped index makes.
    * At-least-once semantics: re-appending a replayed batch duplicates
    * postings/doc rows, which costs bytes but never pairs beyond
    * duplicates of already-true pairs (candidates are distinct-ed,
    * verification is exact). See the object doc for the crash-safety
    * contract (versioned commits, single writer, idempotent replay).
    */
  def append(s: SparkSession, path: String,
             batch: DataFrame, idCol: String, textCol: String): Unit = {
    val p = readParams(s, path)
    appendWith(s, path, batch, idCol, textCol,
      p.getInt(0), p.getInt(1), p.getInt(2), p.getLong(3), p.getLong(4))
    ()
  }

  /** The append body with the params already in hand: returns the two
    * manifests' fresh-file stats rows plus the new corpus count, so an
    * in-memory [[Maintainer]] can extend its caches without re-reading
    * anything.
    */
  private def appendWith(s: SparkSession, path: String,
                         batch: DataFrame, idCol: String, textCol: String,
                         k: Int, numPerm: Int, bands: Int, seed: Long,
                         nDocsOld: Long): (Seq[Row], Seq[Row], Long) = {
    val withSig = Dedup.sigFrame(batch, idCol, textCol, k, numPerm, seed)
      .localCheckpoint() // two consumers: docs rows + postings
    val docRows = StatsManifest.append(
      withSig.select(col(idCol).as("id"), col("__sh").as("sh")),
      s"$path/docs", "id", nFiles = 4)
    val postRows = StatsManifest.append(
      Dedup.bandKeyRows(withSig, idCol, numPerm, bands)
        .select(combinedKey(col("__band"), col("__bkey")).as("key"),
          col(idCol).as("id")),
      s"$path/postings", "key", nFiles = 8)
    val nDocs = nDocsOld + withSig.count()
    // params LAST: a crash before this line leaves both manifests
    // committed and only n_docs stale (computed-cap skew, healed by
    // the replayed append)
    writeParams(s, path, k, numPerm, bands, seed, nDocs)
    // everything derived from the checkpoint is written out — release
    // its blocks so a daily/streaming maintainer doesn't pin one
    // batch-sized checkpoint per append (the CcStream discipline)
    org.apache.spark.sql.GraftBridge.unpersistCheckpoint(withSig)
    (docRows, postRows, nDocs)
  }

  /** Logical deletes — takedowns/retention against the indexed
    * history, the [[AnnLayout.delete]] contract on the text side: ids
    * land in `path/tombstones` (append-mode, id-only metadata) and
    * [[probe]] drops tombstoned history ids from the candidate set
    * with one broadcast anti-join, so removed documents stop pairing
    * immediately without touching the posting files. [[compact]]
    * applies them physically. Re-appending a deleted id does NOT
    * resurrect it until compaction clears the tombstone — re-keyed ids
    * are the supported re-add path.
    */
  def delete(s: SparkSession, path: String, ids: DataFrame,
             idCol: String = "id"): Unit =
    ids.select(col(idCol).as("id")).distinct()
      .coalesce(1).write.mode("append").parquet(s"$path/tombstones")

  private def withoutTombstones(s: SparkSession, path: String,
                                frame: DataFrame): DataFrame =
    if (!FsUtil.exists(s, s"$path/tombstones")) frame
    else frame.join(
      broadcast(s.read.parquet(s"$path/tombstones").select("id").distinct()),
      Seq("id"), "left_anti")

  /** Merge-on-write maintenance: re-cluster docs and postings into
    * `dest` with tombstoned ids physically dropped and the appended
    * generations' overlapping file ranges re-sorted — one pass over
    * the stored index (never the original text), after which `dest`
    * starts tombstone-free with tight disjoint manifests again (the
    * [[AnnLayout.compactCells]] analog). A pre-existing tombstone set
    * at `dest` (a previously-used destination) is cleared first —
    * inherited tombstones would silently hide live compacted rows
    * from every probe.
    */
  def compact(s: SparkSession, src: String, dest: String,
              nPostingFiles: Int = 64, nDocFiles: Int = 32): Unit = {
    FsUtil.delete(s, s"$dest/tombstones")
    val docs = withoutTombstones(s, src, s.read.parquet(s"$src/docs"))
    StatsManifest.write(docs, s"$dest/docs", "id", nDocFiles)
    val posts = withoutTombstones(s, src, s.read.parquet(s"$src/postings"))
    StatsManifest.write(posts, s"$dest/postings", "key", nPostingFiles)
    val p = readParams(s, src)
    val nDocs = s.read.parquet(s"$dest/docs").count()
    writeParams(s, dest, p.getInt(0), p.getInt(1), p.getInt(2), p.getLong(3),
      nDocs)
  }

  /** New near-dup pairs involving the batch: (id_a, id_b, jaccard)
    * with id_a < id_b, exact jaccard ≥ threshold — batch×history from
    * the index probe plus batch×batch from the in-flight LSH pass.
    * At `maxBucket = -1` (the regime the CORRECTNESS entries pin) the
    * result EQUALS [[Dedup.minhashLsh]] over history ∪ batch restricted
    * to batch-touching pairs. `maxBucket` otherwise follows the
    * [[Dedup.minhashLsh]] regimes (> 0 explicit, 0 =
    * [[Dedup.defaultMaxBucket]] computed from the INDEXED corpus size
    * stored at build time) and guards BOTH quadratic terms: probed
    * posting keys whose HISTORY fan-out exceeds the cap drop before
    * the candidate join, and the batch-internal pass inherits the same
    * cap — note the guard counts differ from a capped re-band's
    * (history fan-out / batch occupancy vs combined occupancy), so
    * capped regimes are each a documented approximation of the exact
    * set, not bit-equal to one another.
    *
    * Cost floor: each probe pays a fixed driver overhead — the params
    * read plus two manifest resolutions and the pruning collects
    * (~seconds at test scale, LshIndexBench's measured floor) — so
    * sub-minute micro-batches should either batch up before probing
    * or run through a [[Maintainer]], which caches params + manifests
    * across probes and extends them in memory on append.
    *
    * The returned frame reads the probe's checkpoints lazily (the
    * batch signatures, the candidates and, with a cap active, the
    * batch-internal pass's band keys). They go to `pins`, which the
    * caller owns: a one-shot caller passes nothing and the
    * ContextCleaner reclaims them; a probe loop closes one [[Pins]] per
    * probe once its result has materialized.
    */
  def probe(s: SparkSession, path: String,
            batch: DataFrame, idCol: String, textCol: String,
            threshold: Double = 0.8, maxBucket: Int = 0,
            pins: Pins = new Pins): DataFrame = {
    val p = readParams(s, path)
    probeCore(s, path, batch, idCol, textCol, threshold, maxBucket,
      p.getInt(0), p.getInt(1), p.getInt(2), p.getLong(3), p.getLong(4),
      StatsManifest.manifest(s, s"$path/postings").collect().toIndexedSeq,
      StatsManifest.manifest(s, s"$path/docs").collect().toIndexedSeq, pins)
  }

  /** The probe body with params + manifest ROWS supplied by the caller
    * ([[probe]] collects them fresh — file-count-sized
    * driver metadata; [[Maintainer]] serves them from its cache). File
    * pruning over the rows is pure driver Scala
    * ([[StatsManifest.pruneLocal]]) — the r12 probe-floor fix.
    */
  private def probeCore(s: SparkSession, path: String,
                        batch: DataFrame, idCol: String, textCol: String,
                        threshold: Double, maxBucket: Int,
                        k: Int, numPerm: Int, bands: Int, seed: Long,
                        nDocs: Long, postRows: Seq[Row],
                        docRows: Seq[Row], pins: Pins): DataFrame = {
    val cap =
      if (maxBucket == 0) Dedup.defaultMaxBucket(nDocs) else maxBucket

    // batch signatures once (two consumers: band keys + verify shingles)
    val bsig = pins(Dedup.sigFrame(batch, idCol, textCol, k, numPerm, seed)
      .select(col(idCol).as("__bid"), col("__sh").as("__bsh"), col("__sig")))
    val bkeys = Dedup.bandKeyRows(bsig, "__bid", numPerm, bands)
      .select(combinedKey(col("__band"), col("__bkey")).as("key"),
        col("__bid"))

    // manifest pruning, driver-side: the batch's distinct band keys are
    // by contract broadcast-sized (they broadcast into the candidate
    // join below), so collecting them once and filtering the cached
    // manifest rows locally costs one batch-sized job + driver
    // arithmetic — no manifest join job
    val keyArr = bkeys.select("key").distinct().collect()
      .map(_.getAs[Number](0).longValue())
    val files = StatsManifest.pruneLocal(postRows, keyArr)
    // tombstoned history ids drop from the posting stream before the
    // guard count and the candidate join — a deleted doc stops pairing
    // immediately, and hot-key occupancy reflects the LIVE history
    val posts = withoutTombstones(s, path,
      if (files.isEmpty) s.read.parquet(s"$path/postings").filter(lit(false))
      else s.read.parquet(files: _*))

    // hot-key guard: a probed key whose HISTORY fan-out exceeds the cap
    // is a boilerplate band (the minhashLsh maxBucket rationale — the
    // candidate join would go quadratic on it); counted over the pruned
    // postings only, broadcast into an anti-join
    val guarded =
      if (cap <= 0) posts
      else {
        val hot = posts.join(broadcast(bkeys.select("key").distinct()), "key")
          .groupBy("key").agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
          .select("key")
        posts.join(broadcast(hot), Seq("key"), "left_anti")
      }

    // candidates: history ids colliding with a batch id in ≥ 1 band.
    // The batch side broadcasts (a day's keys vs the history's): the
    // posting scan is probed map-side, never shuffled.
    // candidates checkpoint ONCE (cap-bounded output size): the
    // docs-file pruning below needs their ids collected anyway, and
    // the verify join reuses the materialized rows instead of
    // re-running the posting scan + candidate join a second time (the
    // r11 eager-dfiles double-compute)
    val cands = pins(guarded.join(broadcast(bkeys), "key")
      .filter(col("id") =!= col("__bid"))
      .select(col("id").as("__hid"), col("__bid")).distinct())

    // history shingles for candidate ids only: docs-manifest pruning on
    // the id ranges (driver-side over the cached rows), then a
    // semi-join pins exact membership
    val candIds = cands.select(col("__hid").as("id")).distinct()
    // ids keep the caller's type: prune when numeric, degrade to
    // no-pruning otherwise (a string-keyed index must not throw here —
    // the semi-join below is the correctness contract either way)
    val idArr: Array[Any] = candIds.collect().map(_.get(0))
    val dfiles = StatsManifest.pruneLocalAny(docRows, idArr)
    val histSh =
      (if (dfiles.isEmpty) s.read.parquet(s"$path/docs").filter(lit(false))
       else s.read.parquet(dfiles: _*))
        .join(candIds, Seq("id"), "left_semi")

    val crossPairs = cands
      .join(histSh.select(col("id").as("__hid"), col("sh").as("__hsh")), "__hid")
      .join(bsig.select(col("__bid"), col("__bsh")), "__bid")
      .withColumn("jaccard", Dedup.jaccard(col("__hsh"), col("__bsh")))
      .filter(col("jaccard") >= threshold)
      .select(least(col("__hid"), col("__bid")).as("id_a"),
        greatest(col("__hid"), col("__bid")).as("id_b"), col("jaccard"))

    // batch-internal pairs: the plain in-flight pass over the (small)
    // batch — a second signature evaluation of batch-sized cost only.
    // With a cap active the pass checkpoints its band keys into `pins`
    val within = Dedup.minhashLsh(
      batch, idCol, textCol, k = k, numPerm = numPerm, bands = bands,
      threshold = threshold, seed = seed, maxBucket = cap, pins = pins)
    crossPairs.unionByName(within)
  }

  /** Amortizing handle for repeated probe/append cycles against ONE
    * index — the streaming-maintenance shape
    * ([[graft.streaming.NearDupStream]]): the banding params and both
    * file manifests are read once at construction, served from memory
    * on every probe (file pruning is pure driver Scala over the cached
    * rows — zero per-probe metadata jobs), and extended IN MEMORY by
    * each append from the delta stats [[StatsManifest.append]] already
    * collected. Cuts the per-probe fixed floor from ~3 s (params read
    * + two manifest reads + their job launches) to the batch-key
    * collect alone (LshIndexBench's 50-doc row measures it).
    *
    * Single-writer contract (the [[VersionedDir]] one, sharpened): the
    * cache assumes THIS handle performs every append — an external
    * append invalidates it (probes would miss the new files). External
    * DELETES are safe (tombstones are re-checked per probe).
    */
  final class Maintainer(s: SparkSession, path: String) {
    private val p = readParams(s, path)
    private val (k, numPerm, bands, seed) =
      (p.getInt(0), p.getInt(1), p.getInt(2), p.getLong(3))
    private var nDocs = p.getLong(4)
    private val postRows = scala.collection.mutable.ArrayBuffer[Row](
      StatsManifest.manifest(s, s"$path/postings").collect().toIndexedSeq: _*)
    private val docRows = scala.collection.mutable.ArrayBuffer[Row](
      StatsManifest.manifest(s, s"$path/docs").collect().toIndexedSeq: _*)

    /** Cached-state probe — same output contract as the object-level
      * [[MinhashIndex.probe]], and the same pin contract: the probe's
      * checkpoints go to the caller's `pins`. This handle holds none,
      * so a later probe never invalidates an earlier result; a probe
      * loop closes one [[Pins]] per probe once its result has
      * materialized.
      */
    def probe(batch: DataFrame, idCol: String, textCol: String,
              threshold: Double = 0.8, maxBucket: Int = 0,
              pins: Pins = new Pins): DataFrame =
      probeCore(s, path, batch, idCol, textCol, threshold, maxBucket,
        k, numPerm, bands, seed, nDocs, postRows.toSeq, docRows.toSeq, pins)

    def append(batch: DataFrame, idCol: String, textCol: String): Unit = {
      val (dRows, pRows, n) =
        appendWith(s, path, batch, idCol, textCol, k, numPerm, bands, seed, nDocs)
      docRows ++= dRows
      postRows ++= pRows
      nDocs = n
    }
  }
}
