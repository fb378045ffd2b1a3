package graft.sources

import graft.ops.{Pins, Text}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted line-dedup history — the ON-DISK third member of the
  * incremental near-dup index family ([[MinhashIndex]] = MinHash bands,
  * [[HammingIndex]] = 64-bit signatures, this = EXACT line membership):
  * the CCNet paragraph hash set as a durable artifact, so daily crawl
  * ingest dedups against a 100 TB line history across SESSIONS — not
  * just across the triggers of one stream
  * ([[graft.ops.Text.LineHistory]] is the in-memory maintainer this
  * persists; reference scope: the reference engine has no incremental
  * story at all, this extends its dedup surface the way the other two
  * indexes do).
  *
  * Layout under `path/`:
  *  - `digests/` — one row per DISTINCT non-blank history line:
  *    (xx: long, hh: string md5), [[StatsManifest]] range-clustered on
  *    xx (xxhash64 of the line — the prunable LONG twin of the exact
  *    128-bit digest the membership join verifies on; xx routes, hh
  *    decides — the Bloom-gate discipline applied to file pruning);
  *  - `bloom/` — the m-bit `bloom_agg` filter bits, one
  *    [[VersionedDir]] generation (appends OR new bits in and swap
  *    atomically — filter geometry is implied by the byte length, the
  *    `bloom_agg` contract, so build and append can never disagree);
  *  - `params/` — (num_hashes, n_lines), committed LAST.
  *
  * [[Maintainer.probe]] = [[graft.ops.Text.dedupLinesIncremental]] against
  * disk-backed state: the batch's Bloom-positive "maybe" lines drive
  * DRIVER-SIDE file pruning ([[StatsManifest.pruneLocal]], zero
  * metadata jobs — the manifest rows and maybe keys are both
  * driver-bounded by contract, the MinhashIndex batch-key-collect
  * shape), then a broadcast SEMI-join + distinct reduces the surviving
  * digest files to at most one row per maybe — which also makes the
  * probe immune to duplicate digest rows from replayed appends (bytes,
  * never wrong flags: the index-family crash contract). Cost: two
  * passes over the batch's own lines + the pruned digest files; the
  * history corpus is never re-read.
  *
  * [[Maintainer.append]] folds the PROBE OUTPUT's kept lines back in (the
  * [[graft.streaming.NearDupStream]] probe→dedup→append lifecycle):
  * kept `text_dedup` lines are novel-vs-history and within-batch
  * distinct by construction, so the append is O(batch) — no anti-join
  * against history, and even a misused raw-batch re-append only bloats
  * bytes (see probe). Write order digests → bloom → params: a crash
  * between steps can only UNDER-dedup the next batch (a Bloom miss on
  * an already-committed digest), never produce a wrong removal.
  * Single-writer, idempotent replay — the [[VersionedDir]] contract.
  *
  * `build` and `compact` live on this object; probe and append exist
  * only on the [[Maintainer]] handle. The line algebra (non-blank line
  * explode, `bloom_agg`, byte-OR merge) is [[graft.ops.Text]]'s, shared
  * with the in-memory [[graft.ops.Text.LineHistory]].
  */
object LineIndex {

  private def digestsOf(lines: DataFrame): DataFrame =
    lines.select(xxhash64(col("__l")).as("xx"), md5(col("__l")).as("hh"))
      .distinct()

  private def writeBloom(s: SparkSession, path: String, bf: Array[Byte]): Unit = {
    import s.implicits._
    VersionedDir.write(Seq(Tuple1(bf)).toDF("bf"), s"$path/bloom")
  }

  private def readBloom(s: SparkSession, path: String): Array[Byte] =
    VersionedDir.read(s, s"$path/bloom").head().getAs[Array[Byte]]("bf")

  private def writeParams(s: SparkSession, path: String,
                          numHashes: Int, nLines: Long): Unit = {
    import s.implicits._
    VersionedDir.write(
      Seq((numHashes, nLines)).toDF("num_hashes", "n_lines"), s"$path/params")
  }

  private def readParams(s: SparkSession, path: String): Row =
    VersionedDir.read(s, s"$path/params").head()

  /** One pass over the history corpus (the exploded non-blank lines
    * localCheckpoint, the prepareLineHistory discipline) feeds the
    * digest layout and the Bloom; n_lines comes from the stored
    * layout's footer counts.
    */
  def build(history: DataFrame, textCol: String, path: String,
            delim: String = "\n", numBits: Long = 1L << 23,
            numHashes: Int = 5, nFiles: Int = 0): Unit = {
    val s = history.sparkSession
    val linePins = new Pins
    val lines = linePins(Text.nonBlankLines(history, textCol, delim))
    // nFiles <= 0 derives the layout width from the data (guide-§6 file
    // sizing): ~256k digest rows (~10 MB) per range file, floored at 8
    // for pruning granularity, capped at 512 per build. A fixed 64 was
    // tuned for neither end — tiny histories paid 64 file commits +
    // 64-file probe listings, huge ones got under-split files.
    val nf = if (nFiles > 0) nFiles
      else math.max(8L, math.min(512L, lines.count() / 262144L + 1L)).toInt
    StatsManifest.write(digestsOf(lines), s"$path/digests", "xx", nf)
    val bf = Text.lineBloom(lines, numBits, numHashes)
    // n_lines = Σ manifest n_rows — the stats pass already counted the
    // distinct digests; re-reading the whole layout for a count was a
    // second full scan of what was just written
    val nLines = StatsManifest.manifest(s, s"$path/digests")
      .agg(coalesce(sum(col("n_rows")), lit(0L)).as("n"))
      .head().getLong(0)
    writeBloom(s, path, bf)
    writeParams(s, path, numHashes, nLines)
    linePins.close()
  }

  /** Re-cluster the digest layout — the lakehouse OPTIMIZE step that
    * completes the lifecycle: appends land delta files whose xx ranges
    * overlap resident ones (pruning degrades by the appended file
    * count, the [[StatsManifest.append]] trade) and replayed appends
    * leave duplicate rows (harmless to probes, bytes on disk). Compact
    * reads the committed table once (the manifest's files — never rows
    * a crashed append left unreferenced), dropDuplicates, and re-writes
    * one range-clustered generation of `nFiles` — restoring both the
    * pruning resolution and the minimal byte size; params re-commit
    * with the exact deduplicated count (which can only shrink). Bloom
    * bits are untouched: the filter is a superset by construction and
    * OR-only, so compaction never needs to rebuild it. Single writer,
    * like every maintenance op here; invalidates live [[Maintainer]]s
    * (their cached manifest rows name the pre-compaction files).
    */
  def compact(s: SparkSession, path: String, nFiles: Int = 64): Unit = {
    val numHashes = readParams(s, path).getInt(0)
    val cleanPins = new Pins
    // the write overwrites its own input dir
    val clean = cleanPins(
      StatsManifest.committed(s, s"$path/digests").dropDuplicates("hh"))
    StatsManifest.write(clean, s"$path/digests", "xx", nFiles)
    val n = Parquet.read(s, s"$path/digests").count()
    writeParams(s, path, numHashes, n)
    cleanPins.close()
  }

  /** The index's one probe/append path — [[MinhashIndex.Maintainer]]'s
    * contract, applied to the line family: params, bloom bits and the
    * digest manifest rows are read once at construction and served
    * from memory on every probe (file pruning stays pure driver Scala),
    * and each append extends them in place from its own delta (fresh
    * manifest rows + the byte-OR'd bloom — exact algebra, no re-read).
    *
    * Single-writer contract, sharpened as for the other maintainers:
    * the cache assumes THIS handle performs every append — an external
    * append invalidates it (probes would miss the new files AND the
    * new bloom bits, silently under-deduping until reconstruction).
    */
  final class Maintainer(s: SparkSession, path: String) {
    private val p = readParams(s, path)
    private val numHashes = p.getInt(0)
    private var nLinesV = p.getLong(1)
    private var bloomBytes = readBloom(s, path)
    private val mrows = scala.collection.mutable.ArrayBuffer[Row](
      StatsManifest.manifest(s, s"$path/digests").collect().toIndexedSeq: _*)

    /** [[graft.ops.Text.dedupLinesIncremental]] output contract for the
      * batch docs: (idCol, n_lines, n_removed_history, n_removed_batch,
      * text_dedup). See the object doc for the pruning shape.
      *
      * `maxCollect` guards the driver: the collect-and-prune fast path
      * assumes maybes ≪ batch (the mostly-novel crawl regime). A
      * DUP-HEAVY batch — re-ingesting yesterday's crawl, or the ScaleUp
      * replication artifact (SCALE_r13: a 100×-replicated corpus makes
      * EVERY batch line a history hit) — would collect the whole
      * batch's line set to the driver for pruning that can't prune
      * anyway (uniform digests hit every file once maybes ≳ file
      * count), so past the threshold the probe switches to one
      * distributed pass: committed digest scan ⊳ semi-join against the
      * maybe frame ⊳ distinct (maybes-bounded, keeping the
      * duplicate-row immunity) — no driver collect at any batch size.
      *
      * The dup-heavy path's maybes-bounded `present` frame is a
      * checkpoint the result reads lazily; it goes to `pins`, which the
      * caller owns (the [[MinhashIndex.Maintainer.probe]] contract), so
      * a later probe never invalidates an earlier result. The fast and
      * empty paths pin nothing. A probe loop closes one [[Pins]] per
      * probe once its result has materialized, as
      * [[graft.streaming.LineDupStream]] does.
      */
    def probe(batch: DataFrame, idCol: String, textCol: String,
              delim: String = "\n", maxCollect: Int = 200000,
              pins: Pins = new Pins): DataFrame = {
      import graft.functions.FunctionDefs.call
      val digests = s"$path/digests"
      // the maybe minority: distinct bloom-positive batch lines,
      // materialized once (it feeds the count, then one of two paths)
      val maybePins = new Pins
      val maybesDf = maybePins(Text.nonBlankLines(batch, textCol, delim)
        .filter(call("bloom_contains", lit(bloomBytes), xxhash64(col("__l")),
          lit(numHashes)))
        .select(xxhash64(col("__l")).as("xx"), md5(col("__l")).as("__hh"))
        .distinct())
      // ONE limit-collect replaces the former count()-then-collect()
      // pair (two jobs per probe): <= maxCollect rows back means we hold
      // the COMPLETE maybe set (limit returned everything there was) and
      // the fast path proceeds with it; maxCollect+1 rows means over-cap
      // — switch to the distributed path without ever collecting the
      // rest. The collect job also materializes the checkpoint blocks
      // the distributed path reads.
      val maybes = maybesDf.limit(maxCollect + 1).collect()
      val present =
        if (maybes.length <= maxCollect) {
          // fast path: driver-side file pruning, zero metadata jobs (no
          // maybes → no files → an empty frame)
          maybePins.close()
          import s.implicits._
          val keys = maybes.map(_.getString(1)).toSeq.toDF("__hh")
          // semi + distinct: ≤ one row per maybe reaches the membership
          // join, whatever duplicate rows replayed appends left behind
          StatsManifest.readFiles(s, digests,
              StatsManifest.pruneLocal(mrows.toSeq, maybes.map(_.getLong(0))))
            .select(col("hh").as("__hh"))
            .join(broadcast(keys), Seq("__hh"), "left_semi")
            .distinct()
        } else {
          // dup-heavy path: distributed end to end; materialize the
          // (maybes-bounded) present set so the checkpointed maybe frame
          // releases before the main dedup job — the present checkpoint
          // itself goes to the caller's pins
          val files = mrows.map(_.getAs[String]("file")).distinct.toSeq
          val hits = pins(StatsManifest.readFiles(s, digests, files)
            .select(col("hh").as("__hh"))
            .join(maybesDf.select("__hh"), Seq("__hh"), "left_semi")
            .distinct())
          maybePins.close()
          hits
        }
      Text.dedupLinesIncremental(
        Text.lineHistoryFrom(bloomBytes, present.withColumn("__seen", lit(1)),
          numHashes),
        batch, idCol, textCol, delim)
    }

    /** Fold a probed batch's KEPT output back in — pass the probe
      * result (or any frame whose `textCol` lines are known-novel),
      * O(batch). Writes digests → bloom → params and extends this
      * handle's manifest rows and bloom from the delta it just wrote.
      */
    def append(kept: DataFrame, textCol: String,
               delim: String = "\n", nFiles: Int = 8): Unit = {
      val linePins = new Pins
      val lines = linePins(Text.nonBlankLines(kept, textCol, delim))
      val fresh = StatsManifest.append(digestsOf(lines), s"$path/digests", "xx", nFiles)
      val merged = Text.bloomWith(bloomBytes, lines, numHashes)
      val n = nLinesV + fresh.map(_.getAs[Long]("n_rows")).sum
      writeBloom(s, path, merged)
      writeParams(s, path, numHashes, n)
      linePins.close()
      mrows ++= fresh
      bloomBytes = merged
      nLinesV = n
    }

    /** Lines indexed so far (introspection; tracks appends). */
    def nLines: Long = nLinesV
  }
}
