package graft.sources

import graft.SparkTestSession
import graft.ops.{Dedup, Pins}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class MinhashIndexSpec extends AnyFunSuite with SparkTestSession with Matchers {

  // history = 3/4 of the corpus, batch = the other 1/4 — the daily
  // increment shape, with near-dups planted across the boundary by the
  // corpus generator's copy structure
  private lazy val docs = Tables.documents(spark, sfDir)
    .select("doc_id", "text").localCheckpoint()
  private lazy val history = docs.filter(col("doc_id") % 4 =!= 0)
  private lazy val batch = docs.filter(col("doc_id") % 4 === 0)

  private lazy val path = {
    val p = java.nio.file.Files.createTempDirectory("graft-mhix").toString + "/ix"
    // > bands files so the range clustering splits WITHIN bands — with
    // one file per band a batch (which has a key in every band) could
    // never prune; real deployments run thousands of files over 16 bands
    MinhashIndex.build(history, "doc_id", "text", p,
      k = 3, numPerm = 64, bands = 16, seed = 42,
      nPostingFiles = 64, nDocFiles = 8)
    p
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id_a"), col("id_b"), round(col("jaccard"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("probe == full re-band over history ∪ batch, restricted to batch-touching pairs") {
    val probed = pairSet(MinhashIndex.probe(spark, path, batch, "doc_id", "text",
      threshold = 0.8, maxBucket = -1))
    val reband = pairSet(
      Dedup.minhashLsh(docs, "doc_id", "text",
          k = 3, numPerm = 64, bands = 16, threshold = 0.8, maxBucket = -1)
        .filter(col("id_a") % 4 === 0 || col("id_b") % 4 === 0))
    probed shouldBe reband
    probed should not be empty
    // both cross (batch×history) and within (batch×batch) pairs occur
    probed.exists(p => p._1 % 4 == 0 ^ p._2 % 4 == 0) shouldBe true
  }

  test("posting-file pruning: a small batch reads a strict subset of posting files") {
    val one = batch.orderBy("doc_id").limit(3)
    // replicate probe's pruning arithmetic: keys of the small batch vs
    // the manifest — with 16 posting files and 3 docs × 16 bands = ≤48
    // scattered keys, at least one file range must be missed
    MinhashIndex.probe(spark, path, one, "doc_id", "text").count()
    val man = StatsManifest.manifest(spark, s"$path/postings")
    val total = man.count()
    total should be > 20L // 64 requested; empty range partitions may drop
    val sig = Dedup.sigFrame(one, "doc_id", "text", 3, 64, 42L)
    val keys = Dedup.bandKeyRows(sig, "doc_id", 64, 16)
      .select(shiftleft(col("__band").cast("long"), 32)
        .bitwiseOR(col("__bkey").cast("long").bitwiseAND(lit(0xffffffffL))).as("key"))
      .distinct()
    val hit = keys.join(broadcast(man),
        col("key") >= col("lo") && col("key") <= col("hi"))
      .select("file").distinct().count()
    hit should be < total
  }

  test("dd_lsh_index_check invariants: zero missed-vs-exact, zero diff-vs-reband") {
    val r = graft.queries.Pipeline.ddLshIndexCheck(spark, sfDir).head()
    r.getLong(0) should be > 0L  // exact batch-touching pairs exist
    r.getLong(1) shouldBe 0L     // none missed by the index probe
    r.getLong(2) shouldBe 0L     // probe == full re-band
  }

  test("append: day-2 probe pairs against day-1 docs; probe+append == re-band over all three generations") {
    val p2 = java.nio.file.Files.createTempDirectory("graft-mhix-app").toString + "/ix"
    val hist = docs.filter(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3)
    val day1 = docs.filter(col("doc_id") % 4 === 1)
    val day2 = docs.filter(col("doc_id") % 4 === 0)
    MinhashIndex.build(hist, "doc_id", "text", p2,
      nPostingFiles = 32, nDocFiles = 8)
    MinhashIndex.probe(spark, p2, day1, "doc_id", "text", maxBucket = -1).count()
    MinhashIndex.append(spark, p2, day1, "doc_id", "text")
    // n_docs param grew by the appended batch (params commit through
    // VersionedDir since r11 — read the committed generation)
    VersionedDir.read(spark, s"$p2/params").head().getLong(4) shouldBe
      hist.count() + day1.count()
    // the day-2 probe must see day-1 docs as history: equality vs the
    // full re-band restricted to day-2-touching pairs
    val probed = pairSet(MinhashIndex.probe(spark, p2, day2, "doc_id", "text",
      threshold = 0.8, maxBucket = -1))
    val reband = pairSet(
      Dedup.minhashLsh(docs, "doc_id", "text",
          k = 3, numPerm = 64, bands = 16, threshold = 0.8, maxBucket = -1)
        .filter(col("id_a") % 4 === 0 || col("id_b") % 4 === 0))
    probed shouldBe reband
    probed should not be empty
  }

  test("delete: tombstoned history docs stop pairing; probe == re-band over the SURVIVING history; compact applies physically") {
    val p2 = java.nio.file.Files.createTempDirectory("graft-mhix-del").toString + "/ix"
    val hist = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    MinhashIndex.build(hist, "doc_id", "text", p2,
      nPostingFiles = 32, nDocFiles = 8)
    // delete every history doc ≡ 1 (mod 4)
    MinhashIndex.delete(spark, p2,
      hist.filter(col("doc_id") % 4 === 1).select(col("doc_id")), "doc_id")
    val survivors = docs.filter(col("doc_id") % 4 =!= 1)
    val probed = pairSet(MinhashIndex.probe(spark, p2, batch, "doc_id", "text",
      threshold = 0.8, maxBucket = -1))
    val reband = pairSet(
      Dedup.minhashLsh(survivors, "doc_id", "text",
          k = 3, numPerm = 64, bands = 16, threshold = 0.8, maxBucket = -1)
        .filter(col("id_a") % 4 === 0 || col("id_b") % 4 === 0))
    probed shouldBe reband
    probed.exists(p => p._1 % 4 == 1 || p._2 % 4 == 1) shouldBe false
    // merge-on-write: the compacted index answers identically,
    // tombstone-free, with the params count updated
    val dest = java.nio.file.Files.createTempDirectory("graft-mhix-deld").toString + "/ix"
    MinhashIndex.compact(spark, p2, dest, nPostingFiles = 16, nDocFiles = 4)
    new java.io.File(dest + "/tombstones").exists() shouldBe false
    VersionedDir.read(spark, s"$dest/params").head().getLong(4) shouldBe
      hist.filter(col("doc_id") % 4 =!= 1).count()
    pairSet(MinhashIndex.probe(spark, dest, batch, "doc_id", "text",
      threshold = 0.8, maxBucket = -1)) shouldBe reband
  }

  test("Maintainer: cached-metadata probes == static probes through a probe→append→probe cycle") {
    val p2 = java.nio.file.Files.createTempDirectory("graft-mhix-mnt").toString + "/ix"
    val hist = docs.filter(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3)
    val day1 = docs.filter(col("doc_id") % 4 === 1)
    val day2 = docs.filter(col("doc_id") % 4 === 0)
    MinhashIndex.build(hist, "doc_id", "text", p2,
      nPostingFiles = 32, nDocFiles = 8)
    val m = new MinhashIndex.Maintainer(spark, p2)
    // day-1 probe through the cache == the static (re-reading) probe
    pairSet(m.probe(day1, "doc_id", "text", maxBucket = -1)) shouldBe
      pairSet(MinhashIndex.probe(spark, p2, day1, "doc_id", "text", maxBucket = -1))
    // append through the Maintainer: the IN-MEMORY manifest extension
    // must see the appended generation (a stale cache would silently
    // miss every day-1 doc — exactly the drift the single-writer
    // contract guards), and the on-disk state must match too
    m.append(day1, "doc_id", "text")
    val viaCache = pairSet(m.probe(day2, "doc_id", "text", maxBucket = -1))
    viaCache shouldBe
      pairSet(MinhashIndex.probe(spark, p2, day2, "doc_id", "text", maxBucket = -1))
    viaCache shouldBe pairSet(
      Dedup.minhashLsh(docs, "doc_id", "text",
          k = 3, numPerm = 64, bands = 16, threshold = 0.8, maxBucket = -1)
        .filter(col("id_a") % 4 === 0 || col("id_b") % 4 === 0))
    viaCache should not be empty
  }

  test("empty batch probes to zero pairs without error") {
    MinhashIndex.probe(spark, path, batch.filter(lit(false)),
      "doc_id", "text").count() shouldBe 0L
  }

  test("a planted exact copy of a history doc is found at jaccard 1.0") {
    import spark.implicits._
    val h = history.orderBy("doc_id").limit(1).collect().head
    val hid = h.getLong(0)
    val planted = Seq((900000L, h.getString(1))).toDF("doc_id", "text")
    val got = pairSet(MinhashIndex.probe(spark, path, planted, "doc_id", "text"))
    got should contain((hid, 900000L, 1.0))
  }

  test("probe honors the hot-key cap: an explicit tiny cap sheds a boilerplate band but keeps healthy pairs") {
    import spark.implicits._
    // history with one 30-doc boilerplate family + one clean near-pair
    val boiler = (0L until 30L).map(i =>
      (i, "common boiler plate words repeated across the whole family " +
        s"unique$i marker$i"))
    val clean = Seq(
      (100L, "a genuinely distinctive document about spark catalyst planning today"),
      (101L, "a genuinely distinctive document about spark catalyst planning tomorrow"))
    val p2 = java.nio.file.Files.createTempDirectory("graft-mhix2").toString + "/ix"
    MinhashIndex.build((boiler ++ clean.take(1)).toDF("doc_id", "text"),
      "doc_id", "text", p2, nPostingFiles = 4, nDocFiles = 2)
    val probeBatch = (Seq((200L, boiler.head._2.replace("unique0", "uniqueX")),
      (101L, clean(1)._2))).toDF("doc_id", "text")
    val capped = pairSet(MinhashIndex.probe(spark, p2, probeBatch,
      "doc_id", "text", threshold = 0.5, maxBucket = 5))
    // the clean cross pair survives the cap
    capped.exists(p => p._1 == 100L && p._2 == 101L) shouldBe true
    // unlimited finds at least as much
    val unlimited = pairSet(MinhashIndex.probe(spark, p2, probeBatch,
      "doc_id", "text", threshold = 0.5, maxBucket = -1))
    capped.subsetOf(unlimited) shouldBe true
  }

  test("Maintainer: an earlier probe's result survives a later probe on the same handle") {
    val m = new MinhashIndex.Maintainer(spark, path)
    val a = batch.filter(col("doc_id") % 8 === 0)
    val b = batch.filter(col("doc_id") % 8 === 4)
    // default maxBucket: a cap is active, so every probe pin kind is live
    val ra = m.probe(a, "doc_id", "text")
    val rb = m.probe(b, "doc_id", "text")
    val (gotA, gotB) = (pairSet(ra), pairSet(rb))
    gotA shouldBe pairSet(MinhashIndex.probe(spark, path, a, "doc_id", "text"))
    gotB shouldBe pairSet(MinhashIndex.probe(spark, path, b, "doc_id", "text"))
    (gotA ++ gotB) should not be empty
  }

  test("Maintainer probe loop: closing each probe's Pins leaves no persistent RDD behind") {
    val m = new MinhashIndex.Maintainer(spark, path)
    batch.count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (i <- 0 until 5) {
      val pins = new Pins
      m.probe(batch.filter(col("doc_id") % 5 === i), "doc_id", "text", pins = pins)
        .collect()
      pins.close()
    }
    (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
  }
}
