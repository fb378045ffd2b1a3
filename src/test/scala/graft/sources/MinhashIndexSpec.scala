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
    val p = scratch("graft-mhix") + "/ix"
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
    val probed = pairSet(new MinhashIndex.Maintainer(spark, path).probe(
      batch, "doc_id", "text", threshold = 0.8, maxBucket = -1))
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
    new MinhashIndex.Maintainer(spark, path).probe(one, "doc_id", "text").count()
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

  test("opening a handle runs one job per metadata table it reads and none for their schemas") {
    val p = path // built outside the count
    // params.head() and the postings and docs manifests' collect()
    jobsOf { new MinhashIndex.Maintainer(spark, p) } shouldBe 3
  }

  test("dd_lsh_index_check invariants: zero missed-vs-exact, zero diff-vs-reband") {
    val r = graft.queries.Pipeline.ddLshIndexCheck(spark, sfDir).head()
    r.getLong(0) should be > 0L  // exact batch-touching pairs exist
    r.getLong(1) shouldBe 0L     // none missed by the index probe
    r.getLong(2) shouldBe 0L     // probe == full re-band
  }

  test("append: day-2 probe pairs against day-1 docs; probe+append == re-band over all three generations") {
    val p2 = scratch("graft-mhix-app") + "/ix"
    val hist = docs.filter(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3)
    val day1 = docs.filter(col("doc_id") % 4 === 1)
    val day2 = docs.filter(col("doc_id") % 4 === 0)
    MinhashIndex.build(hist, "doc_id", "text", p2,
      nPostingFiles = 32, nDocFiles = 8)
    val m = new MinhashIndex.Maintainer(spark, p2)
    m.probe(day1, "doc_id", "text", maxBucket = -1).count()
    m.append(day1, "doc_id", "text")
    // n_docs param grew by the appended batch (params commit through
    // VersionedDir since r11 — read the committed generation)
    VersionedDir.read(spark, s"$p2/params").head().getLong(4) shouldBe
      hist.count() + day1.count()
    // the day-2 probe (a fresh handle: the on-disk state) must see
    // day-1 docs as history: equality vs the full re-band restricted
    // to day-2-touching pairs
    val probed = pairSet(new MinhashIndex.Maintainer(spark, p2).probe(
      day2, "doc_id", "text", threshold = 0.8, maxBucket = -1))
    val reband = pairSet(
      Dedup.minhashLsh(docs, "doc_id", "text",
          k = 3, numPerm = 64, bands = 16, threshold = 0.8, maxBucket = -1)
        .filter(col("id_a") % 4 === 0 || col("id_b") % 4 === 0))
    probed shouldBe reband
    probed should not be empty
  }

  test("delete: tombstoned history docs stop pairing; probe == re-band over the SURVIVING history; compact applies physically") {
    val p2 = scratch("graft-mhix-del") + "/ix"
    val hist = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    MinhashIndex.build(hist, "doc_id", "text", p2,
      nPostingFiles = 32, nDocFiles = 8)
    // a handle opened BEFORE the delete: external deletes are safe,
    // tombstones are re-checked per probe
    val opened = new MinhashIndex.Maintainer(spark, p2)
    // delete every history doc ≡ 1 (mod 4)
    MinhashIndex.delete(spark, p2,
      hist.filter(col("doc_id") % 4 === 1).select(col("doc_id")), "doc_id")
    val survivors = docs.filter(col("doc_id") % 4 =!= 1)
    val probed = pairSet(new MinhashIndex.Maintainer(spark, p2).probe(
      batch, "doc_id", "text", threshold = 0.8, maxBucket = -1))
    val reband = pairSet(
      Dedup.minhashLsh(survivors, "doc_id", "text",
          k = 3, numPerm = 64, bands = 16, threshold = 0.8, maxBucket = -1)
        .filter(col("id_a") % 4 === 0 || col("id_b") % 4 === 0))
    probed shouldBe reband
    probed.exists(p => p._1 % 4 == 1 || p._2 % 4 == 1) shouldBe false
    pairSet(opened.probe(batch, "doc_id", "text",
      threshold = 0.8, maxBucket = -1)) shouldBe reband
    // merge-on-write: the compacted index answers identically,
    // tombstone-free, with the params count updated
    val dest = scratch("graft-mhix-deld") + "/ix"
    MinhashIndex.compact(spark, p2, dest, nPostingFiles = 16, nDocFiles = 4)
    new java.io.File(dest + "/tombstones").exists() shouldBe false
    VersionedDir.read(spark, s"$dest/params").head().getLong(4) shouldBe
      hist.filter(col("doc_id") % 4 =!= 1).count()
    pairSet(new MinhashIndex.Maintainer(spark, dest).probe(batch, "doc_id", "text",
      threshold = 0.8, maxBucket = -1)) shouldBe reband
  }

  test("compact publishes only committed rows: an abandoned append's files stay invisible") {
    import spark.implicits._
    val p2 = scratch("graft-mhix-crash") + "/ix"
    MinhashIndex.build(history, "doc_id", "text", p2,
      nPostingFiles = 16, nDocFiles = 4)
    // an append that crashed after landing its docs and postings data
    // files but before either manifest commit (StatsManifestSpec's
    // crash state 1, at index level): ids 800000+ exist on disk only
    val texts = batch.orderBy("doc_id").limit(8)
      .collect().map(_.getString(1)).toSeq
    val abandoned = texts.zipWithIndex
      .map { case (t, i) => (800000L + i, t) }.toDF("doc_id", "text")
    val sig = Dedup.sigFrame(abandoned, "doc_id", "text", 3, 64, 42L)
    sig.select(col("doc_id").as("id"), col("__sh").as("sh"))
      .coalesce(1).write.mode("append").parquet(s"$p2/docs")
    Dedup.bandKeyRows(sig, "doc_id", 64, 16)
      .select(shiftleft(col("__band").cast("long"), 32)
        .bitwiseOR(col("__bkey").cast("long").bitwiseAND(lit(0xffffffffL))).as("key"),
        col("doc_id").as("id"))
      .coalesce(1).write.mode("append").parquet(s"$p2/postings")
    spark.read.parquet(s"$p2/docs").filter(col("id") >= 800000L).count() shouldBe 8L
    // near-copies of the abandoned batch
    val nearCopies = texts.zipWithIndex
      .map { case (t, i) => (700000L + i, t + " extra") }.toDF("doc_id", "text")
    def namesAbandoned(dir: String) = pairSet(new MinhashIndex.Maintainer(spark, dir)
        .probe(nearCopies, "doc_id", "text", threshold = 0.8, maxBucket = -1))
      .filter(p => p._1 >= 800000L || p._2 >= 800000L)
    namesAbandoned(p2) shouldBe empty
    val dest = scratch("graft-mhix-crashd") + "/ix"
    MinhashIndex.compact(spark, p2, dest, nPostingFiles = 8, nDocFiles = 2)
    namesAbandoned(dest) shouldBe empty
    VersionedDir.read(spark, s"$dest/params").head().getLong(4) shouldBe history.count()
    // the near-copies do pair with those ids once the batch is really
    // appended, so the emptiness above is not vacuous
    val m = new MinhashIndex.Maintainer(spark, dest)
    m.append(abandoned, "doc_id", "text")
    pairSet(m.probe(nearCopies, "doc_id", "text", threshold = 0.8, maxBucket = -1))
      .count(p => p._2 >= 800000L) should be >= 8
  }

  test("Maintainer: an appended handle == a freshly opened handle through a probe→append→probe cycle") {
    val p2 = scratch("graft-mhix-mnt") + "/ix"
    val hist = docs.filter(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3)
    val day1 = docs.filter(col("doc_id") % 4 === 1)
    val day2 = docs.filter(col("doc_id") % 4 === 0)
    MinhashIndex.build(hist, "doc_id", "text", p2,
      nPostingFiles = 32, nDocFiles = 8)
    val m = new MinhashIndex.Maintainer(spark, p2)
    m.probe(day1, "doc_id", "text", maxBucket = -1).count()
    // append through the handle: the IN-MEMORY manifest extension
    // must see the appended generation (a stale cache would silently
    // miss every day-1 doc — exactly the drift the single-writer
    // contract guards), and a handle freshly opened on the on-disk
    // state must answer the same
    m.append(day1, "doc_id", "text")
    val viaCache = pairSet(m.probe(day2, "doc_id", "text", maxBucket = -1))
    viaCache shouldBe pairSet(new MinhashIndex.Maintainer(spark, p2)
      .probe(day2, "doc_id", "text", maxBucket = -1))
    viaCache shouldBe pairSet(
      Dedup.minhashLsh(docs, "doc_id", "text",
          k = 3, numPerm = 64, bands = 16, threshold = 0.8, maxBucket = -1)
        .filter(col("id_a") % 4 === 0 || col("id_b") % 4 === 0))
    viaCache should not be empty
  }

  test("empty batch probes to zero pairs without error") {
    new MinhashIndex.Maintainer(spark, path).probe(batch.filter(lit(false)),
      "doc_id", "text").count() shouldBe 0L
  }

  test("a planted exact copy of a history doc is found at jaccard 1.0") {
    import spark.implicits._
    val h = history.orderBy("doc_id").limit(1).collect().head
    val hid = h.getLong(0)
    val planted = Seq((900000L, h.getString(1))).toDF("doc_id", "text")
    val got = pairSet(new MinhashIndex.Maintainer(spark, path)
      .probe(planted, "doc_id", "text"))
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
    val p2 = scratch("graft-mhix2") + "/ix"
    MinhashIndex.build((boiler ++ clean.take(1)).toDF("doc_id", "text"),
      "doc_id", "text", p2, nPostingFiles = 4, nDocFiles = 2)
    val probeBatch = (Seq((200L, boiler.head._2.replace("unique0", "uniqueX")),
      (101L, clean(1)._2))).toDF("doc_id", "text")
    val m = new MinhashIndex.Maintainer(spark, p2)
    val capped = pairSet(m.probe(probeBatch,
      "doc_id", "text", threshold = 0.5, maxBucket = 5))
    // the clean cross pair survives the cap
    capped.exists(p => p._1 == 100L && p._2 == 101L) shouldBe true
    // unlimited finds at least as much
    val unlimited = pairSet(m.probe(probeBatch,
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
    val fresh = new MinhashIndex.Maintainer(spark, path)
    gotA shouldBe pairSet(fresh.probe(a, "doc_id", "text"))
    gotB shouldBe pairSet(fresh.probe(b, "doc_id", "text"))
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
