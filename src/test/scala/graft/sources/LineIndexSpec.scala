package graft.sources

import graft.SparkTestSession
import graft.ops.{Pins, Text}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Persisted line-dedup history index: the disk-backed probe must
  * EQUAL the in-memory incremental operator, the append lifecycle must
  * make batches see each other's lines across separate probe calls,
  * and replayed (duplicate) appends must change bytes, never flags.
  */
class LineIndexSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("id", "text")
  }

  private val history = Seq(
    1L -> "seen a\nseen b",
    2L -> "seen c\nseen a")

  test("probe equals the in-memory dedupLinesIncremental on the same state") {
    val path = scratch("graft-lineix-spec") + "/ix"
    LineIndex.build(df(history: _*), "text", path)
    val batch = df(
      10L -> "seen a\nfresh one\n\nfresh one",
      11L -> "fresh one\nseen c\nfresh two")
    val got = new LineIndex.Maintainer(spark, path).probe(batch, "id", "text")
      .orderBy("id").collect().map(_.toSeq).toSeq
    val want = Text.dedupLinesIncremental(df(history: _*), batch, "id", "text")
      .orderBy("id").collect().map(_.toSeq).toSeq
    got shouldBe want
    // and the values themselves: history drops, batch keep-first wins,
    // the blank survives
    got.map(_(4)).toSeq shouldBe Seq("fresh one\n", "fresh two")
  }

  test("lifecycle probe→append→probe: a line kept in batch 1 drops from batch 2") {
    val path = scratch("graft-lineix-spec") + "/ix"
    LineIndex.build(df(history: _*), "text", path)
    val b1 = df(10L -> "seen a\nfresh one")
    val m = new LineIndex.Maintainer(spark, path)
    val r1 = m.probe(b1, "id", "text").localCheckpoint()
    r1.head().getAs[String]("text_dedup") shouldBe "fresh one"
    m.append(r1, "text_dedup")
    val b2 = df(20L -> "fresh one\nseen b\nfresh three")
    // a fresh handle: the on-disk state carries the append
    val r2 = new LineIndex.Maintainer(spark, path).probe(b2, "id", "text").head()
    // "fresh one" became history via the append; "seen b" was original
    r2.getAs[String]("text_dedup") shouldBe "fresh three"
    r2.getAs[Long]("n_removed_history") shouldBe 2L
    // n_lines introspection tracked the append
    VersionedDir.read(spark, s"$path/params").head().getAs[Long]("n_lines") shouldBe
      4L // seen a, seen b, seen c + fresh one
  }

  test("replayed append duplicates digest rows but never flags: bytes, not wrong pairs") {
    val path = scratch("graft-lineix-spec") + "/ix"
    LineIndex.build(df(history: _*), "text", path)
    val kept = df(10L -> "fresh one")
    new LineIndex.Maintainer(spark, path).append(kept, "text")
    new LineIndex.Maintainer(spark, path).append(kept, "text") // crash-replay double fold
    // the digest table now has duplicate rows for "fresh one"...
    spark.read.parquet(s"$path/digests")
      .groupBy("hh").count().filter(col("count") > 1).count() shouldBe 1L
    // ...but the probe's semi+distinct bounds membership to one row:
    // a 2-line batch doc must NOT multiply to 3 counted lines
    val got = new LineIndex.Maintainer(spark, path).probe(
      df(20L -> "fresh one\nnovel"), "id", "text").head()
    got.getAs[Long]("n_lines") shouldBe 2L
    got.getAs[Long]("n_removed_history") shouldBe 1L
    got.getAs[String]("text_dedup") shouldBe "novel"
  }

  test("dup-heavy distributed path (maxCollect = 0) equals the collect-and-prune path") {
    val path = scratch("graft-lineix-spec") + "/ix"
    LineIndex.build(df(history: _*), "text", path)
    val batch = df(
      10L -> "seen a\nfresh one\nseen b",
      11L -> "fresh one\nseen c")
    val m = new LineIndex.Maintainer(spark, path)
    val fast = m.probe(batch, "id", "text")
      .orderBy("id").collect().map(_.toSeq).toSeq
    val dist = m.probe(batch, "id", "text",
      maxCollect = 0).orderBy("id").collect().map(_.toSeq).toSeq
    dist shouldBe fast
    dist.map(_(4)).toSeq shouldBe Seq("fresh one", "")
  }

  test("compact: re-clusters to nFiles, removes replayed-append duplicates, probes unchanged") {
    val path = scratch("graft-lineix-spec") + "/ix"
    LineIndex.build(df(history: _*), "text", path, nFiles = 4)
    val kept = df(10L -> "fresh one")
    new LineIndex.Maintainer(spark, path).append(kept, "text")
    new LineIndex.Maintainer(spark, path).append(kept, "text") // replay → duplicate row
    val batch = df(20L -> "fresh one\nseen a\nnovel")
    val before = new LineIndex.Maintainer(spark, path).probe(batch, "id", "text")
      .head().toSeq
    LineIndex.compact(spark, path, nFiles = 2)
    // duplicates gone, layout re-clustered to exactly nFiles
    spark.read.parquet(s"$path/digests")
      .groupBy("hh").count().filter(col("count") > 1).count() shouldBe 0L
    FsUtil.listPartFiles(spark, s"$path/digests").size shouldBe 2
    // count introspection is the exact deduplicated cardinality
    VersionedDir.read(spark, s"$path/params").head()
      .getAs[Long]("n_lines") shouldBe 4L // seen a, seen b, seen c, fresh one
    // and the probe answer is bit-identical across the compaction
    new LineIndex.Maintainer(spark, path).probe(batch, "id", "text")
      .head().toSeq shouldBe before
  }

  test("definite-novel batches skip the digest files entirely (bloom no = no join)") {
    val path = scratch("graft-lineix-spec") + "/ix"
    LineIndex.build(df(history: _*), "text", path)
    // lines absent from history: with overwhelming probability all are
    // bloom-negative at m = 2^23 over 3 lines; the probe must still be
    // exact and keep batch-first semantics
    val got = new LineIndex.Maintainer(spark, path).probe(
      df(10L -> "zzz qq\nzzz qq\nanother novel"), "id", "text").head()
    got.getAs[Long]("n_removed_batch") shouldBe 1L
    got.getAs[Long]("n_removed_history") shouldBe 0L
    got.getAs[String]("text_dedup") shouldBe "zzz qq\nanother novel"
  }

  private def rows(r: org.apache.spark.sql.DataFrame) =
    r.orderBy("id").collect().map(_.toSeq).toSeq

  test("Maintainer (dup-heavy path): an earlier probe's result survives a later probe on the same handle") {
    val path = scratch("graft-lineix-spec") + "/ix"
    LineIndex.build(df(history: _*), "text", path)
    val m = new LineIndex.Maintainer(spark, path)
    val a = df(10L -> "seen a\nfresh one", 11L -> "fresh one\nseen c")
    val b = df(20L -> "seen b\nfresh two")
    // maxCollect = 0: every history hit takes the pinned distributed path
    val ra = m.probe(a, "id", "text", maxCollect = 0)
    val rb = m.probe(b, "id", "text", maxCollect = 0)
    val (gotA, gotB) = (rows(ra), rows(rb))
    val fresh = new LineIndex.Maintainer(spark, path)
    gotA shouldBe rows(fresh.probe(a, "id", "text", maxCollect = 0))
    gotB shouldBe rows(fresh.probe(b, "id", "text", maxCollect = 0))
    gotA.map(_(4)) shouldBe Seq("fresh one", "")
    gotB.map(_(4)) shouldBe Seq("fresh two")
  }

  test("Maintainer probe loop (dup-heavy path): closing each probe's Pins leaves no persistent RDD behind") {
    val path = scratch("graft-lineix-spec") + "/ix"
    LineIndex.build(df(history: _*), "text", path)
    val m = new LineIndex.Maintainer(spark, path)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (i <- 0 until 5) {
      val pins = new Pins
      m.probe(df(i.toLong -> s"seen a\nline $i"), "id", "text",
        maxCollect = 0, pins = pins).collect()
      pins.close()
    }
    (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
  }
}
