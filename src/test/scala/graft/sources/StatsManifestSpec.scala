package graft.sources

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Manifest-based file skipping: stats cover the layout exactly, band
  * reads skip files but never rows, and the degenerate bands behave.
  */
class StatsManifestSpec extends AnyFunSuite with SparkTestSession with Matchers {

  import scala.jdk.CollectionConverters._

  private lazy val (path, df) = {
    val rows = (0L until 1000L).map(i => org.apache.spark.sql.Row(i, s"payload $i"))
    val d = spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.StringType))))
    val p = scratch("graft-skip-spec") + "/t"
    StatsManifest.write(d, p, "id", nFiles = 10)
    (p, d)
  }

  test("manifest covers every file, ranges disjoint, rows accounted") {
    val m = StatsManifest.manifest(spark, path)
      .collect().map(r => (r.getAs[String]("file"), r.getAs[Long]("lo"),
        r.getAs[Long]("hi"), r.getAs[Long]("n_rows")))
    m.length should be >= 8 // repartitionByRange targets 10 files
    m.map(_._4).sum shouldBe 1000L
    // range-clustered layout → file ranges must not overlap
    val spans = m.map(t => (t._2, t._3)).sortBy(_._1)
    spans.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => lo2 should be > hi1
      case _ =>
    }
  }

  test("band read: fewer files scanned, identical rows to the full filter") {
    val pruned = StatsManifest.prunedFiles(spark, path, lit(250L), lit(349L))
    val total = StatsManifest.manifest(spark, path).count()
    pruned.length.toLong should be < total
    val got = StatsManifest.prunedRead(spark, path, "id", lit(250L), lit(349L))
      .collect().map(_.getLong(0)).sorted
    got shouldBe (250L to 349L).toArray
  }

  test("degenerate bands: out-of-range is empty, full-range reads everything") {
    StatsManifest.prunedRead(spark, path, "id", lit(5000L), lit(6000L)).count() shouldBe 0L
    StatsManifest.prunedFiles(spark, path, lit(5000L), lit(6000L)) shouldBe empty
    StatsManifest.prunedRead(spark, path, "id", lit(0L), lit(999L)).count() shouldBe 1000L
  }

  test("append: manifest extends by the delta's files only; band reads stay exact across generations") {
    // a private layout so the shared fixture stays untouched
    val rows = (0L until 500L).map(i => org.apache.spark.sql.Row(i, s"v$i"))
    val d = spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.StringType))))
    val p = scratch("graft-skip-app") + "/t"
    StatsManifest.write(d, p, "id", nFiles = 5)
    val before = StatsManifest.manifest(spark, p).count()
    // delta overlaps the resident range (ids 250..749)
    val delta = spark.createDataFrame(
      (250L until 750L).map(i => org.apache.spark.sql.Row(i, s"d$i")).asJava,
      d.schema)
    StatsManifest.append(delta, p, "id", nFiles = 3)
    val m = StatsManifest.manifest(spark, p)
    m.count() should be > before
    m.agg(sum("n_rows")).head.getLong(0) shouldBe 1000L
    // band read returns BOTH generations' rows, exactly
    val got = StatsManifest.prunedRead(spark, p, "id", lit(240L), lit(260L))
      .collect().map(_.getLong(0)).sorted
    got shouldBe ((240L to 260L) ++ (250L to 260L)).toArray.sorted
    // and pruning still skips: a band outside the delta's range reads
    // fewer files than the manifest lists
    StatsManifest.prunedFiles(spark, p, lit(0L), lit(49L)).length.toLong should be < m.count()
  }

  test("crash-atomic append: a torn manifest generation is invisible; replay commits above it") {
    val d = spark.createDataFrame(
      (0L until 300L).map(i => org.apache.spark.sql.Row(i, s"v$i")).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.StringType))))
    val p = scratch("graft-skip-torn") + "/t"
    StatsManifest.write(d, p, "id", nFiles = 3)
    val committed = StatsManifest.manifest(spark, p).collect().toSet

    // crash state 1 — append died after landing data files but BEFORE
    // any manifest commit: rows exist on disk yet the manifest (the
    // only read path) still serves the old generation exactly
    val delta = spark.createDataFrame(
      (300L until 400L).map(i => org.apache.spark.sql.Row(i, s"d$i")).asJava, d.schema)
    delta.repartitionByRange(1, col("id")).write.mode("append").parquet(p)
    StatsManifest.manifest(spark, p).collect().toSet shouldBe committed
    StatsManifest.prunedRead(spark, p, "id", lit(0L), lit(999L))
      .count() shouldBe 300L // old generation, not a torn mix

    // crash state 2 — a manifest generation died MID-WRITE (data files
    // present, no _SUCCESS marker): readers must skip it entirely
    val torn = new java.io.File(s"$p/_manifest/v00000009")
    torn.mkdirs()
    java.nio.file.Files.write(torn.toPath.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3)) // garbage — must never be opened
    StatsManifest.manifest(spark, p).collect().toSet shouldBe committed

    // idempotent replay: re-running the append commits ABOVE the torn
    // generation; the replayed delta is served exactly once (the
    // crashed attempt's orphaned data files stay unreferenced — dead
    // bytes, never rows, until a rewrite re-clusters)
    StatsManifest.append(delta, p, "id", nFiles = 1)
    val m = StatsManifest.manifest(spark, p)
    m.agg(sum("n_rows")).head.getLong(0) shouldBe 400L // 300 + replayed 100
    StatsManifest.prunedRead(spark, p, "id", lit(350L), lit(359L))
      .select("id").distinct().count() shouldBe 10L
    StatsManifest.prunedRead(spark, p, "id", lit(0L), lit(999L))
      .count() shouldBe 400L

    // r12: the successful commit PRUNES the torn generation dir too —
    // crash leftovers must not accumulate forever on a long-lived
    // streaming index — and readers keep resolving the fresh commit
    torn.exists() shouldBe false
    new java.io.File(s"$p/_manifest").listFiles()
      .count(f => f.isDirectory && f.getName.matches("v\\d{8}")) shouldBe 1
    StatsManifest.manifest(spark, p)
      .agg(sum("n_rows")).head.getLong(0) shouldBe 400L
  }

  test("pruneLocal: duplicate manifest rows never yield the same file twice; " +
    "pruneLocalAny degrades non-numeric keys to every file") {
    val rows = StatsManifest.manifest(spark, path).collect().toSeq
    val keys = Array(5L, 995L)
    val pruned = StatsManifest.pruneLocal(rows, keys)
    pruned.distinct.size shouldBe pruned.size
    // a duplicated manifest row (repaired/merged manifests) must not
    // double-read its file — rows would duplicate downstream of joins
    // that carry no distinct
    StatsManifest.pruneLocal(rows ++ rows.take(1), keys) shouldBe pruned
    // untyped numeric keys take the pruning fast path...
    StatsManifest.pruneLocalAny(rows, Array[Any](5L, 995L)) shouldBe pruned
    // ...non-numeric keys (a string-id index) degrade to ALL files —
    // never a ClassCastException; callers' exact joins keep correctness
    StatsManifest.pruneLocalAny(rows, Array[Any]("a", "b")).sorted shouldBe
      rows.map(_.getAs[String]("file")).distinct.sorted
    StatsManifest.pruneLocalAny(rows, Array.empty[Any]) shouldBe Nil
  }
}
