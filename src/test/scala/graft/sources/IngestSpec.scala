package graft.sources

import graft.SparkTestSession
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._

/** JSONL ingest/egress and small-file compaction (the lakehouse
  * maintenance surface behind src_jsonl / src_compact).
  */
class IngestSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private val docSchema = StructType(Seq(
    StructField("id", LongType), StructField("txt", StringType)))

  test("Jsonl: write→read roundtrips every row, including escaped newlines/quotes/unicode") {
    val rows = Seq(
      Row(1L, "plain text"),
      Row(2L, "line\nbreak and \"quotes\" and tab\t"),
      Row(3L, "unicode: čžß→𝒳 and backslash \\"),
      Row(4L, null))
    val df = spark.createDataFrame(rows.asJava, docSchema)
    val p = scratch("graft-jsonl-spec") + "/d"
    Jsonl.write(df, p)
    // reference data columns alongside _corrupt (SPARK-21610: a plan
    // touching only the corrupt column is rejected)
    val back = Jsonl.read(spark, p, docSchema).select("id", "txt", "_corrupt").collect()
    back.count(r => !r.isNullAt(2)) shouldBe 0
    back.map(r => (r.get(0), r.get(1))).toSet shouldBe
      rows.map(r => (r.get(0), r.get(1))).toSet
  }

  test("Jsonl: malformed lines are quarantined with the raw line, parsed rows unaffected") {
    val p = scratch("graft-jsonl-bad") + "/d"
    import spark.implicits._
    Seq(
      """{"id":1,"txt":"good"}""",
      """{"id":2,"txt":"truncated""",   // unterminated string+object
      """not json at all""",
      """{"id":3,"txt":"also good"}""")
      .toDF("value").repartition(1).write.text(p)
    val back = Jsonl.read(spark, p, docSchema).select("id", "txt", "_corrupt").collect()
    back.filter(_.isNullAt(2)).map(_.getLong(0)).sorted shouldBe Array(1L, 3L)
    // the raw line is preserved for the quarantine sink; data fields null
    val bad = back.filter(r => !r.isNullAt(2))
    bad.length shouldBe 2
    bad.foreach(r => r.isNullAt(0) shouldBe true)
    bad.map(_.getString(2)).toSet shouldBe
      Set("""{"id":2,"txt":"truncated""", "not json at all")
  }

  test("Compaction: row-preserving, hits ceil(n/target) files, restores key clustering") {
    val base = scratch("graft-compact-spec")
    val small = base + "/small"; val big = base + "/big"
    val df = spark.range(1000).select(col("id"), (col("id") * 7 % 100).as("v"))
    df.repartition(32).write.parquet(small)
    Compaction.partFileCount(small) shouldBe 32
    val nOut = Compaction.compactByRows(spark, small, big, "id", targetRows = 400L)
    nOut shouldBe 3 // ceil(1000/400)
    val back = spark.read.parquet(big)
    back.count() shouldBe 1000L
    back.agg(sum("id")).head().getLong(0) shouldBe (0L until 1000L).sum
    // range clustering: per-file id ranges must not overlap (the property
    // that re-enables min/max row-group pruning after compaction)
    val spans = back
      .select(input_file_name().as("f"), col("id"))
      .groupBy("f").agg(min("id").as("lo"), max("id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    spans.length shouldBe 3
    spans.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      hi1 should be < lo2
    }
  }

  test("Jsonl.readStream: quarantining ingest equals the batch twin across arriving shards") {
    val p = scratch("graft-jsonl-stream") + "/in"
    new java.io.File(p).mkdirs()
    def shard(name: String, lines: Seq[String]): Unit = {
      val f = java.nio.file.Paths.get(p, name)
      java.nio.file.Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    shard("s0.jsonl", Seq("""{"id":1,"txt":"a"}""", """{"id":2,"txt":"torn"""))
    val q = Jsonl.readStream(spark, p, docSchema)
      .writeStream.format("memory").queryName("jsonl_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      // a second shard lands mid-stream — new files picked up, torn line quarantined
      shard("s1.jsonl", Seq("""{"id":3,"txt":"b"}""", """garbage"""))
      q.processAllAvailable()
      val got = spark.table("jsonl_stream").collect()
      got.length shouldBe 4
      got.filter(_.isNullAt(2)).map(_.getLong(0)).sorted shouldBe Array(1L, 3L)
      got.filter(r => !r.isNullAt(2)).map(_.getString(2)).toSet shouldBe
        Set("""{"id":2,"txt":"torn""", "garbage")
      // bit-identical to the batch reader over the same dir
      val batch = Jsonl.read(spark, p, docSchema).select("id", "txt", "_corrupt").collect()
      got.map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet shouldBe
        batch.map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet
    } finally q.stop()
  }

  test("Compaction: never fewer than one file; tiny inputs collapse to a single file") {
    val base = scratch("graft-compact-tiny")
    val small = base + "/small"; val big = base + "/big"
    spark.range(5).write.parquet(small)
    Compaction.compactByRows(spark, small, big, "id", targetRows = 1000L) shouldBe 1
    spark.read.parquet(big).count() shouldBe 5L
  }

  test("Csv: write→read roundtrips rows needing quotes; commas/quotes/nulls survive") {
    val rows = Seq(
      Row(1L, "plain"),
      Row(2L, "has,comma"),
      Row(3L, "has \"quotes\" inside"),
      Row(4L, null))
    val df = spark.createDataFrame(rows.asJava, docSchema)
    val p = scratch("graft-csv-spec") + "/d"
    Csv.write(df, p)
    val back = Csv.read(spark, p, docSchema).select("id", "txt", "_corrupt").collect()
    back.count(r => !r.isNullAt(2)) shouldBe 0
    back.map(r => (r.get(0), r.get(1))).toSet shouldBe
      rows.map(r => (r.get(0), r.get(1))).toSet
  }

  test("Csv: a bad FIELD nulls only itself — the row's other fields survive with the raw line") {
    val p = scratch("graft-csv-bad") + "/d"
    import spark.implicits._
    Seq("1,good", "notanumber,alsotext", "3,fine").toDF("value")
      .repartition(1).write.text(p)
    val back = Csv.read(spark, p, docSchema).select("id", "txt", "_corrupt").collect()
    back.filter(_.isNullAt(2)).map(_.getLong(0)).sorted shouldBe Array(1L, 3L)
    val bad = back.filter(r => !r.isNullAt(2))
    bad.length shouldBe 1
    // CSV partial-row quarantine: id (the bad field) is null, but txt
    // parsed — unlike JSONL's all-null torn rows
    bad.head.isNullAt(0) shouldBe true
    bad.head.getString(1) shouldBe "alsotext"
    bad.head.getString(2) shouldBe "notanumber,alsotext"
  }

  test("Csv.readStream: quarantining ingest equals the batch twin across arriving shards") {
    val p = scratch("graft-csv-stream") + "/in"
    new java.io.File(p).mkdirs()
    def shard(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(p, name),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    shard("s0.csv", Seq("1,a", "x,bad"))
    val q = Csv.readStream(spark, p, docSchema)
      .writeStream.format("memory").queryName("csv_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      shard("s1.csv", Seq("3,b"))
      q.processAllAvailable()
      val got = spark.table("csv_stream").collect()
      got.length shouldBe 3
      got.filter(_.isNullAt(2)).map(_.getLong(0)).sorted shouldBe Array(1L, 3L)
      val batch = Csv.read(spark, p, docSchema).select("id", "txt", "_corrupt").collect()
      got.map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet shouldBe
        batch.map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet
    } finally q.stop()
  }

  test("ORC: write→read preserves values; filters reach the ORC scan as PushedFilters") {
    import spark.implicits._
    val p = scratch("graft-orc-spec") + "/d"
    val df = (0L until 1000L).map(i => (i, s"row$i", i % 7)).toDF("id", "txt", "grp")
    df.write.orc(p)
    val back = spark.read.orc(p)
    back.count() shouldBe 1000L
    back.agg(sum("id")).head.getLong(0) shouldBe (0L until 1000L).sum
    // predicate pushdown: the range filter must reach the ORC scan
    val plan = back.filter(col("id") < 100).select("id", "txt")
      .queryExecution.executedPlan.toString
    plan should include("PushedFilters")
    plan should include("LessThan(id,100)")
    // and column pruning: txt-free aggregation reads a txt-free schema
    val pruned = back.filter(col("id") < 100).groupBy("grp").count()
      .queryExecution.executedPlan.toString
    pruned should not include ("txt")
  }
}
