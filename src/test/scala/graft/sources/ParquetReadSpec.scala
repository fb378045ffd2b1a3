package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.SparkTestSession
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** graft's parquet read path ([[Parquet]]) against Spark's own
  * `spark.read.parquet`: the same schema, field for field, on every
  * kind of directory graft reads, and no Spark job to build a frame.
  */
class ParquetReadSpec extends AnyFunSuite with SparkTestSession with Matchers {

  /** Names, types, nullability and metadata; `json` spells out a
    * mismatch.
    */
  private def sameSchema(ours: DataFrame, spark: DataFrame): Unit = {
    ours.schema.json shouldBe spark.schema.json
    ours.schema shouldBe spark.schema
  }

  /** A parquet file without Spark's schema in its footer, as a
    * non-Spark writer leaves it, so the converter's flags decide the
    * types: an unannotated binary, an INT96 and a local timestamp.
    */
  private lazy val foreignDir = {
    val dir = scratch("graft-parquet-foreign")
    val schema = MessageTypeParser.parseMessageType(
      """message foreign {
        |  required int64 id;
        |  optional binary raw;
        |  optional int96 legacy_ts;
        |  optional int64 local_ts (TIMESTAMP(MICROS,false));
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L))
    finally w.close()
    dir
  }

  test("every corpus table reads with Spark's schema; events under nanosAsLong") {
    for (name <- Tables.names) withClue(name) {
      val nanos = if (name == "events") Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true") else Nil
      withConf(spark, nanos: _*) {
        sameSchema(Tables(spark, sfDir, name), spark.read.parquet(s"$sfDir/$name.parquet"))
      }
    }
  }

  test("a Z2 layout read with basePath over some z2p= directories keeps the geometry and z2p columns") {
    val path = scratch("graft-parquet-z2") + "/pts"
    SpatialLayout.writeZ2(graft.queries.Spatial.customerPoints(spark, sfDir), "geom", path,
      level = 12, dirLevel = 3)
    val dirs = FsUtil.listPartitionDirs(spark, path, "z2p").map(_._2).sorted.take(2)
    dirs should have size 2
    val ours = Parquet.read(spark, Map("basePath" -> path), dirs: _*)
    sameSchema(ours, spark.read.option("basePath", path).parquet(dirs: _*))
    ours.schema("geom").dataType shouldBe a[graft.geom.GeometryUDT]
    ours.columns should contain("z2p")
  }

  test("an IVF layout's centroids and vectors") {
    val path = scratch("graft-parquet-ivf") + "/ivf"
    AnnLayout.build(Tables.embeddings(spark, sfDir), "vec_id", "embedding", path,
      nlist = 4, iters = 1, seed = 7)
    for (t <- Seq("centroids", "vectors")) withClue(t) {
      sameSchema(Parquet.read(spark, s"$path/$t"), spark.read.parquet(s"$path/$t"))
    }
  }

  test("one VersionedDir generation") {
    import spark.implicits._
    val dir = scratch("graft-parquet-vd") + "/params"
    VersionedDir.write(Seq((3, 64L, "a")).toDF("k", "seed", "tag"), dir)
    sameSchema(VersionedDir.read(spark, dir),
      spark.read.parquet(VersionedDir.latestPath(spark, dir)))
  }

  test("a _common_metadata summary wins over _metadata, and _metadata over the data files") {
    import spark.implicits._
    val dir = scratch("graft-parquet-summary") + "/t"
    Seq(1L, 2L).toDF("id").coalesce(1).write.parquet(dir)
    // a summary is a footer; a one-file write of another schema gives one
    def summary(name: String, df: DataFrame): Unit = {
      val src = scratch("graft-parquet-src")
      df.coalesce(1).write.mode("overwrite").parquet(src)
      val part = new File(src).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, new File(dir, name).toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    summary("_metadata", Seq((1L, "m")).toDF("id", "from_metadata"))
    summary("_common_metadata", Seq((1L, 0.5)).toDF("id", "from_common"))
    sameSchema(Parquet.read(spark, dir), spark.read.parquet(dir))
    Parquet.read(spark, dir).columns shouldBe Array("id", "from_common")
    new File(dir, "_common_metadata").delete() shouldBe true
    sameSchema(Parquet.read(spark, dir), spark.read.parquet(dir))
    Parquet.read(spark, dir).columns shouldBe Array("id", "from_metadata")
  }

  test("a footer without Spark's schema converts under the session's parquet flags") {
    val flags = Seq(
      Seq.empty,
      Seq("spark.sql.parquet.binaryAsString" -> "true"),
      Seq("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false"))
    for (kv <- flags) withClue(kv) {
      withConf(spark, kv: _*) { sameSchema(Parquet.read(spark, foreignDir), spark.read.parquet(foreignDir)) }
    }
    // the flags are live: each changes a type
    withConf(spark, "spark.sql.parquet.binaryAsString" -> "true") {
      Parquet.read(spark, foreignDir).schema("raw").dataType shouldBe StringType
    }
    withConf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false") {
      Parquet.read(spark, foreignDir).schema("local_ts").dataType shouldBe TimestampType
    }
    val plain = Parquet.read(spark, foreignDir).schema
    plain("raw").dataType shouldBe BinaryType
    plain("legacy_ts").dataType shouldBe TimestampType
    plain("local_ts").dataType shouldBe TimestampNTZType
  }

  test("mergeSchema keeps Spark's merge job and returns the merged schema") {
    import spark.implicits._
    val dir = scratch("graft-parquet-merge") + "/t"
    EvolvingLayout.append(Seq(1L).toDF("id"), dir)
    EvolvingLayout.append(Seq((2L, "x")).toDF("id", "late"), dir)
    var merged: DataFrame = null
    jobsOf { merged = EvolvingLayout.read(spark, dir) } shouldBe 1
    sameSchema(merged, spark.read.option("mergeSchema", "true").parquet(dir))
    merged.columns.sorted shouldBe Array("id", "late")
    withConf(spark, "spark.sql.parquet.mergeSchema" -> "true") {
      sameSchema(Parquet.read(spark, dir), spark.read.parquet(dir))
      Parquet.read(spark, dir).columns.sorted shouldBe Array("id", "late")
    }
  }

  test("an empty directory fails as Spark's read does") {
    val dir = scratch("graft-parquet-empty")
    val ours = intercept[AnalysisException](Parquet.read(spark, dir))
    val theirs = intercept[AnalysisException](spark.read.parquet(dir))
    ours.getCondition shouldBe theirs.getCondition
    ours.getCondition shouldBe "UNABLE_TO_INFER_SCHEMA"
    ours.getMessage should include("Unable to infer schema for Parquet")
  }

  test("building a table or a VersionedDir frame runs no Spark job") {
    import spark.implicits._
    val dir = scratch("graft-parquet-jobs") + "/params"
    VersionedDir.write(Seq((1, 2L)).toDF("k", "n"), dir)
    jobsOf { Tables(spark, sfDir, "lineitem") } shouldBe 0
    jobsOf { Tables.events(spark, sfDir) } shouldBe 0
    jobsOf { VersionedDir.read(spark, dir) } shouldBe 0
    // the frames still read their rows
    VersionedDir.read(spark, dir).as[(Int, Long)].collect() shouldBe Array((1, 2L))
  }

  test("the plan still names Spark's parquet scan and pushes filters to it") {
    val df = Tables(spark, sfDir, "orders").filter(col("o_orderkey") < 10)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should include("FileScan parquet")
    plan should include("Batched: true")
    plan should include("LessThan(o_orderkey,10)")
    df.queryExecution.optimizedPlan.toString should include("] parquet")
  }

  /** Parquet reads in `src/main`, lines of a call chain joined:
    * `read….parquet(` and `format("parquet")….load(`. Writes
    * (`write.parquet`, `format("parquet")….saveAsTable`) do not count.
    */
  private def rawReads(source: String): Seq[String] = {
    val call = """\.\w+\((?:[^()]|\([^()]*\))*\)"""
    val read = raw"""\.read(?:Stream)?(?:$call)*\.parquet\(""".r
    val load = raw"""format\("parquet"\)(?:$call)*\.load\(""".r
    val joined = source.replaceAll("""\s*\n\s*\.""", ".")
    (read.findAllIn(joined) ++ load.findAllIn(joined)).toSeq
  }

  test("the guard sees each spelling of a parquet read, and no write") {
    rawReads("s.read.parquet(p)") should have size 1
    rawReads("spark.read.option(\"basePath\", b)\n  .parquet(ps: _*)") should have size 1
    rawReads("s.read.format(\"parquet\").load(p)") should have size 1
    rawReads("s.read\n  .format(\"parquet\")\n  .option(\"k\", f(x))\n  .load(p)") should have size 1
    rawReads("df.write.mode(\"overwrite\").parquet(p)") shouldBe empty
    rawReads("df.write\n  .format(\"parquet\")\n  .bucketBy(4, k)\n  .saveAsTable(t)") shouldBe empty
    rawReads("Parquet.read(s, p)") shouldBe empty
  }

  test("src/main reads parquet only through graft.sources.Parquet") {
    def sources(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = sources(new File("src/main/scala"))
    files.map(_.getName) should contain("Parquet.scala")
    val offending = for {
      f <- files
      hit <- rawReads(scala.util.Using.resource(
        scala.io.Source.fromFile(f)(scala.io.Codec.UTF8))(_.mkString))
    } yield s"${f.getPath}: $hit"
    offending shouldBe empty
  }
}
