package graft.sources

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class BloomManifestSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private lazy val path = {
    val p = scratch("graft-bloomtest") + "/docs"
    BloomManifest.write(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), substring(md5(col("text")), 1, 16).as("ck")),
      p, clusterCol = "doc_id", lookupCol = "ck", nFiles = 8)
    p
  }

  private def keysOf(ids: Long*): Seq[String] =
    Tables.documents(spark, sfDir)
      .filter(col("doc_id").isin(ids.map(Long.box): _*))
      .select(substring(md5(col("text")), 1, 16)).collect().map(_.getString(0)).toIndexedSeq

  test("lookup equals the unpruned IN filter row-for-row") {
    val probes = keysOf(3L, 57L, 91L)
    val pruned = BloomManifest.lookupRead(spark, path, "ck", probes)
      .orderBy("doc_id").collect()
    val full = spark.read.parquet(path)
      .filter(col("ck").isin(probes.map(lit): _*))
      .orderBy("doc_id").collect()
    pruned shouldBe full
    full.length should be >= 3
  }

  test("the bloom actually skips files for a selective probe") {
    val total = BloomManifest.manifest(spark, path).count()
    total shouldBe 8
    val cand = BloomManifest.candidateFiles(spark, path, keysOf(3L))
    cand.length.toLong should be < total
    cand should not be empty // no false negatives: the true file survives
  }

  test("a probe value absent from the table reads zero rows (usually zero files)") {
    val out = BloomManifest.lookupRead(spark, path, "ck", Seq("nosuchkey0000000"))
    out.count() shouldBe 0
  }
}
