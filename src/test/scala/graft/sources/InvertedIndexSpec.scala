package graft.sources

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class InvertedIndexSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private lazy val path = {
    val p = scratch("graft-ixspec") + "/ix"
    InvertedIndex.write(Tables.documents(spark, sfDir), p, "doc_id", "text", nFiles = 8)
    p
  }

  private def fullScanWithAll(terms: Seq[String]) =
    Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .filter(terms.map(t =>
        array_contains(InvertedIndex.tokens(col("text")), t)).reduce(_ && _))
      .select("doc_id")

  test("index AND lookup equals the full-scan tokenize-and-filter") {
    val viaIndex = InvertedIndex.docsWithAll(spark, path, Seq("join", "vector"))
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val viaScan = fullScanWithAll(Seq("join", "vector"))
      .orderBy("doc_id").collect().map(_.getLong(0))
    viaIndex shouldBe viaScan
    viaIndex should not be empty
  }

  test("single-term lookup reads a strict subset of the part files") {
    InvertedIndex.docsWithAll(spark, path, Seq("join")).count() // force build
    val total = StatsManifest.manifest(spark, path).count()
    val cand = InvertedIndex.candidateFiles(spark, path, Seq("join"))
    cand.length.toLong should be < total
    cand should not be empty
  }

  test("a term absent from the corpus returns zero docs") {
    InvertedIndex.docsWithAll(spark, path, Seq("zzzmissing")).count() shouldBe 0
    // and AND with a missing term is empty even when the other term hits
    InvertedIndex.docsWithAll(spark, path, Seq("join", "zzzmissing")).count() shouldBe 0
  }
}
