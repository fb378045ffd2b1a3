package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The driver contract itself: entry() returns rows, every queries key
  * with an oracle actually exists, and no oracle references a query
  * that was renamed or removed (the exact mismatch class the
  * correctness gate would only surface one full round later).
  */
class SparkEntrySpec extends AnyFunSuite with SparkTestSession with Matchers {

  test("entry() smoke check: runs on sf0.001 and returns rows") {
    SparkEntry.entry(spark).count() should be > 0L
  }

  test("every oracle key has a matching query; query/oracle sets are consistent") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    val orphanOracles = os -- qs
    withClue(s"oracles without a query: $orphanOracles") {
      orphanOracles shouldBe empty
    }
    // rows-only queries (no oracle) must stay a small, deliberate set —
    // every one a probabilistic regime whose named value-check twin
    // (\*_full / \*_exhaustive / \*_recall) IS oracle-checked
    val rowsOnly = qs -- os
    withClue(s"rows-only queries: $rowsOnly") {
      rowsOnly.size should be <= 15 // r15: + tx_compress (twin: tx_compress_check)
    }
  }

  test("query names are unique across the three area maps (no silent shadowing)") {
    val all = Seq(
      graft.queries.Relational.queries.keys,
      graft.queries.Spatial.queries.keys,
      graft.queries.Pipeline.queries.keys).flatten
    val dups = all.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    withClue(s"duplicate query names: $dups") {
      dups shouldBe empty
    }
  }

  test("dd_lsh_index's result survives building dd_lsh_index_check on the shared Maintainer") {
    val first = SparkEntry.queries("dd_lsh_index")(spark, sfDir)
    val check = SparkEntry.queries("dd_lsh_index_check")(spark, sfDir)
    first.collect().toSeq shouldBe
      SparkEntry.queries("dd_lsh_index")(spark, sfDir).collect().toSeq
    val c = check.head()
    (c.getAs[Long]("n_missed"), c.getAs[Long]("n_diff_reband")) shouldBe ((0L, 0L))
  }
}
