package graft.sources

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The generic Z-order layout's defining property: every part file
  * covers a tight span on EVERY z-ordered axis, where a linear sort
  * clusters only its leading column — that per-file tightness is what
  * lets parquet footer min/max prune row groups for predicates on any
  * axis.
  */
class ZOrderLayoutSpec extends AnyFunSuite with SparkTestSession with Matchers {

  // 10k rows, two decorrelated axes: a = id, b = a full-range permutation
  private lazy val df = {
    val spark0 = spark
    import spark0.implicits._
    (0L until 10000L).map(i => (i, (i * 7919L) % 10000L, s"p$i"))
      .toDF("a", "b", "payload")
  }

  /** Mean per-file (max−min) span of `c`, over the part files of `path`. */
  private def meanSpan(path: String, c: String): Double = {
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    val spans = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min(col(c)).as("mn"), max(col(c)).as("mx")).head()
      (r.getLong(1) - r.getLong(0)).toDouble
    }
    spans.sum / spans.length
  }

  test("z-order clusters BOTH axes; a linear sort clusters only its leading column") {
    val zpath = scratch("graft-zorder-spec") + "/t"
    ZOrderLayout.writeZOrdered(df, zpath, Seq("a", "b"), parts = 16)
    val lpath = scratch("graft-zorder-linear") + "/t"
    df.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.mode("overwrite").parquet(lpath)

    // roundtrip: the re-layout moves every row, loses none
    ZOrderLayout.read(spark, zpath).count() shouldBe 10000L
    ZOrderLayout.read(spark, zpath).agg(sum("a"), sum("b")).head() shouldBe
      df.agg(sum("a"), sum("b")).head()

    // the linear layout is perfectly tight on a but useless on b
    meanSpan(lpath, "a") should be < 1000.0
    meanSpan(lpath, "b") should be > 8000.0
    // the z-order layout is tight on BOTH axes: 16 files ≈ a 4×4 grid,
    // each covering ~1/4 of each axis — far below the linear layout's
    // full-range b spans
    meanSpan(zpath, "a") should be < 4500.0
    meanSpan(zpath, "b") should be < 4500.0
  }

  test("range predicates on either axis reach the scan as PushedFilters") {
    val zpath = scratch("graft-zorder-push") + "/t"
    ZOrderLayout.writeZOrdered(df, zpath, Seq("a", "b"), parts = 8)
    val q = ZOrderLayout.read(spark, zpath)
      .filter(col("a") >= 100L && col("a") <= 200L && col("b") >= 5000L && col("b") <= 6000L)
    // the plan's toString elides long filter lists — read the scan
    // node's untruncated metadata
    val pushed = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metadata("PushedFilters")
    }.get
    withClue(pushed) {
      pushed should include("GreaterThanOrEqual(a,100)")
      pushed should include("LessThanOrEqual(a,200)")
      pushed should include("GreaterThanOrEqual(b,5000)")
      pushed should include("LessThanOrEqual(b,6000)")
    }
  }

  test("degenerate axes: constant column and k×bits bound fail loudly or behave") {
    // constant column → span 0 → every row grid 0: still writes and roundtrips
    val cpath = scratch("graft-zorder-const") + "/t"
    val cdf = df.withColumn("c", lit(7L))
    ZOrderLayout.writeZOrdered(cdf, cpath, Seq("a", "c"), parts = 4)
    ZOrderLayout.read(spark, cpath).count() shouldBe 10000L
    // too many bits for one long must be rejected
    an[IllegalArgumentException] should be thrownBy
      ZOrderLayout.writeZOrdered(df, scratch("x") + "/t", Seq("a", "b"), parts = 4, bits = 40)
  }
}
