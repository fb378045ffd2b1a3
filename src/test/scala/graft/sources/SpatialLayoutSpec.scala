package graft.sources

import graft.SparkTestSession
import graft.functions.st
import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.time.SpanSugar._

/** The Z2 layout must actually prune: fewer files read for a window
  * query than exist on disk, with identical results to a full scan, and
  * no listing of the directories a window does not cover.
  */
class SpatialLayoutSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private lazy val layoutPath = {
    val path = tmpDir("graft-z2") + "/pts"
    val pts = graft.queries.Spatial.customerPoints(SparkTestSession.session, sfDir)
    SpatialLayout.writeZ2(pts, "geom", path, level = 12, dirLevel = 3)
    path
  }

  private def pointLayout(prefix: String, lonLats: Seq[(Double, Double)], dirLevel: Int): String = {
    val path = tmpDir(prefix) + "/pts"
    val rows = lonLats.zipWithIndex.map { case ((lon, lat), id) => (id.toLong, lon, lat) }
    val df = spark.createDataFrame(rows).toDF("id", "lon", "lat")
      .withColumn("geom", st.makePoint(col("lon"), col("lat")))
    SpatialLayout.writeZ2(df, "geom", path, level = 12, dirLevel = dirLevel)
    path
  }

  /** Seeded uniform points over the whole world at dirLevel 4: nearly all
    * 256 cells get a directory, far past the 32 paths above which Spark
    * lists through a job.
    */
  private lazy val globalPath = {
    val rnd = new scala.util.Random(7)
    pointLayout("graft-z2global",
      Seq.fill(4000)((rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)), dirLevel = 4)
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  /** Tasks of every job `body` launches. A marker job runs last in the
    * same job group; status events are recorded in order, so once the
    * marker shows as done every earlier job and stage is recorded too.
    */
  private def tasksOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "graft-z2-" + java.util.UUID.randomUUID()
    sc.setJobGroup(group, "count tasks")
    val marker = try {
      body
      val f = sc.parallelize(Seq(1), 1).countAsync()
      f.get()
      f.jobIds.head
    } finally sc.clearJobGroup()
    val tracker = sc.statusTracker
    eventually(timeout(30.seconds)) {
      tracker.getJobInfo(marker).map(_.status) shouldBe Some(JobExecutionStatus.SUCCEEDED)
    }
    tracker.getJobIdsForGroup(group).toSeq.filter(_ != marker)
      .flatMap(tracker.getJobInfo).flatMap(_.stageIds)
      .flatMap(tracker.getStageInfo).map(_.numTasks).sum
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    df.collect() // execute so metrics fill
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }.head
  }

  test("window read returns exactly the full-scan result") {
    val window = (-140.0, 0.0, -100.0, 40.0)
    val pruned = SpatialLayout.readWindow(spark, layoutPath,
        window._1, window._2, window._3, window._4, dirLevel = 3)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val full = spark.read.parquet(layoutPath)
      .filter(st.intersects(st.makeBBOX(window._1, window._2, window._3, window._4), col("geom")))
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    pruned shouldBe full
    pruned should not be empty
  }

  test("rows are z2-ordered within every part file") {
    // Small files are read whole and in order, so collect keeps each
    // file's row order.
    val rows = spark.read.parquet(globalPath).select(col("_metadata.file_path"), col("z2"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byFile = rows.groupBy(_._1).values.map(_.map(_._2).toSeq)
    byFile.size should be > 32
    byFile.count(_.size > 1) should be > 32
    val unordered = byFile.count(z => z != z.sorted)
    withClue(s"$unordered of ${byFile.size} files not z2-ordered: ") { unordered shouldBe 0 }
  }

  test("directory pruning: the scan touches fewer files than exist") {
    val totalFiles = spark.read.parquet(layoutPath).inputFiles.length
    val scan = scanOf(SpatialLayout.readWindow(spark, layoutPath,
      -140.0, 0.0, -100.0, 40.0, dirLevel = 3))
    val filesRead = scan.metrics("numFiles").value
    withClue(s"read $filesRead of $totalFiles files") {
      filesRead should be < totalFiles.toLong
    }
    scan.toString should include("PartitionFilters")
  }

  /** Four polygons at dirLevel 3: 1, 3 and 4 each fit one cell, 2 spans
    * many and lands in the spill directory.
    */
  private lazy val polyPath = {
    val mk = (id: Long, wkt: String) => Row(id, wkt)
    val rows = Seq(
      // L-shaped polygon: bbox (9,9)-(15,15) overlaps the window corner,
      // the shape itself (x>=12 or y>=12) does not
      mk(1L, "POLYGON ((12 9, 15 9, 15 15, 9 15, 9 12, 12 12, 12 9))"),
      // huge polygon spanning many level-3 cells, centroid far east of
      // the window but overlapping it: centroid-keyed pruning would drop it
      mk(2L, "POLYGON ((-5 -5, 120 -5, 120 5, -5 5, -5 -5))"),
      // plainly inside the window
      mk(3L, "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"),
      // plainly outside
      mk(4L, "POLYGON ((100 40, 101 40, 101 41, 100 41, 100 40))"))
    val df = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("id", LongType), StructField("wkt", StringType))))
      .withColumn("geom", st.geomFromWKT(col("wkt"))).drop("wkt")
    val path = tmpDir("graft-z2poly") + "/polys"
    SpatialLayout.writeZ2(df, "geom", path, level = 12, dirLevel = 3)
    path
  }

  test("cell-spanning polygons are never lost to directory pruning; residual is exact") {
    // window (0,0)-(10,10): hits 2 and 3; 1 only by bbox; 4 not at all
    ids(SpatialLayout.readWindow(spark, polyPath, 0.0, 0.0, 10.0, 10.0, dirLevel = 3)) shouldBe
      Set(2L, 3L)
  }

  test("a small window lists only its directories: fewer tasks than the layout has directories") {
    val dirs = FsUtil.listPartitionDirs(spark, globalPath, "z2p").size
    dirs should be > 32
    val tasks = tasksOf { SpatialLayout.readWindow(spark, globalPath, 10.0, 10.0, 12.0, 12.0) }
    withClue(s"building one window ran $tasks tasks over $dirs directories") {
      tasks should be < dirs
    }
  }

  test("a whole-world window (> 32 directories, listed by Spark's job) returns the full scan") {
    val world = SpatialLayout.readWindow(spark, globalPath, -180.0, -90.0, 180.0, 90.0)
    val full = spark.read.parquet(globalPath)
      .filter(st.intersects(st.makeBBOX(-180.0, -90.0, 180.0, 90.0), col("geom")))
    ids(world) shouldBe ids(full)
    ids(world).size shouldBe 4000
  }

  test("a window over cells without directories, and no spill directory, is empty") {
    val path = pointLayout("graft-z2sparse", Seq((10.0, 10.0), (10.5, 10.5), (11.0, 9.5)), dirLevel = 4)
    FsUtil.exists(spark, s"$path/z2p=${SpatialLayout.SpillKey}") shouldBe false
    val df = SpatialLayout.readWindow(spark, path, -170.0, -80.0, -160.0, -70.0)
    df.count() shouldBe 0
    df.schema shouldBe spark.read.parquet(path).schema
  }

  test("a window that hits only the spill directory keeps the whole-root schema") {
    val df = SpatialLayout.readWindow(spark, polyPath, 60.0, -3.0, 70.0, 3.0, dirLevel = 3)
    df.schema shouldBe spark.read.parquet(polyPath).schema
    df.schema("z2p").dataType shouldBe spark.read.parquet(polyPath).schema("z2p").dataType
    ids(df) shouldBe Set(2L)
  }

  test("z2p keeps the whole-root type when the layout holds keys past Int range") {
    // dirLevel 16: the north-east point's cell key exceeds Int.MaxValue,
    // the south-west one's does not
    val path = pointLayout("graft-z2wide", Seq((-170.0, -80.0), (170.0, 80.0)), dirLevel = 16)
    spark.read.parquet(path).schema("z2p").dataType shouldBe LongType
    val df = SpatialLayout.readWindow(spark, path, -170.01, -80.01, -169.99, -79.99, dirLevel = 16)
    df.schema shouldBe spark.read.parquet(path).schema
    ids(df) shouldBe Set(0L)
  }

  test("row-group range filters reach the parquet scan") {
    val df = SpatialLayout.readWindow(spark, layoutPath, -140.0, 0.0, -100.0, 40.0, dirLevel = 3)
    df.collect()
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    formatted should include("PushedFilters")
    formatted should include("extent.xmin")
  }
}
