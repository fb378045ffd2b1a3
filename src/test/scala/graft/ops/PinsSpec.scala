package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The checkpoint owner: what it records, what `close` releases, and
  * the skip rule for frames that already read a persisted RDD.
  */
class PinsSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private def persistentIds = spark.sparkContext.getPersistentRDDs.keySet

  private def rddFrame(n: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize((0L until n.toLong).map(i => Row(i, i % 7)), 2),
      StructType(Seq(StructField("a", LongType), StructField("b", LongType))))

  test("close unpersists every recorded checkpoint and is idempotent") {
    val before = persistentIds
    val pins = new Pins
    val x = pins(spark.range(100).toDF("a"))
    val y = pins(spark.range(50).toDF("a").filter(col("a") > 3), eager = false)
    (persistentIds -- before).size shouldBe 2
    x.count() shouldBe 100L
    y.count() shouldBe 46L
    pins.close()
    (persistentIds -- before) shouldBe empty
    pins.close()
    an[IllegalStateException] should be thrownBy pins(spark.range(3).toDF("a"))
  }

  test("skip rule: a checkpoint, bare or under an aliasing projection, passes through unrecorded") {
    val owner = new Pins
    val c = owner(rddFrame(40))
    val before = persistentIds
    val pins = new Pins
    (pins(c) eq c) shouldBe true
    val renamed = c.select(col("a").as("x"), col("b"))
    (pins(renamed) eq renamed) shouldBe true
    (persistentIds -- before) shouldBe empty
    // closing the borrower never releases the owner's blocks
    pins.close()
    renamed.count() shouldBe 40L
    owner.close()
  }

  test("no skip for plain-RDD frames or computed projections of a checkpoint") {
    val owner = new Pins
    val c = owner(rddFrame(40))
    val pins = new Pins
    val before = persistentIds
    pins(rddFrame(40)) // createDataFrame(rdd): a LogicalRDD with no storage level
    pins(c.select((col("a") + 1).as("a")))
    pins(c.filter(col("b") === 0L))
    (persistentIds -- before).size shouldBe 3
    pins.close()
    owner.close()
  }

  test("no skip for foreachBatch frames: they are LogicalRDDs over the micro-batch's plain RDD") {
    val spark0 = spark
    import spark0.implicits._
    val input = MemoryStream[Long](spark)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val q = input.toDF().writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen.add(org.apache.spark.sql.GraftBridge.checkpointBacked(b)); ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-pins-fb").toString)
      .start()
    try {
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
    } finally q.stop()
    seen.toArray.toSeq shouldBe Seq(false)
  }
}
