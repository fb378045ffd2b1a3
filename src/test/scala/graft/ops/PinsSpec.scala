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
        seen.add(Pins.reusable(b)); ()
      }
      .option("checkpointLocation",
        scratch("graft-pins-fb"))
      .start()
    try {
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
    } finally q.stop()
    seen.toArray.toSeq shouldBe Seq(false)
  }

  test("a read after close fails with graft's error naming the barrier") {
    val pins = new Pins
    val x = pins(spark.range(20).toDF("a"))
    val derived = x.filter(col("a") % 2 === 0)
    derived.count() shouldBe 10L
    pins.close()
    val e = intercept[Exception](derived.collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    withClue(chain.map(_.toString).mkString("\n")) {
      chain.exists(t => t.isInstanceOf[IllegalStateException] &&
        t.getMessage.contains("graft barrier PinsSpec.scala:") &&
        t.getMessage.contains("[a] was released by Pins.close()")) shouldBe true
    }
  }

  test("the barrier is a leaf that shows what it computed") {
    val x = Pins.once(spark.range(30).toDF("a").filter(col("a") > 3)
      .select((col("a") * 2).as("b")))
    val logical = x.queryExecution.optimizedPlan
    logical shouldBe a[Materialized]
    logical.children shouldBe empty
    logical.toString should include("Materialized [b#")
    logical.toString should include("Range (0, 30")
    val physical = x.queryExecution.executedPlan.toString
    physical should include("Materialized [b#")
    physical should include("Range (0, 30")
    // no RDD id or per-build counter in either string
    logical.treeString.linesIterator.next() should fullyMatch regex
      "Materialized \\[b#\\d+L\\], PinsSpec\\.scala:\\d+"
    x.count() shouldBe 26L
  }

  test("two reads of one barrier share an exchange; two barriers never do") {
    def counts(d: DataFrame) = d.groupBy("b").agg(count(lit(1)).as("n"))
    def joined(l: DataFrame, r: DataFrame): String = {
      val rc = counts(r).select(col("b").as("b2"), col("n").as("n2"))
      val j = counts(l).hint("merge").join(rc, col("b") === col("b2"))
      j.collect().length shouldBe 7 // AQE reuses exchanges as it runs
      j.queryExecution.executedPlan.toString
    }
    val one = Pins.once(rddFrame(40))
    joined(one, one) should include("ReusedExchange")
    joined(Pins.once(rddFrame(40)), Pins.once(rddFrame(40))) should not include "ReusedExchange"
  }

  test("no localCheckpoint or unpersistCheckpoint outside the barrier's own file") {
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = sources(new java.io.File("src/main/scala"))
    files.map(_.getName) should contain("Pins.scala")
    val offending = for {
      f <- files if f.getName != "Pins.scala"
      (line, i) <- scala.util.Using.resource(scala.io.Source.fromFile(f)(scala.io.Codec.UTF8))(
        _.getLines().toList)
        .zipWithIndex
      if line.contains("localCheckpoint(") || line.contains("unpersistCheckpoint")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    offending shouldBe empty
  }
}
