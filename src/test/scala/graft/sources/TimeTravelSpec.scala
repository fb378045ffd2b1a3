package graft.sources

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class TimeTravelSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private lazy val fixture: String = {
    val p = scratch("graft-ttspec") + "/t"
    import spark.implicits._
    val base = (0L until 100L).map(i => (i, s"text $i")).toDF("id", "payload")
    TimeTravel.init(base, p, "id", nBuckets = 8)
    // one commit touching ONLY keys 0 and 1 (plus an insert)
    val changes = Seq(
      ("D", 0L, "x", 1L),
      ("U", 1L, "updated 1", 1L),
      ("I", 1000L, "inserted", 1L)
    ).toDF("op", "id", "payload", "seq")
    TimeTravel.commit(spark, p, changes, "id", "op", "seq") shouldBe 1
    p
  }

  test("v0 is still intact after the commit (time travel, not overwrite)") {
    val v0 = TimeTravel.readVersion(spark, fixture, 0)
    v0.count() shouldBe 100
    v0.filter(col("id") === 0L).count() shouldBe 1
    v0.filter(col("id") === 1L).select("payload").head.getString(0) shouldBe "text 1"
  }

  test("v1 reflects the delete, the update, and the insert") {
    val v1 = TimeTravel.readVersion(spark, fixture, 1)
    v1.count() shouldBe 100 // -1 delete +1 insert
    v1.filter(col("id") === 0L).count() shouldBe 0
    v1.filter(col("id") === 1L).select("payload").head.getString(0) shouldBe "updated 1"
    v1.filter(col("id") === 1000L).count() shouldBe 1
  }

  test("copy-on-write: untouched buckets share their v0 files byte-for-byte") {
    val m0 = TimeTravel.readVersion(spark, fixture, 0) // force fixture
    m0.count() shouldBe 100
    val man1 = spark.read.parquet(s"$fixture/_log/v1")
      .select("bucket", "dir").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val stillV0 = man1.values.count(_.endsWith("/v0"))
    val moved = man1.values.count(_.endsWith("/v1"))
    moved should be >= 1 // the touched bucket(s) + insert bucket
    stillV0 shouldBe (8 - moved) // every other bucket carried forward
    stillV0 should be >= 5 // 3 changed keys touch at most 3 buckets
  }

  test("an empty changeset commits a pure manifest copy") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long, String, Long)].toDF("op", "id", "payload", "seq")
    val v = TimeTravel.commit(spark, fixture, empty, "id", "op", "seq")
    TimeTravel.readVersion(spark, fixture, v).count() shouldBe 100
    // no new data directory was written
    new java.io.File(s"$fixture/files/v$v").exists() shouldBe false
  }

  test("a changeset deleting every surviving row of its buckets keeps the snapshot readable") {
    import spark.implicits._
    val p = scratch("graft-ttempty") + "/t"
    // 2 keys → with 2 buckets they may share one; delete BOTH so every
    // touched bucket ends up with zero survivors
    TimeTravel.init(Seq((1L, "a"), (2L, "b")).toDF("id", "payload"),
      p, "id", nBuckets = 2)
    val v = TimeTravel.commit(spark,
      p, Seq(("D", 1L, "x", 1L), ("D", 2L, "x", 1L)).toDF("op", "id", "payload", "seq"),
      "id", "op", "seq")
    // the empty snapshot reads (schema intact), old version untouched
    val vN = TimeTravel.readVersion(spark, p, v)
    vN.count() shouldBe 0
    vN.columns.toSeq shouldBe Seq("id", "payload")
    TimeTravel.readVersion(spark, p, 0).count() shouldBe 2
    // and a later commit can re-insert through the empty base
    val v2 = TimeTravel.commit(spark,
      p, Seq(("I", 3L, "c", 1L)).toDF("op", "id", "payload", "seq"),
      "id", "op", "seq")
    TimeTravel.readVersion(spark, p, v2).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet shouldBe Set((3L, "c"))
  }

  test("vacuum deletes only unreferenced data; shared COW files survive expiry") {
    // an isolated fixture so the shared one stays intact for other tests
    val p = scratch("graft-ttvac") + "/t"
    import spark.implicits._
    val base = (0L until 100L).map(i => (i, s"text $i")).toDF("id", "payload")
    TimeTravel.init(base, p, "id", nBuckets = 8)
    val c1 = Seq(("U", 1L, "u1", 1L)).toDF("op", "id", "payload", "seq")
    TimeTravel.commit(spark, p, c1, "id", "op", "seq")
    val c2 = Seq(("U", 2L, "u2", 1L)).toDF("op", "id", "payload", "seq")
    TimeTravel.commit(spark, p, c2, "id", "op", "seq")
    val deleted = TimeTravel.vacuum(spark, p, keepLast = 1)
    // v2's manifest still references v0 dirs for untouched buckets → v0
    // data must SURVIVE; only orphaned rewrites (none here beyond what
    // v2 superseded) can go
    deleted should not contain "v0"
    val v2 = TimeTravel.readVersion(spark, p, 2)
    v2.count() shouldBe 100
    v2.filter(col("id") === 1L).select("payload").head.getString(0) shouldBe "u1"
    v2.filter(col("id") === 2L).select("payload").head.getString(0) shouldBe "u2"
    // expired manifests are gone
    new java.io.File(s"$p/_log/v0").exists() shouldBe false
    new java.io.File(s"$p/_log/v1").exists() shouldBe false
  }

  test("vacuum drops a fully-superseded version's directory") {
    val p = scratch("graft-ttvac2") + "/t"
    import spark.implicits._
    val base = (0L until 100L).map(i => (i, s"text $i")).toDF("id", "payload")
    TimeTravel.init(base, p, "id", nBuckets = 8)
    val c1 = Seq(("U", 1L, "a", 1L)).toDF("op", "id", "payload", "seq")
    TimeTravel.commit(spark, p, c1, "id", "op", "seq")
    // rewrite the SAME key again: v1's rewrite dir is now referenced by
    // nothing once only v2 is retained
    val c2 = Seq(("U", 1L, "b", 1L)).toDF("op", "id", "payload", "seq")
    TimeTravel.commit(spark, p, c2, "id", "op", "seq")
    val deleted = TimeTravel.vacuum(spark, p, keepLast = 1)
    deleted should contain("v1")
    TimeTravel.readVersion(spark, p, 2)
      .filter(col("id") === 1L).select("payload").head.getString(0) shouldBe "b"
  }

  test("bucket membership is pushed as partition pruning on the versioned read") {
    val df = TimeTravel.readVersion(spark, fixture, 1)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include("__bucket")
  }
}
