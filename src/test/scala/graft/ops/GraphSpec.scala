package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** PageRank: local replay on a hand graph, multigraph semantics,
  * sink behavior, and convergence toward the known stationary ranking.
  */
class GraphSpec extends AnyFunSuite with SparkTestSession with Matchers {

  import scala.jdk.CollectionConverters._

  private def edges(rows: (String, String)*) =
    spark.createDataFrame(
      rows.map { case (s, t) => org.apache.spark.sql.Row(s, t) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("t", org.apache.spark.sql.types.StringType))))

  /** Reference implementation: dense local iteration. */
  private def localPr(es: Seq[(String, String)], iters: Int, d: Double = 0.85): Map[String, Double] = {
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val n = nodes.size
    val deg = es.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var p = nodes.map(v => v -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val contrib = es.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => p(u) / deg(u) }.sum).toMap
      p = nodes.map(v => v -> ((1.0 - d) / n + d * contrib.getOrElse(v, 0.0))).toMap
    }
    p
  }

  test("matches the local dense replay on a hand graph with a sink") {
    // classic: a <-> b, both -> c, c is a sink (leaks, per the contract)
    val es = Seq("a" -> "b", "b" -> "a", "a" -> "c", "b" -> "c")
    val got = Graph.pageRank(edges(es: _*), "s", "t", iters = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = localPr(es, 4)
    got.keySet shouldBe want.keySet
    got.foreach { case (v, p) => p shouldBe (want(v) +- 1e-12) }
    // the sink receives from two sources → highest rank
    got("c") should be > got("a")
  }

  test("parallel edges contribute once each (multigraph semantics)") {
    val single = Graph.pageRank(edges("a" -> "b", "a" -> "c"), "s", "t", 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val doubled = Graph.pageRank(
      edges("a" -> "b", "a" -> "b", "a" -> "c"), "s", "t", 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    doubled("b") should be > single("b") // b now gets 2/3 of a's mass
    doubled("c") should be < single("c")
  }

  test("deep iteration with checkpointing approaches the stationary ranking") {
    // star: everything points at hub; hub points at one spoke
    val es = Seq("s1" -> "hub", "s2" -> "hub", "s3" -> "hub", "hub" -> "s1")
    val got = Graph.pageRank(edges(es: _*), "s", "t", iters = 25, checkpointEvery = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = localPr(es, 25)
    got.foreach { case (v, p) => p shouldBe (want(v) +- 1e-9) }
    got("hub") should be > got("s1")
    got("s1") should be > got("s2") // s1 gets the hub's mass back
  }

  /** Reference LPA: dense local sync rounds, (count desc, label asc). */
  private def localLpa(es: Seq[(String, String)], iters: Int): Map[String, String] = {
    val und = es ++ es.map(_.swap)
    val nodes = und.map(_._1).distinct.sorted
    var lab = nodes.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      lab = nodes.map { v =>
        val votes = und.filter(_._1 == v).map(e => lab(e._2))
          .groupBy(identity).view.mapValues(_.size).toSeq
        if (votes.isEmpty) v -> lab(v)
        else v -> votes.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    lab
  }

  test("labelPropagation: two dense clusters with a bridge converge to per-cluster labels") {
    // triangle {a,b,c} — bridge c-d — triangle {d,e,f}: after a few
    // sync rounds each triangle carries its own min label, and the
    // result matches the dense replay exactly (determinism contract)
    val es = Seq("a" -> "b", "b" -> "c", "c" -> "a",
      "d" -> "e", "e" -> "f", "f" -> "d", "c" -> "d")
    val got = Graph.labelPropagation(edges(es: _*), "s", "t", iters = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    got shouldBe localLpa(es, 4)
    // the two triangles never share a label: the bridge is not a merge
    Set(got("a"), got("b")) should not contain got("e")
    got("e") shouldBe got("f")
  }

  test("labelPropagation: count ties break to the smallest label, parallel edges vote with multiplicity") {
    // v's neighbors split 1-1 between x and y → tie → min label x
    val tie = Graph.labelPropagation(
      edges("v" -> "x", "v" -> "y"), "s", "t", iters = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    tie("v") shouldBe "x"
    // doubling the y edge outvotes x despite the label order
    val weighted = Graph.labelPropagation(
      edges("v" -> "x", "v" -> "y", "v" -> "y"), "s", "t", iters = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    weighted("v") shouldBe "y"
  }

  test("labelPropagation: deep iteration with checkpointing stays deterministic across partitionings") {
    val es = Seq("a" -> "b", "b" -> "c", "c" -> "a", "d" -> "e",
      "e" -> "f", "f" -> "d", "c" -> "d", "f" -> "g", "g" -> "h")
    val one = Graph.labelPropagation(
        edges(es: _*).repartition(1), "s", "t", iters = 12, checkpointEvery = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq.sorted
    val many = Graph.labelPropagation(
        edges(es: _*).repartition(7), "s", "t", iters = 12, checkpointEvery = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq.sorted
    one shouldBe many
    one shouldBe localLpa(es, 12).toSeq.sorted
  }

  test("edge barriers skip a checkpoint-backed edge list; a plain-RDD edge list still gets one") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("t", org.apache.spark.sql.types.StringType)))
    val plain = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until 200).map(i => org.apache.spark.sql.Row(s"n${i % 50}", s"n${(i * 7 + 1) % 50}")), 2),
      schema)
    val pinned = plain.localCheckpoint()
    // persistent RDDs a call leaves registered while its result is live
    def added(run: => org.apache.spark.sql.DataFrame): Int = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val r = run
      r.collect()
      val n = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
      r.collect() // keeps r, and any barrier it reads, reachable until counted
      n
    }
    added(Graph.pageRank(pinned, "s", "t", iters = 3)) shouldBe 0
    added(Graph.labelPropagation(pinned, "s", "t", iters = 3)) shouldBe 0
    added(Graph.pageRank(plain, "s", "t", iters = 3)) shouldBe 1
    added(Graph.labelPropagation(plain, "s", "t", iters = 3)) shouldBe 1
    // same answers either way
    def ranks(e: org.apache.spark.sql.DataFrame) = Graph.pageRank(e, "s", "t", iters = 3)
      .select(col("node"), round(col("rank"), 10)).orderBy("node").collect().toSeq
    ranks(pinned) shouldBe ranks(plain)
  }
}
