package graft.sources

import graft.SparkTestSession
import graft.ops.Ann
import graft.sources.Tables
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The persisted IVF layout: identical results to the in-memory build
  * (same seeds → same centroids → same assignment), brute-force
  * equality when probing every cell, and the scan actually pruned to
  * the probed `list=` directories at query time.
  */
class AnnLayoutSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private lazy val path = {
    val p = scratch("graft-annlayout-spec") + "/ivf"
    AnnLayout.build(Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      p, nlist = 8, iters = 2, seed = 7)
    p
  }
  private def queries = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 5)

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(col("qid"), col("id"), col("rank"), round(col("cos"), 9).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet

  test("layout topK equals the in-memory ivfTopK at every nprobe (same seeds, same centroids)") {
    for (nprobe <- Seq(1, 4, 8)) {
      val fromLayout = AnnLayout.topK(spark, path, queries, "vec_id", "embedding",
        k = 10, nprobe = nprobe)
      val inMemory = Ann.ivfTopK(Tables.embeddings(spark, sfDir), "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10, nlist = 8, nprobe = nprobe)
      withClue(s"nprobe=$nprobe") { canon(fromLayout) shouldBe canon(inMemory) }
    }
  }

  test("probing every cell recovers brute force exactly (the persisted assignment loses nothing)") {
    val full = AnnLayout.topK(spark, path, queries, "vec_id", "embedding", k = 10, nprobe = 8)
    val brute = Ann.bruteForce(Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    canon(full) shouldBe canon(brute)
  }

  test("the query scan is partition-pruned to the probed cells (runtime dynamicpruning filter)") {
    val df = AnnLayout.topK(spark, path, queries, "vec_id", "embedding", k = 10, nprobe = 2)
    df.collect() // AQE finalizes the plan only on execution
    val plan = df.queryExecution.executedPlan.toString
    withClue(s"layout plan:\n$plan") {
      plan.toLowerCase should include("dynamicpruning")
      plan should include("BroadcastHashJoin")
    }
  }

  test("streaming append: new vectors land in their cells and serve immediately, exactly like a batch rebuild") {
    // a private copy of the layout so the append doesn't perturb the shared fixture
    val p2 = scratch("graft-annlayout-app") + "/ivf"
    val base = Tables.embeddings(spark, sfDir)
    AnnLayout.build(base, "vec_id", "embedding", p2, nlist = 8, iters = 2, seed = 7)
    val spark0 = spark
    import spark0.implicits._
    val input = MemoryStream[(Long, Seq[Double])](spark)
    val stream = input.toDF().toDF("vec_id", "embedding")
    val ck = scratch("graft-annlayout-ck")
    val q = AnnLayout.appendStream(spark, p2, stream, "vec_id", "embedding", ck)
    try {
      // two arriving micro-batches of new vectors (ids far above the corpus)
      val dim = base.select(org.apache.spark.sql.functions.size(col("embedding"))).head.getInt(0)
      def mkVec(seed: Int): Seq[Double] =
        (0 until dim).map(j => math.sin(seed * 31.0 + j).abs + 0.01)
      input.addData((900001L, mkVec(1)), (900002L, mkVec(2)))
      q.processAllAvailable()
      input.addData((900003L, mkVec(3)))
      q.processAllAvailable()
      // the appended rows are served by the next scan
      val grown = spark.read.parquet(p2 + "/vectors")
      grown.filter(col("id") >= 900001L).count() shouldBe 3L
      // full-probe over the grown layout == brute force over the grown corpus
      // (holds for ANY consistent assignment — pins that appended rows
      //  joined the right cells and are ranked with everyone else)
      val newRows = Seq((900001L, mkVec(1)), (900002L, mkVec(2)), (900003L, mkVec(3)))
        .toDF("vec_id", "embedding")
      val union = base.select(col("vec_id"), col("embedding").cast("array<double>"))
        .unionByName(newRows)
      val full = AnnLayout.topK(spark, p2, queries, "vec_id", "embedding", k = 10, nprobe = 8)
      val brute = Ann.bruteForce(union, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10)
      canon(full) shouldBe canon(brute)
    } finally q.stop()
  }

  test("PQ layout: persisted codes reproduce the in-memory ivfPqTopK exactly; codes-only ADC scan") {
    val p2 = scratch("graft-pqlayout-spec") + "/ivfpq"
    val base = Tables.embeddings(spark, sfDir)
    AnnLayout.buildPq(base, "vec_id", "embedding", p2,
      nlist = 8, m = 8, ksub = 16, iters = 2, seed = 7)
    for (nprobe <- Seq(2, 8)) {
      val fromLayout = AnnLayout.pqTopK(spark, p2, queries, "vec_id", "embedding",
        k = 10, nprobe = nprobe, refine = 5)
      val inMemory = Ann.ivfPqTopK(base, "vec_id", "embedding",
        queries, "vec_id", "embedding",
        k = 10, nlist = 8, nprobe = nprobe, m = 8, ksub = 16, iters = 2, refine = 5)
      withClue(s"nprobe=$nprobe") { canon(fromLayout) shouldBe canon(inMemory) }
    }
    // the ADC scoring scan projects codes, never the vector column: its
    // parquet ReadSchema must not contain `vec` (the refine join's scan
    // does — assert on the scoring branch by schema text)
    val df = AnnLayout.pqTopK(spark, p2, queries, "vec_id", "embedding",
      k = 10, nprobe = 2, refine = 5)
    df.collect()
    val scans = df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    withClue(scans.mkString("\n")) {
      scans.exists(s => s.contains("codes") && !s.contains("vec:")) shouldBe true
    }
  }

  test("compactCells: stream-append litter compacts away, cells and results unchanged") {
    val base = Tables.embeddings(spark, sfDir)
    val p2 = scratch("graft-annlayout-cpt") + "/ivf"
    AnnLayout.build(base, "vec_id", "embedding", p2, nlist = 8, iters = 2, seed = 7)
    // litter the cells with three tiny appended batches (the streaming
    // aftermath compaction exists for)
    val spark0 = spark
    import spark0.implicits._
    val dim = base.select(org.apache.spark.sql.functions.size(col("embedding"))).head.getInt(0)
    def mkVec(seed: Int): Seq[Double] = (0 until dim).map(j => math.sin(seed * 17.0 + j).abs + 0.01)
    for (b <- 0 until 3) {
      Seq((910000L + b, mkVec(b))).toDF("id", "vec")
        .withColumn("list", graft.functions.FunctionDefs.call("ivf_assign", col("vec"),
          typedlit(spark.read.parquet(p2 + "/centroids").orderBy("list")
            .collect().map(_.getSeq[Double](1)).toSeq)))
        .write.mode("append").partitionBy("list").parquet(p2 + "/vectors")
    }
    def partFiles(root: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.startsWith("part-") && !f.getName.endsWith(".crc")) 1 else 0
      walk(new java.io.File(root))
    }
    val before = partFiles(p2 + "/vectors")
    val dest = scratch("graft-annlayout-cptd") + "/ivf"
    AnnLayout.compactCells(spark, p2, dest, targetRows = 200L)
    val after = partFiles(dest + "/vectors")
    after should be < before
    // the cell directory structure survives (DPP pruning unaffected)
    new java.io.File(dest + "/vectors").listFiles()
      .filter(_.isDirectory).count(_.getName.startsWith("list=")) shouldBe 8
    // and the index answers identically
    canon(AnnLayout.topK(spark, dest, queries, "vec_id", "embedding", k = 10, nprobe = 4)) shouldBe
      canon(AnnLayout.topK(spark, p2, queries, "vec_id", "embedding", k = 10, nprobe = 4))
  }

  test("delete: tombstoned ids vanish from topK; full-probe == brute force over the SURVIVING corpus; compaction applies them physically") {
    val base = Tables.embeddings(spark, sfDir)
    val p2 = scratch("graft-annlayout-del") + "/ivf"
    AnnLayout.build(base, "vec_id", "embedding", p2, nlist = 8, iters = 2, seed = 7)
    // delete every 7th vector — across cells, including some true top-k members
    val doomed = base.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
    AnnLayout.delete(spark, p2, doomed, "vec_id")
    val survivors = base.filter(col("vec_id") % 7 =!= 0)
    val full = AnnLayout.topK(spark, p2, queries, "vec_id", "embedding", k = 10, nprobe = 8)
    val brute = Ann.bruteForce(survivors, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    canon(full) shouldBe canon(brute)
    full.filter(col("id") % 7 === 0).count() shouldBe 0L
    // a second delete batch appends to the tombstone set
    AnnLayout.delete(spark, p2, base.filter(col("vec_id") === 1L).select("vec_id"), "vec_id")
    val survivors2 = survivors.filter(col("vec_id") =!= 1L)
    canon(AnnLayout.topK(spark, p2, queries, "vec_id", "embedding", k = 10, nprobe = 8)) shouldBe
      canon(Ann.bruteForce(survivors2, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10))
    // merge-on-write: compaction drops the rows, dest has no tombstones,
    // results unchanged
    val dest = scratch("graft-annlayout-deld") + "/ivf"
    AnnLayout.compactCells(spark, p2, dest, targetRows = 200L)
    new java.io.File(dest + "/tombstones").exists() shouldBe false
    spark.read.parquet(dest + "/vectors").count() shouldBe survivors2.count()
    canon(AnnLayout.topK(spark, dest, queries, "vec_id", "embedding", k = 10, nprobe = 8)) shouldBe
      canon(Ann.bruteForce(survivors2, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10))
  }

  test("delete: the PQ serving path honors tombstones too") {
    val base = Tables.embeddings(spark, sfDir)
    val p2 = scratch("graft-pqlayout-del") + "/ivfpq"
    AnnLayout.buildPq(base, "vec_id", "embedding", p2,
      nlist = 8, m = 8, ksub = 16, iters = 2, seed = 7)
    AnnLayout.delete(spark, p2,
      base.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id")
    val got = AnnLayout.pqTopK(spark, p2, queries, "vec_id", "embedding",
      k = 10, nprobe = 8, refine = 5)
    got.filter(col("id") % 7 === 0).count() shouldBe 0L
    got.groupBy("qid").count().collect().foreach(_.getLong(1) shouldBe 10L)
  }

  test("the layout directory really is hive-partitioned by cell id") {
    val dirs = new java.io.File(path + "/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("list=")).sorted
    dirs.length shouldBe 8
    // centroid table row per cell, ids 0..7
    spark.read.parquet(path + "/centroids").select("list")
      .collect().map(_.getInt(0)).sorted shouldBe (0 until 8).toArray
  }
}
