package graft.ops

import graft.SparkTestSession
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class AnnSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private lazy val corpus = Tables.embeddings(SparkTestSession.session, sfDir).cache()

  private lazy val localVecs: Map[Long, Array[Double]] =
    corpus.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  private def localTopK(qid: Long, k: Int): Seq[Long] =
    localVecs.toSeq.filter(_._1 != qid)
      .map { case (id, v) => (id, cos(localVecs(qid), v)) }
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)

  test("bruteForce matches an independent local top-k for every query") {
    val got = Ann.bruteForce(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .collect().groupBy(_.getLong(0))
    (0L until 5L).foreach { q =>
      val ids = got(q).sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
      ids shouldBe localTopK(q, 10)
    }
  }

  test("bruteForce cosines are exact") {
    Ann.bruteForce(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") === 0), "vec_id", "embedding", k = 5)
      .collect().foreach { r =>
        r.getDouble(3) shouldBe cos(localVecs(0L), localVecs(r.getLong(1))) +- 1e-12
      }
  }

  test("lshBuckets is deterministic and spreads the corpus") {
    val b1 = Ann.lshBuckets(corpus, "vec_id", "embedding", nBits = 8)
      .select("id", "bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b2 = Ann.lshBuckets(corpus, "vec_id", "embedding", nBits = 8)
      .select("id", "bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    b1 shouldBe b2
    b1.values.toSet.size should be > 16 // 256 possible buckets, 500 vecs
  }

  test("lshTopK returns true cosines and achieves useful recall vs brute force") {
    val brute = Ann.bruteForce(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = Ann.lshTopK(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nBits = 8)
      .collect()
    // correctness: reported cosines are the exact cosines
    approx.foreach { r =>
      r.getDouble(3) shouldBe cos(localVecs(r.getLong(0)), localVecs(r.getLong(1))) +- 1e-12
    }
    val byQ = approx.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = (0L until 5L).map { q =>
      val got = byQ.getOrElse(q, Set.empty)
      brute(q).intersect(got).size.toDouble / brute(q).size
    }
    withClue(s"recalls=$recalls") { recalls.sum / recalls.size should be >= 0.2 }
  }

  test("ivfTopK returns true cosines, is deterministic, and achieves useful recall") {
    def run() = Ann.ivfTopK(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 4)
      .collect()
    val approx = run()
    approx.foreach { r =>
      r.getDouble(3) shouldBe cos(localVecs(r.getLong(0)), localVecs(r.getLong(1))) +- 1e-12
    }
    run().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq shouldBe
      approx.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val brute = Ann.bruteForce(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val byQ = approx.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = (0L until 5L).map { q =>
      brute(q).intersect(byQ.getOrElse(q, Set.empty)).size.toDouble / brute(q).size
    }
    withClue(s"recalls=$recalls") { recalls.sum / recalls.size should be >= 0.4 }
  }

  test("pqTopK returns true cosines, is deterministic, and achieves useful recall") {
    def run() = Ann.pqTopK(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, m = 8, ksub = 32, refine = 10)
      .collect()
    val approx = run()
    // exact re-rank: reported cosines are the true cosines on raw vectors
    approx.foreach { r =>
      r.getDouble(3) shouldBe cos(localVecs(r.getLong(0)), localVecs(r.getLong(1))) +- 1e-12
    }
    // deterministic: seeded codebook init
    run().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq shouldBe
      approx.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val brute = Ann.bruteForce(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val byQ = approx.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = (0L until 5L).map { q =>
      brute(q).intersect(byQ.getOrElse(q, Set.empty)).size.toDouble / brute(q).size
    }
    withClue(s"recalls=$recalls") { recalls.sum / recalls.size should be >= 0.4 }
  }

  test("ivfPqTopK: true cosines, deterministic, useful recall; zero-error regime equals brute") {
    def run() = Ann.ivfPqTopK(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 4, m = 8, ksub = 32, refine = 10)
      .collect()
    val approx = run()
    // exact re-rank: reported cosines are true cosines on raw vectors
    approx.foreach { r =>
      r.getDouble(3) shouldBe cos(localVecs(r.getLong(0)), localVecs(r.getLong(1))) +- 1e-12
    }
    // deterministic: seeded coarse + per-subspace codebook init
    run().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq shouldBe
      approx.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val brute = Ann.bruteForce(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val byQ = approx.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = (0L until 5L).map { q =>
      brute(q).intersect(byQ.getOrElse(q, Set.empty)).size.toDouble / brute(q).size
    }
    withClue(s"recalls=$recalls") { recalls.sum / recalls.size should be >= 0.4 }

    // provably-complete regime: ksub >= corpus => every residual is its
    // own codeword; nprobe = nlist => the ADC ranking is exact and the
    // output must EQUAL brute force on the subset
    val sub = corpus.filter(col("vec_id") < 40)
    val full = Ann.ivfPqTopK(sub, "vec_id", "embedding",
        sub.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, nlist = 4, nprobe = 4, m = 8, ksub = 40, iters = 1, refine = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val bruteSub = Ann.bruteForce(sub, "vec_id", "embedding",
        sub.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    full shouldBe bruteSub
  }

  test("computed knob defaults: formulas track corpus size; auto-knob runs return full result sets") {
    // the FAISS-guideline curves (SCALE_r08.md:118): nlist = 4√n clamped,
    // nprobe = nlist/16 floored, nBits sizes buckets to ~64
    Ann.defaultNlist(2000) shouldBe 179
    Ann.defaultNlist(200000) shouldBe 1789
    Ann.defaultNlist(10) shouldBe 16 // floor
    Ann.defaultNlist(1000000000L) shouldBe 65536 // cap
    Ann.defaultNprobe(128) shouldBe 8
    Ann.defaultNprobe(16) shouldBe 4 // floor
    // the one-shot (train+assign+search per call) regime caps nlist at
    // 128: assignment is n·nlist·dim per CALL there, unlike the
    // build-once layouts that amortize it (69 s vs 4.9 s at 200k,
    // bench/r09 knob sweep)
    Ann.defaultNlistOneShot(2000) shouldBe 128
    Ann.defaultNlistOneShot(200) shouldBe 57
    Ann.defaultNlistOneShot(10) shouldBe 16
    Ann.defaultNBits(200000) shouldBe 12 // log2(200000/64) ≈ 11.6 → 12
    Ann.defaultNBits(100) shouldBe 4 // floor
    // auto-knob calls (nlist/nprobe/nBits omitted) still produce k rows
    // per query with exact cosines — the knobs only shape candidates
    val q = corpus.filter(col("vec_id") < 3)
    val ivf = Ann.ivfTopK(corpus, "vec_id", "embedding", q, "vec_id", "embedding", k = 5)
      .collect()
    ivf.groupBy(_.getLong(0)).foreach { case (_, rows) => rows.length shouldBe 5 }
    ivf.foreach { r =>
      r.getDouble(3) shouldBe cos(localVecs(r.getLong(0)), localVecs(r.getLong(1))) +- 1e-12
    }
    val lsh = Ann.lshTopK(corpus, "vec_id", "embedding", q, "vec_id", "embedding", k = 5)
      .collect()
    lsh.foreach { r =>
      r.getDouble(3) shouldBe cos(localVecs(r.getLong(0)), localVecs(r.getLong(1))) +- 1e-12
    }
  }

  test("hardNegatives: only different-label neighbors, ranked like a label-filtered brute force") {
    val labels: Map[Long, Int] = corpus.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Ann.hardNegatives(corpus, "vec_id", "embedding", "label",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding", "label", k = 10)
      .collect()
    got.foreach { r =>
      val (qid, id) = (r.getLong(0), r.getLong(1))
      r.getAs[Int]("neg_label") shouldBe labels(id)
      labels(id) should not be labels(qid)
      r.getDouble(3) shouldBe cos(localVecs(qid), localVecs(id)) +- 1e-12
    }
    val byQ = got.groupBy(_.getLong(0))
    (0L until 5L).foreach { q =>
      val ids = byQ(q).sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
      val local = localVecs.toSeq
        .filter { case (id, _) => id != q && labels(id) != labels(q) }
        .map { case (id, v) => (id, cos(localVecs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
      ids shouldBe local
    }
  }

  test("prototypeCos: centroids and cosines match a local replay; outliers score lowest") {
    val labels: Map[Long, Int] = corpus.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Ann.prototypeCos(corpus, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    got.size shouldBe localVecs.size
    // local centroids per label
    val byLabel = localVecs.toSeq.groupBy { case (id, _) => labels(id) }
    val cents = byLabel.map { case (l, vs) =>
      val dim = vs.head._2.length
      val c = new Array[Double](dim)
      vs.foreach { case (_, v) => var i = 0; while (i < dim) { c(i) += v(i); i += 1 } }
      l -> c.map(_ / vs.size)
    }
    localVecs.foreach { case (id, v) =>
      got(id) shouldBe cos(v, cents(labels(id))) +- 1e-9
    }
  }

  test("knnClassify: majority vote with (votes desc, label asc) tie-break matches a local replay") {
    val labels: Map[Long, Int] = corpus.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Ann.knnClassify(corpus, "vec_id", "embedding", "label",
        corpus.filter(col("vec_id") < 20), "vec_id", "embedding", "label", k = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Int]("pred_label"), r.getAs[Long]("n_votes"), r.getAs[Int]("correct")))).toMap
    got.keySet shouldBe (0L until 20L).toSet
    (0L until 20L).foreach { q =>
      val votes = localTopK(q, 10).groupBy(labels).view.mapValues(_.size).toMap
      val (predLabel, nVotes) = votes.toSeq.minBy { case (l, v) => (-v, l) }
      got(q) shouldBe ((predLabel, nVotes.toLong, if (predLabel == labels(q)) 1 else 0))
    }
  }

  test("mmrTopK: λ=1 with a corpus-covering pool reduces to brute-force ranking") {
    val got = Ann.mmrTopK(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, lambda = 1.0, pool = 1000)
      .collect().groupBy(_.getLong(0))
    (0L until 5L).foreach { q =>
      got(q).sortBy(_.getInt(2)).map(_.getLong(1)).toSeq shouldBe localTopK(q, 10)
    }
  }

  test("mmrTopK matches a local greedy replay and diversifies the picks") {
    val (k, lambda, pool) = (5, 0.5, 20)
    val got = Ann.mmrTopK(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding",
        k, lambda, pool)
      .collect().groupBy(_.getLong(0))
    val differs = (0L until 5L).map { q =>
      // local pool + greedy
      val p = scala.collection.mutable.ArrayBuffer(
        localVecs.toSeq.filter(_._1 != q)
          .map { case (id, v) => (id, cos(localVecs(q), v)) }
          .sortBy { case (id, c) => (-c, id) }.take(pool): _*)
      val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (sel.size < k) {
        val pick =
          if (sel.isEmpty) p.minBy { case (id, rel) => (-rel, id) }
          else p.map { case (id, rel) =>
            val ms = sel.map(s => cos(localVecs(id), localVecs(s))).max
            (id, lambda * rel - (1.0 - lambda) * ms)
          }.minBy { case (id, m) => (-m, id) }
        sel += pick._1
        p.remove(p.indexWhere(_._1 == pick._1))
      }
      got(q).sortBy(_.getInt(2)).map(_.getLong(1)).toSeq shouldBe sel.toSeq
      got(q).map(_.getLong(1)).toSet != localTopK(q, k).toSet
    }
    // diversity: at λ=0.5 the redundancy penalty must change at least one
    // query's pick set vs pure relevance
    differs.count(identity) should be >= 1
  }

  test("maxSimToSet: matches a local max-cosine replay with lower-ref-id tie-break") {
    val ref = corpus.filter(col("vec_id") % 97 === 0)
    val train = corpus.filter(col("vec_id") % 97 =!= 0).filter(col("vec_id") < 100)
    val refVecs = localVecs.filter { case (id, _) => id % 97 == 0 }
    val got = Ann.maxSimToSet(train, "vec_id", "embedding", ref, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    got.size shouldBe train.count()
    got.foreach { case (id, (rid, c)) =>
      val best = refVecs.toSeq
        .map { case (r, v) => (r, cos(localVecs(id), v)) }
        .sortBy { case (r, s) => (-s, r) }.head
      rid shouldBe best._1
      c shouldBe best._2 +- 1e-12
    }
  }

  test("rrfFuse: matches a local 1/(c+rank) replay, excludes self, tie-breaks by id") {
    import spark.implicits._
    // two hand-built rankings with partial overlap and a self hit
    val sys1 = Seq((0L, 0L, 1), (0L, 10L, 2), (0L, 11L, 3), (0L, 12L, 4)).toDF("qid", "id", "rank")
    val sys2 = Seq((0L, 11L, 1), (0L, 13L, 2), (0L, 10L, 3)).toDF("qid", "id", "rank")
    val got = Ann.rrfFuse(Seq(sys1, sys2), k = 10, c = 60, excludeSelf = true)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
    val expect = Map( // local replay of the fusion arithmetic
      10L -> (1.0 / 62 + 1.0 / 63), 11L -> (1.0 / 63 + 1.0 / 61),
      12L -> 1.0 / 64, 13L -> 1.0 / 62)
      .toSeq.sortBy { case (id, s) => (-s, id) }
    got.map(_._1).toSeq shouldBe expect.map(_._1) // self (id 0) gone
    got.zip(expect).foreach { case ((_, rank, rrf), (_, s)) =>
      rrf shouldBe s +- 1e-12
    }
    got.map(_._2).toSeq shouldBe (1 to expect.size)
    // ties: ids 20 < 21 fused from identical single ranks order by id
    val t1 = Seq((1L, 21L, 5)).toDF("qid", "id", "rank")
    val t2 = Seq((1L, 20L, 5)).toDF("qid", "id", "rank")
    Ann.rrfFuse(Seq(t1, t2), k = 2).orderBy("rank")
      .collect().map(_.getLong(1)).toSeq shouldBe Seq(20L, 21L)
  }

  test("top-k aggregate: partial map-side reduction, identical across partitionings") {
    val narrow = Ann.bruteForce(corpus.repartition(1), "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq.sorted
    // many partitions → heap serialize + merge paths exercised
    val wide = Ann.bruteForce(corpus.repartition(13), "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
    val wideRows = wide.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq.sorted
    wideRows shouldBe narrow
    // the aggregation is partial: a partial ObjectHashAggregate runs before the shuffle
    val plan = wide.queryExecution.executedPlan.toString
    withClue(plan) {
      plan.linesIterator.count(_.contains("ObjectHashAggregate")) should be >= 2
      plan should include("partial_topk_by_score")
    }
  }

  test("zero vectors (NaN cosine) never rank and never block real results") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // zero vector FIRST so it is the first update into the heap
    val rows = Seq(
      Row(100L, Seq(0.0f, 0.0f, 0.0f)),
      Row(1L, Seq(1.0f, 0.0f, 0.0f)),
      Row(2L, Seq(0.9f, 0.1f, 0.0f)),
      Row(3L, Seq(0.0f, 1.0f, 0.0f)),
      Row(4L, Seq(0.5f, 0.5f, 0.0f)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))).repartition(1)
    val got = Ann.bruteForce(df, "vec_id", "embedding",
        df.filter(col("vec_id") === 1), "vec_id", "embedding", k = 3)
      .orderBy("rank").collect()
    got.map(_.getLong(1)).toSeq shouldBe Seq(2L, 4L, 3L) // by true cosine
    got.foreach(r => r.getDouble(3).isNaN shouldBe false)
  }

  test("ivfTopK probing more lists converges to brute force") {
    val brute = Ann.bruteForce(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = Ann.ivfTopK(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    all shouldBe brute // nprobe == nlist probes everything → exact
  }

  test("lshTopK at nBits=1 (multiprobe covers both buckets) equals brute force exactly") {
    val brute = Ann.bruteForce(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).sorted.toSeq
    val exhaustive = Ann.lshTopK(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nBits = 1, tables = 1)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).sorted.toSeq
    exhaustive shouldBe brute
  }

  test("pcaTopK with a corpus-covering refine pool equals brute force exactly") {
    // when the shortlist admits every candidate, the exact re-rank must
    // reproduce the brute ranking bit-for-bit, whatever the projection did
    val n = corpus.count().toInt
    val exhaustive = Ann.pcaTopK(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 10, kDim = 8, refine = n)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).sorted.toSeq
    val brute = Ann.bruteForce(corpus, "vec_id", "embedding",
        corpus.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).sorted.toSeq
    exhaustive shouldBe brute
  }

  test("pcaTopK returns true cosines, is deterministic, and achieves useful recall") {
    def run() = Ann.pcaTopK(corpus, "vec_id", "embedding",
      corpus.filter(col("vec_id") < 5), "vec_id", "embedding",
      k = 10, kDim = 32, refine = 10)
    val a = run().collect()
    // exact cosines on the final ranking
    a.foreach { r =>
      r.getDouble(3) shouldBe cos(localVecs(r.getLong(0)), localVecs(r.getLong(1))) +- 1e-9
    }
    // deterministic (PCA has no random state)
    run().collect().map(_.toSeq).toSeq shouldBe a.map(_.toSeq).toSeq
    // recall@10 vs brute (measured 92-100% at this SF; assert a floor)
    val hits = (0L until 5L).map { q =>
      val got = a.filter(_.getLong(0) == q).map(_.getLong(1)).toSet
      localTopK(q, 10).count(got.contains)
    }.sum
    hits * 100 / 50 should be >= 60
  }

  test("vec_sum: elementwise grouped sum, null-safe, partial map-side reduction") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(0, Seq(1.0, 2.0)), Row(0, Seq(3.0, 4.5)),
        Row(1, Seq(5.0, 6.0)), Row(1, null),
        Row(2, null)),
      StructType(Seq(StructField("g", IntegerType),
        StructField("v", ArrayType(DoubleType))))).repartition(4)
    val out = df.groupBy("g")
      .agg(graft.functions.FunctionDefs.callAgg("vec_sum", col("v")).as("s"))
    val m = out.collect().map(r => r.getInt(0) -> Option(r.getSeq[Double](1))).toMap
    m(0) shouldBe Some(Seq(4.0, 6.5))
    m(1) shouldBe Some(Seq(5.0, 6.0))
    m(2) shouldBe None // all-null group → null, not a crash
    // algebraic aggregate: Spark plans a partial (map-side) phase, so each
    // partition ships one dim-length array per group through the shuffle
    out.queryExecution.executedPlan.toString should include("partial_vec_sum")
  }
}
