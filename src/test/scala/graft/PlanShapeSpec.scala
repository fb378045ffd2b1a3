package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Physical-plan shape assertions for the scale-critical properties the
  * DataFrame code promises: dimension joins broadcast, aggregates go
  * partial→final, candidate-generation joins are equi-joins (never a
  * cartesian/nested-loop product), and hot paths stay inside whole-stage
  * codegen. Results at sf0.001 are checked elsewhere; THIS suite fails
  * if a plan silently degrades into a shape that would not survive 100 TB.
  */
class PlanShapeSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect() // AQE finalizes the plan only on execution
    df.queryExecution.executedPlan.toString
  }

  /** The executed plan's nodes down to each barrier, not into what it
    * computed: AQE's final plan and its query stages, the outer plan a
    * string pin counted when a barrier printed as one `Scan ExistingRDD`.
    */
  private def outerNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => outerNodes(a.executedPlan)
    case s: QueryStageExec => s +: outerNodes(s.plan)
    case n => n +: n.children.flatMap(outerNodes)
  }

  test("q3/q5: every dimension join is a broadcast join, fact side never broadcast-built") {
    val q3 = planOf("q3_shipping")
    q3 should include("BroadcastHashJoin")
    val q5 = planOf("q5_local_supplier")
    q5 should include("BroadcastHashJoin")
    // supplier/customer/nation/region all broadcast → no shuffle on their joins
    q5.linesIterator.count(_.contains("BroadcastHashJoin")) should be >= 3
  }

  test("q1: aggregation is partial then final (map-side combine before the shuffle)") {
    val p = planOf("q1_agg")
    p.linesIterator.count(_.contains("HashAggregate")) should be >= 2
    p should include("*(") // WholeStageCodegen stage marker
  }

  test("candidate-generation joins are equi-joins, never cartesian") {
    for (q <- Seq("dd_minhash", "dd_simhash", "ann_lsh", "ann_ivf", "sp_spatial_join", "sp_knn_join")) {
      val p = planOf(q)
      withClue(s"$q plan:\n$p") {
        p.contains("CartesianProduct") shouldBe false
        p.contains("BroadcastNestedLoopJoin") shouldBe false
      }
    }
  }

  test("Dedup.exact: survivors via aggregate + semi-join, no full-row window shuffle") {
    val docs = sources.Tables.documents(spark, sfDir)
    val df = ops.Dedup.exact(docs, "doc_id", "text")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    withClue(s"plan:\n$p") {
      p.contains("Window") shouldBe false
      p should include("LeftSemi")
      // the digest aggregation goes partial→final (map-side combine)
      p.linesIterator.count(_.contains("HashAggregate")) should be >= 2
    }
  }

  test("spatial scalar pipeline stays inside whole-stage codegen") {
    val p = planOf("sp_measure")
    p should include("*(") // WholeStageCodegen stage marker
    p.contains("CartesianProduct") shouldBe false
  }

  test("ev_enrich: the static dimension broadcasts — the stream side never shuffles for the join") {
    val p = planOf("ev_enrich")
    p should include("BroadcastHashJoin")
    p.contains("SortMergeJoin") shouldBe false
  }

  test("q_range_join / q_asof_join: no nested-loop or cartesian products") {
    Seq("q_range_join", "q_asof_join").foreach { q =>
      val p = planOf(q)
      withClue(q) {
        p.contains("BroadcastNestedLoopJoin") shouldBe false
        p.contains("CartesianProduct") shouldBe false
      }
    }
  }

  test("q_sketch: no Expand — exact distinct comes from a two-level aggregate") {
    val p = planOf("q_sketch")
    p.contains("Expand") shouldBe false
  }

  test("ev_dedup: keep-first via partial aggregation on the digest, no window shuffle") {
    val p = planOf("ev_dedup")
    withClue(s"plan:\n$p") {
      p.contains("Window") shouldBe false
      // min(struct) + count reduce map-side before the digest shuffle
      // (SortAggregate, not HashAggregate — struct-typed min buffers are
      // not hash-aggregable — but the partial→final split is what matters)
      p should include("partial_min")
      p.linesIterator.count(_.contains("Aggregate")) should be >= 2
    }
  }

  // The three real-codec entries sort behind a barrier (Pins.sorted),
  // and the entry plan adds the orderBy's exchange — so these pins
  // certify the decode pipelines on the op composition directly, a
  // STRICTER assertion (zero exchanges, not "≤ the orderBy's"): the
  // codec work is entirely scan-side, narrow, shuffle-free.
  private def mmPipelinePlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("mm_decode: decode is a narrow map — no shuffle anywhere in the image pipeline") {
    val docs = graft.sources.Tables.documents(spark, sfDir).select("doc_id")
    val p = mmPipelinePlan(graft.ops.Multimodal.decodeImages(
      spark, graft.ops.Multimodal.synthesizePngs(spark, docs, "doc_id"), "doc_id"))
    withClue(s"plan:\n$p") {
      p.contains("CartesianProduct") shouldBe false
      p.linesIterator.count(_.contains("Exchange")) shouldBe 0
    }
  }

  test("tx_repetition: single-pass scan-side stats, no shuffle before the sort") {
    val p = planOf("tx_repetition")
    withClue(s"plan:\n$p") {
      p should include("repetition_stats")
      // one Exchange for the final orderBy (printed twice: AQE initial +
      // final sections); the stats themselves are a narrow projection
      // over the scan — no aggregate, no explode
      p.linesIterator.count(_.contains("Exchange")) should be <= 2
      p.contains("Generate") shouldBe false // no explode-based histogram
      p.contains("HashAggregate") shouldBe false
    }
  }

  test("mm_video: frame decode is a narrow flatMap — no shuffle anywhere in the frame pipeline") {
    val docs = graft.sources.Tables.documents(spark, sfDir).select("doc_id")
    val p = mmPipelinePlan(graft.ops.Multimodal.decodeFrames(
      spark, graft.ops.Multimodal.synthesizeGifs(spark, docs, "doc_id"), "doc_id", stride = 2))
    withClue(s"plan:\n$p") {
      p.contains("CartesianProduct") shouldBe false
      // frames fan out inside the scan-side flatMap, not via a Generate/explode
      p.linesIterator.count(_.contains("Exchange")) shouldBe 0
    }
  }

  test("mm_audio: decode is a narrow map — no shuffle anywhere in the audio pipeline") {
    val docs = graft.sources.Tables.documents(spark, sfDir).select("doc_id")
    val p = mmPipelinePlan(graft.ops.Multimodal.decodeAudio(
      spark, graft.ops.Multimodal.synthesizeWavs(spark, docs, "doc_id"), "doc_id"))
    withClue(s"plan:\n$p") {
      p.contains("CartesianProduct") shouldBe false
      p.linesIterator.count(_.contains("Exchange")) shouldBe 0
    }
  }

  test("ann_hybrid: fused ranking is aggregates end-to-end — no window, no cartesian beyond the broadcast query side") {
    val p = planOf("ann_hybrid")
    withClue(s"plan:\n$p") {
      p.contains("Window") shouldBe false // both top-k stages are bounded-heap aggregates
      p should include("partial_topk_by_score")
    }
  }

  test("ev_retention: cohort matrix is aggregates + equi-joins — no window, no cartesian") {
    val p = planOf("ev_retention")
    withClue(s"plan:\n$p") {
      p.contains("Window") shouldBe false
      p.contains("CartesianProduct") shouldBe false
      p should include("partial_min") // first-active-day reduces map-side
    }
  }

  test("ev_heavy: the sketch is one partial-agg pass — KBs per partition cross the shuffle") {
    val p = planOf("ev_heavy")
    withClue(s"plan:\n$p") {
      p.contains("CartesianProduct") shouldBe false
      p.contains("Window") shouldBe false
    }
  }

  test("tx_bpe_apply: the encode is scan-side — no explode, no shuffle before the final sort") {
    val p = planOf("tx_bpe_apply")
    withClue(s"plan:\n$p") {
      p.contains("Generate") shouldBe false // transform/aggregate HOFs, not explode
      p.contains("Window") shouldBe false
      p.linesIterator.count(_.contains("Exchange")) should be <= 2
    }
  }

  test("tx_decontam_vec: eval set broadcasts; the max is a partial aggregate, not a window") {
    val p = planOf("tx_decontam_vec")
    withClue(s"plan:\n$p") {
      p should include("Broadcast") // eval side rides a broadcast join
      p.contains("Window") shouldBe false
      // argmax is min(struct(-cos, ref_id, cos)) — raw-id tie-break, see
      // Ann.maxSimToSet — still a map-side partial aggregate, not a window
      p should include("partial_min")
    }
  }

  test("dd_canonical: the survivor argmax is an aggregate, not a window; pairs stay equi-joined") {
    val p = planOf("dd_canonical")
    withClue(s"plan:\n$p") {
      p.contains("Window") shouldBe false
      p.contains("CartesianProduct") shouldBe false
      p should include("partial_max")
    }
  }

  test("tx_nfc: normalization is scan-side — no shuffle before the final sort") {
    val p = planOf("tx_nfc")
    withClue(s"plan:\n$p") {
      p.contains("Window") shouldBe false
      p.linesIterator.count(_.contains("Exchange")) should be <= 2
    }
  }

  test("tx_fuzzy: the dictionary broadcasts; the argmin is a partial aggregate, not a window") {
    val p = planOf("tx_fuzzy")
    withClue(s"plan:\n$p") {
      p should include("Broadcast")
      p.contains("Window") shouldBe false
      p should include("partial_min")
    }
  }

  test("vec_sum resolves from SQL and plans a partial aggregate") {
    sources.Tables.embeddings(spark, sfDir).limit(50).createOrReplaceTempView("vs_emb")
    val df = spark.sql(
      "SELECT vec_sum(cast(embedding AS array<double>)) AS s FROM vs_emb")
    df.collect().head.getSeq[Double](0).length shouldBe 64
    df.queryExecution.executedPlan.toString should include("partial_vec_sum")
  }

  test("ann_pca_cov: moments reduce map-side — one triangle per partition crosses the shuffle") {
    val df = queries.Pipeline.annPcaCov(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    plan should include("partial_vec_outer_sum")
    plan should include("partial_vec_sum")
    // and the whole query is a scan + aggregate + generate: no join at all
    plan should not include "Cartesian"
    plan should not include "SortMergeJoin"
  }

  test("tx_decontam: the eval gram dictionary broadcasts — the corpus is never shuffled for the hit join") {
    val p = planOf("tx_decontam")
    withClue(s"plan:\n$p") {
      p should include("BroadcastHashJoin")
      p.contains("CartesianProduct") shouldBe false
    }
  }

  test("dd_spans / tx_pii: equi-joins and scan-side regexes only") {
    val sp = planOf("dd_spans")
    withClue(s"dd_spans plan:\n$sp") {
      sp.contains("CartesianProduct") shouldBe false
      sp.contains("BroadcastNestedLoopJoin") shouldBe false
    }
    // PII scrub is a pure narrow map: no exchange before the final sort
    val pii = planOf("tx_pii")
    withClue(s"tx_pii plan:\n$pii") {
      pii.contains("CartesianProduct") shouldBe false
      pii.linesIterator.count(_.contains("Exchange")) should be <= 2
    }
  }

  test("q_pivot: explicit values list ⇒ one scan, partial→final aggregate, no distinct pass") {
    // AQE prints the initial plan below the final one — count only the final
    val p = planOf("q_pivot").split("== Initial Plan ==").head
    withClue(s"q_pivot plan:\n$p") {
      p.linesIterator.count(_.contains("HashAggregate")) should be >= 2
      p.linesIterator.count(_.contains("Scan parquet")) shouldBe 1
      p.contains("Expand") shouldBe false
    }
  }

  test("tx_split: pair generation is the inverted-index equi-join — never a cartesian product") {
    val p = planOf("tx_split")
    withClue(s"tx_split plan:\n$p") {
      p.contains("CartesianProduct") shouldBe false
      p.contains("BroadcastNestedLoopJoin") shouldBe false
      // the split decision is scan-side: no window anywhere
      p.contains("Window") shouldBe false
    }
  }

  test("tx_keywords: per-doc top-k is the bounded-heap aggregate, not a window") {
    val p = planOf("tx_keywords")
    withClue(s"tx_keywords plan:\n$p") {
      p.contains("Window") shouldBe false
      p should include("partial_topn_rows")
    }
  }

  test("dd_semantic: cluster-keyed equi-join for pairs — never a cartesian product") {
    val p = planOf("dd_semantic")
    withClue(s"dd_semantic plan:\n$p") {
      p.contains("CartesianProduct") shouldBe false
      p.contains("BroadcastNestedLoopJoin") shouldBe false
    }
  }

  test("ann_knn_label: the vote argmax is an aggregate, not a window") {
    val p = planOf("ann_knn_label")
    withClue(s"ann_knn_label plan:\n$p") {
      p.contains("Window") shouldBe false
      // the ranked queries×k set broadcasts back onto the corpus scan
      p should include("BroadcastHashJoin")
    }
  }

  test("tx_mixture: the rates table broadcasts — the corpus never shuffles for the keep decision") {
    val p = planOf("tx_mixture")
    withClue(s"tx_mixture plan:\n$p") {
      p should include("BroadcastHashJoin")
      p.contains("SortMergeJoin") shouldBe false
      // counts aggregate goes partial→final before the one-row total
      p.linesIterator.count(_.contains("HashAggregate")) should be >= 2
    }
  }

  test("tx_curate: the funnel reads the corpus exactly twice — flags pass + dedup pass") {
    val p = planOf("tx_curate")
    withClue(s"plan:\n$p") {
      // the round-6 rewrite: stages 0-3 are conditional counters over ONE
      // scan, stages 4-5 one grouped pass over the filtered rows — a
      // regression to the per-stage-union shape shows up as extra scans
      // re-running the expensive text signals (14.6x at the sf10 decade).
      // 2 real scans, each printed twice (AQE initial + final sections)
      p.linesIterator.count(_.contains("FileScan parquet")) should be <= 4
      p.contains("Window") shouldBe false
      p.contains("CartesianProduct") shouldBe false
      // both count passes aggregate partial->final
      p.linesIterator.count(_.contains("HashAggregate")) should be >= 4
    }
  }

  test("dd_normalized / tx_perplexity: digest-only dedup shuffle; LM model tables broadcast") {
    val n = planOf("dd_normalized")
    withClue(s"dd_normalized plan:\n$n") {
      n.contains("Window") shouldBe false
      n.linesIterator.count(_.contains("HashAggregate")) should be >= 2
    }
    val px = planOf("tx_perplexity")
    withClue(s"tx_perplexity plan:\n$px") {
      // uni (×2 aliases), bi and stats all broadcast onto the scoring scan
      px.linesIterator.count(_.contains("BroadcastHashJoin")) should be >= 3
      px.contains("CartesianProduct") shouldBe false
    }
  }

  test("tx_threshold: cutoffs broadcast onto the scan; the quantile window runs on the histogram, not the corpus") {
    val p = planOf("tx_threshold")
    withClue(s"tx_threshold plan:\n$p") {
      // the per-stratum cutoff table joins back as a broadcast
      p should include("BroadcastHashJoin")
      p.contains("CartesianProduct") shouldBe false
      // the histogram aggregate goes partial->final before the window
      p.linesIterator.count(_.contains("HashAggregate")) should be >= 2
    }
  }

  test("tx_wsample: the k-cut is a distributed TakeOrdered, never a global sort of the corpus") {
    val p = planOf("tx_wsample")
    withClue(s"tx_wsample plan:\n$p") {
      p should include("TakeOrderedAndProject")
      p.contains("Window") shouldBe false
    }
  }

  test("dd_overlap: source pairing happens via the shingle equi-join — never a cartesian product") {
    val p = planOf("dd_overlap")
    withClue(s"dd_overlap plan:\n$p") {
      p.contains("CartesianProduct") shouldBe false
      p.contains("BroadcastNestedLoopJoin") shouldBe false
      // per-source totals broadcast back onto the pair-sized aggregate
      p.linesIterator.count(_.contains("BroadcastHashJoin")) should be >= 2
    }
  }

  test("q_profile: one aggregate pass over one scan — never a per-column job loop") {
    // AQE prints Final + Initial plan; count scans in the final section only
    val p = planOf("q_profile").split("== Initial Plan ==")(0)
    withClue(s"q_profile plan:\n$p") {
      // a single scan of lineitem feeds every column's moments
      p.linesIterator.count(_.contains("FileScan parquet")) shouldBe 1
      // multi-column count-distinct plans via Expand, still partial->final
      p should include("Expand")
      p.linesIterator.count(_.contains("HashAggregate")) should be >= 2
    }
  }

  test("q_diff: the snapshot diff is one co-partitioned shuffle join, no broadcast of a snapshot") {
    val p = planOf("q_diff")
    withClue(s"q_diff plan:\n$p") {
      (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")) shouldBe true
      p.contains("FullOuter") shouldBe true
      // neither 100 TB snapshot may be broadcast-built
      p.contains("BroadcastHashJoin") shouldBe false
    }
  }

  test("ev_anomaly: daily counts partial-agg before the shuffle; the stats table broadcasts back") {
    val p = planOf("ev_anomaly")
    withClue(s"ev_anomaly plan:\n$p") {
      p should include("BroadcastHashJoin")
      p.linesIterator.count(_.contains("HashAggregate")) should be >= 2
      p.contains("Window") shouldBe false // never a corpus-wide window
    }
  }

  test("no regex-heavy expression is optimizer-duplicated into a scan filter") {
    // Regression guard for the tx_threshold round-7 defect: a filter on
    // a computed column lets constraint propagation / predicate pushdown
    // inline the FULL scoring expression into the scan's row filter, so
    // the regex runs twice per row (measured ~5x wall at sf1). Cheap
    // split()-level guards pushed for early pruning are fine; regexes
    // are not.
    for (q <- Seq("tx_threshold", "tx_quality", "tx_url", "tx_curate", "tx_pii", "dd_normalized")) {
      val fin = planOf(q).split("== Initial Plan ==")(0)
      val offending = fin.linesIterator.filter(l =>
        (l.contains("DataFilters: [") && !l.contains("DataFilters: []") ||
          l.trim.startsWith("+- Filter") || l.trim.startsWith(":- Filter")) &&
          l.contains("regexp_replace")).toSeq
      withClue(s"$q has regexp_replace inside a filter:\n${offending.mkString("\n")}\n") {
        offending shouldBe empty
      }
    }
  }

  test("src_dpp: the fact scan carries a runtime dynamicpruning PartitionFilter") {
    val p = planOf("src_dpp")
    withClue(s"src_dpp plan:\n$p") {
      p.toLowerCase should include("dynamicpruning")
      p should include("BroadcastHashJoin")
    }
  }

  test("tx_url: canonicalization is pure scan-side codegen — no join, no aggregate, no window") {
    val p = planOf("tx_url")
    withClue(s"tx_url plan:\n$p") {
      p.contains("Join") shouldBe false
      p.contains("HashAggregate") shouldBe false
      p.contains("Window") shouldBe false
      p should include("*(") // stays inside whole-stage codegen
    }
  }

  test("tx_pmi: unigram counts broadcast onto the bigram table — no window, no cartesian") {
    val p = planOf("tx_pmi")
    withClue(s"tx_pmi plan:\n$p") {
      p should include("BroadcastHashJoin")
      p.contains("CartesianProduct") shouldBe false
      p.contains("Window") shouldBe false
    }
  }

  test("q_mv_join: both delta joins are broadcast — the base tables never shuffle for the refresh") {
    val p = planOf("q_mv_join")
    withClue(s"q_mv_join plan:\n$p") {
      p.linesIterator.count(_.contains("BroadcastHashJoin")) should be >= 2
      p.contains("CartesianProduct") shouldBe false
    }
  }

  test("ev_rfm: cutpoints broadcast back — no window, no single-partition sort of the rollup") {
    val p = planOf("ev_rfm")
    withClue(s"ev_rfm plan:\n$p") {
      p.contains("Window") shouldBe false // the whole point vs ntile
      p should include("BroadcastNestedLoopJoin") // the 1-row cutpoint frames
      // the only non-broadcast exchanges are the rollup + final orderBy
      p.contains("CartesianProduct") shouldBe false
    }
  }

  test("q_scd2_inc: the batch key set broadcasts for both the anti and semi probes") {
    val p = planOf("q_scd2_inc")
    withClue(s"q_scd2_inc plan:\n$p") {
      p should include("BroadcastHashJoin")
      p should include("LeftAnti")
      p should include("LeftSemi")
    }
  }

  test("ev_attribution: first-touch argmin is an aggregate broadcast back, last-touch is the union-window as-of") {
    val p = planOf("ev_attribution")
    withClue(s"ev_attribution plan:\n$p") {
      p should include("BroadcastHashJoin") // per-user first-touch joined broadcast
      p.contains("CartesianProduct") shouldBe false
      p should include("Window") // the as-of union-window pass
    }
  }

  test("tx_probe / ann_probe_xty: one partial-aggregated stats pass, no join, no window") {
    val p = planOf("tx_probe")
    withClue(s"tx_probe plan:\n$p") {
      p.contains("Join") shouldBe false
      p.contains("Window") shouldBe false
      p should include("HashAggregate")
    }
    val p2 = planOf("ann_probe_xty")
    withClue(s"ann_probe_xty plan:\n$p2") {
      p2.contains("Join") shouldBe false
      p2.contains("Window") shouldBe false
    }
  }

  test("mergeComponents: the labels table relabels behind broadcast probes — no big-side shuffle join") {
    import spark.implicits._
    val labels = spark.range(5000).selectExpr("id", "id % 7 AS comp")
    val edges = Seq((1L, 8L), (14L, 21L)).toDF("id_a", "id_b")
    val df = graft.ops.Dedup.mergeComponents(labels, edges)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    withClue(s"mergeComponents plan:\n$p") {
      // the semi-probe, the relabel and the new-id mapping all broadcast
      p should include("BroadcastHashJoin")
      p.contains("SortMergeJoin") shouldBe false
      p.contains("CartesianProduct") shouldBe false
    }
  }

  test("q_joinest: both sketch passes are partial aggregates; no window") {
    val p = planOf("q_joinest")
    withClue(s"q_joinest plan:\n$p") {
      p should include("partial_kmv_agg")
      p.contains("Window") shouldBe false
      p.contains("CartesianProduct") shouldBe false // the 1-row cross joins plan as broadcast NLJ over single rows
    }
  }

  test("dd_span_coverage: dup detection + routing ride ONE gram shuffle (window over gram), no join back") {
    val p = planOf("dd_span_coverage")
    withClue(s"dd_span_coverage plan:\n$p") {
      p.contains("CartesianProduct") shouldBe false
      // r11: min/max-over-gram window replaces the countDistinct
      // aggregate + semi-join pair — the gram rows are exploded and
      // shuffled ONCE, not twice
      p should include("Window")
      p.contains("LeftSemi") shouldBe false
      // the gram keys the window shuffles on are the 8-byte hashes,
      // never n-word strings (r14: ONE rolling pass per doc)
      p should include("gram_hashes")
    }
  }

  test("dd_span_scrub: the rewrite rides the same ONE gram shuffle; the excision is scan-side") {
    val p = planOf("dd_span_scrub")
    withClue(s"dd_span_scrub plan:\n$p") {
      p.contains("CartesianProduct") shouldBe false
      // spanCoverage's window-over-gram dup detection, verbatim
      p should include("Window")
      p.contains("LeftSemi") shouldBe false
      p should include("gram_hashes")
      // interval merge + positional filter are higher-order functions
      // over per-doc arrays — no per-position explode anywhere
      p should include("aggregate(")
      p should include("filter(")
    }
  }

  test("dd_line_dedup: keeper decision rides ONE hash-keyed line shuffle — window over xxhash64, no join") {
    val p = planOf("dd_line_dedup")
    withClue(s"dd_line_dedup plan:\n$p") {
      p.contains("CartesianProduct") shouldBe false
      // keep-first = min(struct(doc,pos)) window over the 8-byte line
      // hash; no aggregate+semi-join second pass, no join of any kind
      // (reassembly is a groupBy on the same flagged rows)
      p should include("Window")
      p should include("xxhash64")
      p.contains("LeftSemi") shouldBe false
      p.contains("Join") shouldBe false
    }
  }

  test("dd_line_dedup_inc: bloom literal routes the digest join; batch window; no cartesian") {
    val p = planOf("dd_line_dedup_inc")
    withClue(s"dd_line_dedup_inc plan:\n$p") {
      p.contains("CartesianProduct") shouldBe false
      // history membership probes through the scan-side bloom gate;
      // only the maybe minority reaches the md5 digest join
      p should include("bloom_contains")
      p should include("Window")
    }
  }

  test("tx_shard: ONE shard-hash shuffle + per-shard window — no join, no cartesian") {
    val p = planOf("tx_shard")
    withClue(s"tx_shard plan:\n$p") {
      p should include("Window")
      p.contains("Join") shouldBe false
      p.contains("CartesianProduct") shouldBe false
    }
  }

  test("tx_html: extraction is pure scan-side codegen — no join, no aggregate, no window") {
    val p = planOf("tx_html")
    withClue(s"tx_html plan:\n$p") {
      p.contains("Window") shouldBe false
      p.contains("Join") shouldBe false
      p.contains("HashAggregate") shouldBe false
    }
  }

  test("tx_boilerplate: line filtering is pure scan-side HOFs — no join, no aggregate, no window") {
    val p = planOf("tx_boilerplate")
    withClue(s"tx_boilerplate plan:\n$p") {
      p.contains("Window") shouldBe false
      p.contains("Join") shouldBe false
      p.contains("HashAggregate") shouldBe false
    }
  }

  test("tx_web_pipeline: the composed extract+filter path stays scan-side — no join, no agg, no window") {
    val p = planOf("tx_web_pipeline")
    withClue(s"tx_web_pipeline plan:\n$p") {
      p.contains("Window") shouldBe false
      p.contains("Join") shouldBe false
      p.contains("HashAggregate") shouldBe false
    }
  }

  test("tx_gopher / tx_badwords: scan-side rules — the only exchange is the presentation sort") {
    for (q <- Seq("tx_gopher", "tx_badwords")) {
      val p = planOf(q)
      // the AQE string prints Final AND Initial plans — count the final
      val fin = p.split("== Initial Plan ==")(0)
      withClue(s"$q plan:\n$p") {
        p.contains("Join") shouldBe false
        p.contains("HashAggregate") shouldBe false
        p.contains("Window") shouldBe false
        // exactly the orderBy's range exchange — the "no shuffle" claim
        fin.linesIterator.count(_.contains("Exchange")) shouldBe 1
      }
    }
  }

  test("tx_web_curate: the fused synthesis→extract→boilerplate→flags prefix is ONE corpus scan") {
    val df = SparkEntry.queries("tx_web_curate")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val fin = outerNodes(p) // AQE's final plan, down to the barrier
    withClue(s"tx_web_curate plan:\n$p") {
      // one data source: both quality flags evaluate over the SAME
      // cleaned text — the single-read claim of the composed pipeline
      // (a per-flag-branch spelling would re-scan per flag). Since r15
      // the extraction prefix materializes once into a barrier (so the
      // keep-filter cannot push back below the fan-out and re-inline the
      // chain serially — see webCurateChain), which the outer plan reads
      // as ONE Materialized node; pre-barrier it was one FileScan. Either
      // way: exactly one source, never two.
      fin.count {
        case _: FileSourceScanExec | _: graft.ops.MaterializedExec => true
        case _ => false
      } shouldBe 1
      p.toString.contains("CartesianProduct") shouldBe false
      p.toString.contains("BroadcastNestedLoopJoin") shouldBe false
      // bounded exchanges: dedup window + doc regroup + shard window +
      // final sort (AQE may add reads, never new exchanges)
      fin.count(_.isInstanceOf[Exchange]) should be <= 5
    }
  }

  test("tx_langid: script routing stays scan-side — one histogram pass, no join/agg/window") {
    val p = planOf("tx_langid")
    val fin = p.split("== Initial Plan ==")(0)
    withClue(s"tx_langid plan:\n$p") {
      p.contains("Join") shouldBe false
      p.contains("HashAggregate") shouldBe false
      p.contains("Window") shouldBe false
      // exactly the orderBy's range exchange — routing adds per-row
      // expressions, never a shuffle
      fin.linesIterator.count(_.contains("Exchange")) shouldBe 1
    }
  }

  test("src_warc: container parse is a single binaryFile scan + mapPartitions — no shuffle but the sort") {
    val p = planOf("src_warc")
    val fin = p.split("== Initial Plan ==")(0)
    withClue(s"src_warc plan:\n$p") {
      p.contains("Join") shouldBe false
      p.contains("Window") shouldBe false
      fin.linesIterator.count(_.contains("FileScan")) shouldBe 1
      fin.linesIterator.count(_.contains("Exchange")) shouldBe 1
    }
  }

  test("sp_mga: by-code reprojection is pure projection — zero exchanges beyond the sort") {
    val p = planOf("sp_mga")
    val fin = p.split("== Initial Plan ==")(0)
    withClue(s"sp_mga plan:\n$p") {
      p.contains("Join") shouldBe false
      p.contains("HashAggregate") shouldBe false
      // at sf0.001 the Australian window can be empty and AQE collapses
      // the sort stage to EmptyRelation — hence <= 1, not == 1
      fin.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("Reused")) should be <= 1
    }
  }

  test("dd_span_scrub_long: each run keeps the one-gram-shuffle shape — windows, no semi-join re-probe") {
    val p = planOf("dd_span_scrub_long")
    withClue(s"dd_span_scrub_long plan:\n$p") {
      // the two runs each ride ONE gram-routing window + the per-doc
      // collect + the rewrite join; a semi-join respelling would add
      // aggregate-over-grams exchanges
      p should include("Window")
      p.contains("CartesianProduct") shouldBe false
      p.contains("BroadcastNestedLoopJoin") shouldBe false
    }
  }

  test("sp_cgcs: dual-family by-code reprojection is pure projection — zero exchanges beyond the sort") {
    val p = planOf("sp_cgcs")
    val fin = p.split("== Initial Plan ==")(0)
    withClue(s"sp_cgcs plan:\n$p") {
      p.contains("Join") shouldBe false
      p.contains("HashAggregate") shouldBe false
      fin.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("Reused")) should be <= 1
    }
  }

  test("tx_mojibake / tx_compress: repair and zlib signals are scan-fused native expressions — no UDF, no shuffle but the sort") {
    Seq("tx_mojibake", "tx_compress", "tx_compress_check").foreach { q =>
      val p = planOf(q)
      val fin = p.split("== Initial Plan ==")(0)
      withClue(s"$q plan:\n$p") {
        // the r14 compressionRatio spelling was a Scala UDF — pin the
        // regression out: native StaticInvoke stays in codegen, UDFs
        // don't
        p.contains("UDF") shouldBe false
        p.contains("Join") shouldBe false
        p.contains("HashAggregate") shouldBe false
        p should include("*(") // WholeStageCodegen
        fin.linesIterator.count(l =>
          l.contains("Exchange") && !l.contains("Reused")) should be <= 1
      }
    }
  }

  test("tx_blocklist: suffix probes are broadcast HASH joins — no list literal, no nested loop") {
    val p = planOf("tx_blocklist")
    withClue(s"tx_blocklist plan:\n$p") {
      p should include("BroadcastHashJoin")
      p.contains("BroadcastNestedLoopJoin") shouldBe false
      p.contains("CartesianProduct") shouldBe false
      // the r9 shape embedded the whole list in an exists() lambda —
      // the probe-join shape must not
      p.contains("exists(") shouldBe false
      p.contains("src3.example.com") shouldBe false
    }
  }

  test("explain shows what each barrier computed: tx_blocklist, mm_decode, sp_overlay") {
    def explained(name: String): String = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    }
    // the lines from the barrier down: its own line, then its child's
    def barrier(p: String): String = p.linesIterator.dropWhile(!_.contains("Materialized [")).mkString("\n")
    for ((name, computed) <- Seq(
        "tx_blocklist" -> Seq("FileScan", "BroadcastHashJoin"),
        "mm_decode" -> Seq("FileScan", "MapPartitions"),
        "sp_overlay" -> Seq("FileScan", "st_area(st_intersection("))) {
      val p = explained(name)
      withClue(s"$name plan:\n$p") {
        p should not include "Scan ExistingRDD"
        computed.foreach(op => barrier(p) should include(op))
      }
    }
  }
}
