package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge-list DataFrames. Companion to
  * [[Dedup.connectedComponents]] (which answers reachability); PageRank
  * answers AUTHORITY — the web-corpus curation signal (Common Crawl
  * publishes exactly this as host-level harmonic/PageRank centrality
  * for source-quality weighting).
  */
object Graph {

  /** Fixed-iteration PageRank over a (possibly multi-)edge list:
    * p'(v) = (1−d)/n + d·Σ_{(u,v)∈E} p(u)/outdeg(u), `iters` rounds
    * from the uniform start. Each parallel edge contributes — a host
    * linked twice passes twice the mass, the standard multigraph
    * treatment. Nodes with no out-edges leak their mass (the original
    * Spark-example simplification, documented contract): ranking is
    * unaffected for authority use; use a teleport-complete variant if
    * absolute mass conservation matters.
    *
    * Scale shape per round: ranks (|V| rows) equi-join edges on src —
    * shuffle keyed by src — then a partial-aggregated groupBy on dst;
    * nothing corpus-sized beyond |E|, and the rank state never exceeds
    * |V| rows. Deterministic given the edge list (the only float
    * nondeterminism is summation order, sub-ulp). The per-round lineage
    * is cut with localCheckpoint every `checkpointEvery` rounds so deep
    * iteration counts do not replay the whole chain (same discipline as
    * connectedComponents).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, d: Double = 0.85,
               checkpointEvery: Int = 10): DataFrame = {
    require(iters >= 1, s"iters $iters must be >= 1")
    // |E|-sized materialization barrier (lazy): the edge list has
    // iters+2 consumers below (nodes, deg, one contrib join per round),
    // and callers routinely derive it from a corpus-sized join — without
    // the barrier every round replays that join. Materializes on the
    // first action (the nodes count), |E| rows of two key columns.
    // Skipped when `edges` already reads a checkpoint (the Pins rule);
    // the result reads the barrier, so the ContextCleaner frees it.
    val e = new Pins()(edges.select(col(srcCol).as("__s"), col(dstCol).as("__t")),
      eager = false)
    val nodes = e.select(col("__s").as("__v"))
      .union(e.select(col("__t").as("__v"))).distinct()
    val deg = e.groupBy(col("__s")).agg(count(lit(1)).as("__dg"))
    val n = nodes.count()
    require(n > 0, "pageRank: empty graph")
    val base = lit((1.0 - d) / n)
    var ranks = nodes.select(col("__v"), lit(1.0 / n).as("__p"))
    for (i <- 1 to iters) {
      val contrib = e.join(ranks, e("__s") === ranks("__v"))
        .join(deg, "__s")
        .groupBy(col("__t"))
        .agg(sum(col("__p") / col("__dg")).as("__c"))
      ranks = nodes.join(contrib, nodes("__v") === contrib("__t"), "left")
        .select(col("__v"), (base + lit(d) * coalesce(col("__c"), lit(0.0))).as("__p"))
      if (i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint(eager = true)
    }
    ranks.select(col("__v").as("node"), col("__p").as("rank"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007, the deterministic variant) — the third graph primitive of
    * the curation battery: [[Dedup.connectedComponents]] answers
    * reachability, [[pageRank]] answers authority, LPA answers
    * COMMUNITY — link farms, mirror rings and template families show
    * up as dense host clusters long before they merge into one
    * component. Every node starts labeled with itself; each round,
    * every node adopts the most frequent label among its neighbors
    * (undirected view of the edge list, parallel edges vote with their
    * multiplicity), breaking count ties by SMALLEST label — the total
    * order that makes sync LPA deterministic and an external engine
    * replay it bit-for-bit (classic async LPA is run-order dependent
    * by construction). Fixed `iters` rounds, no convergence test: the
    * caller picks the horizon, and k rounds bound community diameter
    * by k hops — the right contract for a replayable pipeline stage.
    *
    * Scale shape per round: one |E|-keyed equi-join (labels onto edge
    * targets), a partial-aggregated (node, label) count, and a
    * min-struct argmax per node — state never exceeds |V| rows, work
    * never exceeds |E| rows, nothing quadratic anywhere. Lineage is
    * cut with localCheckpoint every `checkpointEvery` rounds (the
    * [[pageRank]]/connectedComponents discipline).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int, checkpointEvery: Int = 10): DataFrame = {
    require(iters >= 1, s"iters $iters must be >= 1")
    // the pageRank edge barrier: e0 feeds the undirected view TWICE per
    // use (und = e0 ∪ swap(e0)) across nodes + one join per round
    val e0 = new Pins()(edges.select(col(srcCol).as("__s"), col(dstCol).as("__t")),
      eager = false)
    val und = e0.union(e0.select(col("__t").as("__s"), col("__s").as("__t")))
    val nodes = und.select(col("__s").as("__v")).distinct()
    var labels = nodes.select(col("__v"), col("__v").as("__l"))
    for (i <- 1 to iters) {
      val votes = und.join(labels, und("__t") === labels("__v"))
        .groupBy(col("__s"), col("__l"))
        .agg(count(lit(1)).as("__c"))
      // argmax(count desc, label asc) as ONE aggregate: min over
      // (-count, label) struct — no window, so the per-node state is a
      // single struct and the aggregation combines map-side
      // every node of the undirected view has >= 1 neighbor (nodes is
      // derived from the edge list), and labels always covers all
      // nodes, so winners is total — no isolated-vertex fallback join
      labels = votes.groupBy(col("__s"))
        .agg(min(struct((-col("__c")).as("nc"), col("__l").as("l"))).as("__w"))
        .select(col("__s").as("__v"), col("__w").getField("l").as("__l"))
      if (i % checkpointEvery == 0 && i < iters)
        labels = labels.localCheckpoint(eager = true)
    }
    labels.select(col("__v").as("node"), col("__l").as("label"))
  }
}
