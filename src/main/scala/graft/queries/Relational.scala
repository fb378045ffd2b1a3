package graft.queries

import graft.ops.Pins
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core query set (SURVEY.md §2.1).
  *
  * Demonstrates the engine's scan/filter/agg/join/window/rollup surface on
  * the TPC-H-ish corpus. Scale notes per query:
  *  - dimension tables (region/nation/customer at these SFs, brand-avg
  *    aggregates) are explicitly `broadcast()` — at 100 TB the fact side
  *    never shuffles for those joins;
  *  - aggregates are partial-agg friendly (plain sum/count/avg over
  *    groupBy) so map-side combine bounds shuffle volume;
  *  - all floating outputs are rounded so the DuckDB oracle hash-compares.
  */
object Relational {

  private def q(name: String)(f: (SparkSession, String) => DataFrame) = name -> f

  /** Engine-portable integer floor division as a SQL fragment: Spark's
    * `div` truncates toward zero while DuckDB's `//` floors, so a bare
    * `div` silently diverges on negative numerators. `a - pmod(a, b)` is
    * an exact multiple of b (pmod is always in [0, b) for b > 0), so the
    * trailing `div` is exact division and the result is floor(a/b) for
    * any sign of a. Divisors must be positive (all ours are counts or
    * unit constants).
    */
  def floorDivSql(a: String, b: String): String =
    s"((($a) - pmod(($a), ($b))) div ($b))"

  /** Money/quantity columns carry exactly 2 decimals, so all aggregation
    * runs on exact integer cents (and cents×basis-points micro-units for
    * the discounted price): sums are order-independent and
    * engine-independent, unlike `round(sum(double), 2)`, whose float
    * summation order plus exact-decimal rounding ties diverge between
    * engines (observed on ev_window at sf0.1; q3 even ORDERS by the sum).
    * Sums accumulate as decimal(38,0) for overflow headroom at warehouse
    * scale. Rounding is integer round-half-up, floor((x + half) / unit),
    * via [[floorDivSql]] so it stays correct for negative sums; for the
    * 4-dp average, `n div 2` truncation is safe because an odd divisor
    * can never produce an exact tie.
    */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  // fanOut (graft.queries package object): applied only inside entries
  // whose per-row aggregate work (digest updates, percentile buffering,
  // salted-join fan-out) dwarfs one exchange of the projected columns.
  // All wrapped aggregates are exact-integer or merge-order-
  // insensitive, so partitioning cannot move results.
  private val discPriceMicro: Column =
    (cents(col("l_extendedprice")) *
      (lit(10000L) - round(col("l_discount") * 10000).cast("long"))).cast("decimal(38,0)")

  /** TPC-H Q1-style pricing summary: one scan, one shuffle on the 6-group key. */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(cents(col("l_quantity")).cast("decimal(38,0)")).as("__qty_c"),
        sum(cents(col("l_extendedprice")).cast("decimal(38,0)")).as("__base_c"),
        sum(discPriceMicro).as("__disc_m"),
        count(lit(1)).as("count_order")
      )
      .select(
        col("l_returnflag"), col("l_linestatus"),
        (col("__qty_c") / 100.0).cast("double").as("sum_qty"),
        (col("__base_c") / 100.0).cast("double").as("sum_base_price"),
        (expr(floorDivSql("__disc_m + 5000", "10000")) / 100.0).as("sum_disc_price"),
        (expr(floorDivSql("__qty_c * 100 + count_order div 2", "count_order")) / 1e4).as("avg_qty"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3-style: broadcast the filtered customer dim, shuffle join o⋈l. */
  def q3Shipping(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir).filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
    val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(sum(discPriceMicro).as("__rev_m"))
      .select(col("l_orderkey"),
        (expr(floorDivSql("__rev_m + 5000", "10000")) / 100.0).as("revenue"),
        col("o_orderdate"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style: all dims broadcast; single fact shuffle for the agg. */
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, dir)
    val c = Tables.customer(s, dir)
    val su = Tables.supplier(s, dir)
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(c),
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(discPriceMicro).as("__rev_m"))
      .select(col("n_name"), (expr(floorDivSql("__rev_m + 5000", "10000")) / 100.0).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Top-3 orders per customer by price: single shuffle on o_custkey. */
  def qWindowTopN(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  /** Semi + anti join: per segment, customers with at least one order
    * (semi) and customers with no large order (anti vs a filtered build
    * side). Both sides broadcastable at dim scale.
    */
  def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val big = o.filter(col("o_totalprice") > 300000.0)
    val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_with_orders"))
    val anti = c.join(big, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_no_big_order"))
    semi.join(anti, Seq("c_mktsegment"), "full_outer")
      .select(
        col("c_mktsegment"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_no_big_order"), lit(0L)).as("n_no_big_order"))
      .orderBy("c_mktsegment")
  }

  /** Parts priced above their brand average (agg + broadcast self-join).
    * 0.005 margin keeps the predicate off the FP boundary so Spark and the
    * oracle agree bit-for-bit.
    */
  def qAvgFilter(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val brandAvg = p.groupBy("p_brand").agg(avg("p_retailprice").as("brand_avg"))
    p.join(broadcast(brandAvg), "p_brand")
      .filter(col("p_retailprice") > col("brand_avg") + 0.005)
      .select("p_partkey")
      .orderBy("p_partkey")
  }

  /** Monthly order buckets (epoch seconds keep the oracle timestamp-precision-proof). */
  def qDateBuckets(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(unix_timestamp(date_trunc("month", col("o_orderdate"))).as("month_start"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice")).cast("decimal(38,0)")).as("__tot_c"))
      .select(col("month_start"), col("n_orders"),
        (col("__tot_c") / 100.0).cast("double").as("total"))
      .orderBy("month_start")

  /** Rollup over returnflag/linestatus with NULL-safe labels. */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"))
      .orderBy("rf", "ls")

  /** Bloom semi-join reduction: urgent-recent orders are a selective dim,
    * so the lineitem scan is pre-filtered by a Bloom filter over the dim
    * key set before any shuffle ([[graft.ops.BloomJoin]]) — at 100 TB
    * the fact side ships ~selectivity of its bytes instead of all of
    * them. The oracle is the plain filtered join: the filter may pass
    * false positives into the exact join, never into results.
    */
  def qBloomJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1997-07-01").cast("timestamp"))
      .select(col("o_orderkey"))
    graft.ops.BloomJoin.reducedJoin(li, ord, "l_orderkey", "o_orderkey")
      .agg(count(lit(1)).as("n"), sum(discPriceMicro).as("__rev_m"))
      .select(col("n"),
        (expr(floorDivSql("__rev_m + 5000", "10000")) / 100.0).as("revenue"))
  }

  /** Materialized-view incremental refresh: the pre-cutoff aggregate is
    * "maintained" state, the post-cutoff rows are the delta, and
    * [[graft.ops.Incremental.refreshSums]] folds them — the refresh
    * shuffles |groups| rows, never history. The oracle recomputes from
    * scratch over all orders: maintenance must be invisible to results.
    * Sums are kept in integer cents (mergeable AND exact); avg-style
    * metrics would derive from (n, cents) at read time.
    */
  def qMvDelta(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1997-01-01").cast("timestamp")
    def agg(df: DataFrame): DataFrame =
      df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val ord = Tables.orders(s, dir)
    val maintained = agg(ord.filter(col("o_orderdate") < cutoff))
    val deltaAgg = agg(ord.filter(col("o_orderdate") >= cutoff))
    graft.ops.Incremental.refreshSums(maintained, deltaAgg, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n"), (col("cents") / 100.0).as("total"))
      .orderBy("o_orderpriority")
  }

  /** Revenue by order priority through the SALTED join — the manual
    * hot-key escape hatch ([[graft.ops.SkewJoin]]) run against the
    * plain-join oracle: salting must be invisible to results. The salt
    * spreads lineitem rows by xxhash64(orderkey, linenumber); orders
    * replicates ×8.
    */
  def qSalted(s: SparkSession, dir: String): DataFrame = {
    val li = fanOut(Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount")))
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    graft.ops.SkewJoin.saltedJoin(li, ord, "l_orderkey",
        Seq(col("l_orderkey"), col("l_linenumber")), nSalt = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(discPriceMicro).as("__rev_m"))
      .select(col("o_orderpriority"), col("n"),
        (expr(floorDivSql("__rev_m + 5000", "10000")) / 100.0).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** CUBE grouping — all four grouping sets (rf×ls, rf, ls, grand
    * total) in ONE scan: Catalyst plans cube as a single Expand +
    * hash aggregate, and partial aggregation applies per grouping set,
    * so the shuffle carries pre-combined (set, key) rows — the
    * expansion factor is the set count, never a second scan per set.
    * Quantities go through the integer-cents convention so the sums
    * are exact on both engines.
    */
  def qCube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        (sum(round(col("l_quantity") * 100, 0).cast("long")) / lit(100.0)).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("qty"))
      .orderBy("rf", "ls")

  /** Set operations: customers active in 1995 INTERSECT / EXCEPT those
    * active in 1996. Spark plans both as aggregate + left-semi/anti
    * hash joins over the distinct key sets — set semantics without a
    * sort, partial aggregation on both sides.
    */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val a = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
    val b = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
    a.intersect(b).withColumn("setop", lit("both"))
      .unionByName(a.except(b).withColumn("setop", lit("only_first")))
      .orderBy("setop", "o_custkey")
  }

  /** Pivot (wide aggregation): per-linestatus quantity sums pivoted to
    * one column per return flag. The values list is explicit, so Spark
    * skips the extra distinct-scan pass and the plan is ONE partial→
    * final aggregate — a pivot with enumerable keys costs the same as
    * the plain groupBy at any scale. Sums stay on exact integer cents.
    */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(cents(col("l_quantity")).cast("decimal(38,0)")))
      .select(
        col("l_linestatus"),
        (coalesce(col("A"), lit(0)) / 100.0).cast("double").as("qty_a"),
        (coalesce(col("N"), lit(0)) / 100.0).cast("double").as("qty_n"),
        (coalesce(col("R"), lit(0)) / 100.0).cast("double").as("qty_r"))
      .orderBy("l_linestatus")

  /** Sketch aggregates with honest error contracts: HLL++ distinct
    * counts (approx_count_distinct, rsd 5%) checked within ±15% of the
    * exact count, and approx_percentile (rank error ≤ n/accuracy)
    * checked inside the exact p45–p55 band. Both sketches are
    * deterministic (hash-based, no RNG), so the flags are stable and the
    * oracle asserts them as constants next to the exact counts. At
    * 100 TB the sketches are the point: distinct-count and quantile in
    * one pass with bounded memory, no sort, map-side partials.
    */
  def qSketch(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // exact distinct as a two-level aggregation (distinct keys reduce
    // map-side in the first groupBy) instead of countDistinct inside the
    // main agg, which would Expand-duplicate every input row
    val exactDistinct = li.groupBy("l_returnflag", "l_suppkey").agg(count(lit(1)))
      .groupBy("l_returnflag").agg(count(lit(1)).as("exact_distinct"))
    li.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        approx_count_distinct(col("l_suppkey"), 0.05).as("__acd"),
        expr("approx_percentile(l_quantity, 0.5, 10000)").as("__p50"),
        expr("percentile(l_quantity, 0.45)").as("__p45"),
        expr("percentile(l_quantity, 0.55)").as("__p55"))
      .join(broadcast(exactDistinct), "l_returnflag")
      .select(
        col("l_returnflag"), col("n"), col("exact_distinct"),
        when(abs(col("__acd") - col("exact_distinct")) <=
          col("exact_distinct") * 0.15, 1).otherwise(0).as("acd_ok"),
        when(col("__p50").between(col("__p45"), col("__p55")), 1).otherwise(0).as("p50_ok"))
      .orderBy("l_returnflag")
  }

  /** Exact quantiles (linear interpolation) per group — the exact twin
    * of q_sketch's approx_percentile: Spark's `percentile` buffers every
    * group value, so it is the SMALL-GROUP / verification path; at
    * 100 TB the one-pass bounded-memory sketch in q_sketch is the
    * production path, and this query is what certifies its error band.
    */
  /** Q-digest quantile sketch — the engine-owned mergeable quantile
    * aggregate ([[graft.functions.QdigestAgg]]): per returnflag, sketch
    * l_extendedprice (as cents) at k=4096 and verify the read-back
    * p50/p95 against the WORST-CASE guarantee |rank − q·n| ≤ (64/k)·n.
    * Unlike approx_percentile (q_sketch, Spark's built-in) the bound is
    * deterministic — it holds on every run, every merge order, every
    * partitioning — so the oracle pins literal 1s while recomputing n
    * exactly. State is O(k) per group regardless of cardinality: the
    * 100 TB path where `percentile` (q_median) buffers every value and
    * the exact MAD histogram (ev_mad) is value-domain-bounded.
    */
  def qQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.FunctionDefs
    val li = fanOut(Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        (col("l_extendedprice") * 100).cast("long").as("__cents")))
    // localCheckpoint: `sk` feeds BOTH the ranks probe and the final
    // join — without it the full-lineitem sketch aggregation runs twice
    // (three lineitem scans total); the frame is |groups| rows, so
    // materializing it is free
    val sk = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        FunctionDefs.callAgg("qdigest_agg", col("__cents"), lit(4096)).as("__sk"))
      .select(col("l_returnflag"), col("n"),
        expr("qdigest_quantile(__sk, 0.5d)").as("__e50"),
        expr("qdigest_quantile(__sk, 0.95d)").as("__e95"))
      .transform(Pins.once(_))
    // true ranks of the two estimates in one broadcast-probe pass —
    // the fact side never shuffles (the estimate table is |groups| rows)
    val ranks = li.join(broadcast(sk.select("l_returnflag", "__e50", "__e95")), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(sum(when(col("__cents") <= col("__e50"), 1L).otherwise(0L)).as("__le50"),
        sum(when(col("__cents") < col("__e50"), 1L).otherwise(0L)).as("__lt50"),
        sum(when(col("__cents") <= col("__e95"), 1L).otherwise(0L)).as("__le95"),
        sum(when(col("__cents") < col("__e95"), 1L).otherwise(0L)).as("__lt95"))
    // the answer's claimable rank interval (lt+1 .. le) must intersect
    // target ± (64/k)·n
    def ok(q: Double, le: String, lt: String): Column = {
      val target = greatest(ceil(lit(q) * col("n")), lit(1L)).cast("double")
      val bound = col("n") * (64.0 / 4096.0)
      when((target - col(le)) <= bound && (target - col(lt) - 1) >= -bound, 1)
        .otherwise(0)
    }
    sk.join(broadcast(ranks), "l_returnflag")
      .select(col("l_returnflag"), col("n"),
        ok(0.5, "__le50", "__lt50").as("q50_ok"),
        ok(0.95, "__le95", "__lt95").as("q95_ok"))
      .orderBy("l_returnflag")
  }

  def qMedian(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("__p50"),
        expr("percentile(l_quantity, 0.9)").as("__p90"),
        expr("percentile(l_extendedprice, 0.5)").as("__pp50"))
      .select(col("l_returnflag"),
        round(col("__p50"), 4).as("qty_p50"),
        round(col("__p90"), 4).as("qty_p90"),
        round(col("__pp50"), 4).as("price_p50"))
      .orderBy("l_returnflag")

  /** Hourly tumbling-window event aggregate — the shared batch/stream
    * transformation ([[graft.streaming.EventAggs]]); the oracle verifies
    * the same logic the streaming path runs behind a watermark.
    */
  def evWindow(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventAggs.hourly(Tables.events(s, dir))
      .orderBy("hour_start", "event_type")

  /** Sessionization (30-min inactivity gap) through the SAME
    * flatMapGroupsWithState function the streaming path uses
    * ([[graft.streaming.Sessionize]]), run in batch mode; the oracle
    * recomputes it with a window-lag formulation. One shuffle on user_id.
    */
  def evSessions(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Sessionize(Tables.events(s, dir)).toDF()
      .orderBy("user_id")

  /** Stream-static enrichment through the SAME function the streaming
    * path uses ([[graft.streaming.Enrich]]), run in batch mode: events
    * join the broadcast customer dimension, counts per market segment.
    */
  def evEnrich(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    graft.streaming.Enrich.perSegment(Tables.events(s, dir), c, "user_id", "c_mktsegment")
      .orderBy("c_mktsegment")
  }

  /** Batch-mode CORRECTNESS twin of the streaming exact dedup
    * ([[graft.streaming.StreamDedup.exactBatch]] — same content-hash key
    * as `Dedup.exact`, keep-first-by-arrival): the oracle replays it as a
    * row_number-over-(ts, id) SQL.
    */
  def evDedup(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamDedup.exactBatch(
        Tables.events(s, dir), "props", "ts", "event_id")
      .orderBy("survivor_id")

  /** Stream-stream event-time interval join through the SAME function
    * the streaming path uses ([[graft.streaming.StreamJoin]]), run in
    * batch mode: each click correlated with the same user's purchases
    * within the following hour. The oracle replays the interval
    * self-join directly.
    */
  def evFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    graft.streaming.StreamJoin.correlate(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase"),
        "user_id", "event_id", "ts", horizonSec = 3600L)
      .select(col("key").as("user_id"),
        col("trigger_id").as("click_id"), col("follow_id").as("purchase_id"),
        (unix_timestamp(col("follow_ts")) - unix_timestamp(col("trigger_ts"))).as("lag_s"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** Count-min-sketch heavy hitters over the event stream: ONE pass of
    * the `cms_agg` aggregate (4×256 counters; each input partition
    * reduces to a single 8 KB counter array before the shuffle — at
    * 100 TB the shuffle is KBs per partition where an exact
    * `groupBy(user_id)` would move one row per distinct user), then the
    * top-20 users by exact count get their sketch estimate looked up
    * scan-side from the collected sketch literal. The exact counts are
    * the verification twin; `over_ok` asserts the CMS one-sided error
    * bound (estimates never underestimate). The hash rows are fixed
    * public affine functions, so the oracle rebuilds the IDENTICAL
    * sketch in SQL and replays every estimate bucket-for-bucket.
    */
  def evHeavy(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.CmsAgg.{A, B}
    val depth = 4
    val width = 256
    val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
    // one aggregate row: depth·width longs — trivially driver-safe
    val sketch: Seq[Long] = ev
      .agg(graft.functions.FunctionDefs.callAgg(
        "cms_agg", col("user_id"), lit(depth), lit(width)).as("sk"))
      .collect()(0).getSeq[Long](0)
    val skLit = typedlit(sketch)
    val est = least((0 until depth).map { d =>
      element_at(skLit,
        (lit(d.toLong * width + 1L) +
          (col("user_id") * A(d) + B(d)) % width).cast("int"))
    }: _*)
    ev.groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("user_id"))
      .limit(20)
      .withColumn("cms_est", est)
      .withColumn("over_ok", when(col("cms_est") >= col("cnt"), 1).otherwise(0))
      .orderBy(col("cnt").desc, col("user_id"))
  }

  /** Cohort retention analysis — the classic event-analytics matrix:
    * users bucketed by their FIRST active day (integer day index,
    * floor(epoch/86400) — pure arithmetic on both engines, no
    * calendar-truncation semantics to disagree on), and for each cohort
    * the count of users active k days later (k ≤ 14). Shapes: distinct
    * (user, day) reduces map-side before any join; the first-day
    * aggregate and the re-join are co-partitioned equi-joins on
    * user_id; the final (cohort, k) count is a partial aggregate. No
    * window anywhere.
    */
  def evRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val uw = ev
      .select(col("user_id"),
        floor(unix_timestamp(col("ts")) / 86400L).cast("long").as("w"))
      .distinct()
    val first = uw.groupBy("user_id").agg(min("w").as("w0"))
    uw.join(first, "user_id")
      .select(col("w0").as("cohort_day"), (col("w") - col("w0")).as("k"))
      .filter(col("k") <= 14)
      .groupBy("cohort_day", "k").agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "k")
  }

  /** Interval join through the cell-bucketed RangeJoin (equi-join on
    * cells, never a nested loop): orders priced inside deterministic
    * per-supplier price bands, counted per band. The oracle replays the
    * BETWEEN join directly.
    */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val bands = Tables.supplier(s, dir).select(
      col("s_suppkey"),
      ((col("s_suppkey") % 50) * 4000.0).as("lo"),
      ((col("s_suppkey") % 50) * 4000.0 + 6000.0).as("hi"))
    val pts = Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
    graft.ops.RangeJoin.pointInInterval(pts, "o_totalprice", bands, "lo", "hi", cellWidth = 4000.0)
      .groupBy("s_suppkey").agg(count(lit(1)).as("n_orders"))
      .orderBy("s_suppkey")
  }

  // One bucketed-layout write, a query [[fixture]]: the layout is the
  // write-once-read-many warehouse artifact, so only the first call pays
  // the write; every later call (bench iterations 2..n, and every real
  // recurring join) reads the catalog tables shuffle-free. The tables
  // live in the session warehouse; the fixture holds their names.
  /** End-to-end value check of the bucketed co-located layout
    * ([[graft.sources.BucketedLayout]]): write orders and customer
    * bucketed+sorted by custkey, join the CATALOG tables (the join is
    * Exchange-free — asserted by BucketedLayoutSpec; this entry verifies
    * the data half: the bucket files + catalog metadata round-trip every
    * row), aggregate revenue per market segment. Oracle replays the join
    * on the raw parquet.
    */
  def qBucketed(s: SparkSession, dir: String): DataFrame = {
    val (oTbl, cTbl) = fixture("q_bucketed", dir) { _ =>
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      val o = s"graft_bkt_orders_$tag"
      val c = s"graft_bkt_customer_$tag"
      graft.sources.BucketedLayout.writeBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
        o, "o_custkey", 8)
      graft.sources.BucketedLayout.writeBucketed(
        Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
        c, "c_custkey", 8)
      (o, c)
    }
    graft.sources.BucketedLayout.read(s, oTbl)
      .join(graft.sources.BucketedLayout.read(s, cTbl), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        sum(cents(col("o_totalprice")).cast("decimal(38,0)")).as("__rev_c"),
        count(lit(1)).as("n_orders"))
      .select(
        col("c_mktsegment"),
        (col("__rev_c") / 100.0).cast("double").as("revenue"),
        col("n_orders"))
      .orderBy("c_mktsegment")
  }

  /** Single-pass data profiling (the ANALYZE-TABLE surface): per-column
    * n / nulls / exact distinct / min / max / sum / mean / sample-stddev
    * for the lineitem measures, computed in ONE aggregate over ONE scan
    * — never a per-column job loop. Moments accumulate as exact integer
    * cents (sum as decimal(38,0), sum-of-squares in cents² — headroom
    * to ~1e38 covers 1e9+ rows at warehouse scale), so the profile is
    * order-independent and engine-replayable; the only float ops are the
    * final divisions/sqrt on exact integers, mirrored op-for-op in the
    * oracle. The multi-column count-distincts plan via Catalyst's
    * expand — still one shuffle, partial-agg friendly. The wide
    * one-row aggregate is unpivoted to long form scan-free.
    */
  def qProfile(s: SparkSession, dir: String): DataFrame = {
    val colsP = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = colsP.flatMap { c =>
      val cc = cents(col(c))
      Seq(
        count(col(c)).as(s"${c}__n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nnull"),
        countDistinct(col(c)).as(s"${c}__nd"),
        min(col(c)).as(s"${c}__min"),
        max(col(c)).as(s"${c}__max"),
        sum(cc.cast("decimal(38,0)")).as(s"${c}__sum_c"),
        sum((cc * cc).cast("decimal(38,0)")).as(s"${c}__sumsq_c"))
    }
    // A single-row-group input (small-SF single-file parquet) collapses
    // the scan to one task, and the Expand×(k+1) pipeline is CPU-bound —
    // fan the narrow 4-column projection out to the session's
    // parallelism when the scan yields fewer splits than cores. A no-op
    // on real multi-file warehouse layouts, where splits >> cores.
    val l0 = Tables.lineitem(s, dir).select(colsP.map(col): _*)
    val l = if (l0.rdd.getNumPartitions < s.sparkContext.defaultParallelism)
      l0.repartition(s.sparkContext.defaultParallelism) else l0
    val wide = l.agg(aggs.head, aggs.tail: _*)
    val rows = colsP.map { c =>
      struct(
        lit(c).as("col_name"),
        col(s"${c}__n").as("n_rows"),
        col(s"${c}__nnull").cast("long").as("n_null"),
        col(s"${c}__nd").as("n_distinct"),
        round(col(s"${c}__min"), 4).as("min_v"),
        round(col(s"${c}__max"), 4).as("max_v"),
        (col(s"${c}__sum_c").cast("double") / 100.0).as("sum_v"),
        round(col(s"${c}__sum_c").cast("double") / 100.0 / col(s"${c}__n"), 6)
          .as("mean_v"),
        // sample stddev from the exact integer moments: the numerator
        // n·Σx² − (Σx)² is computed in exact decimal, converted to
        // double ONCE, then one division and one sqrt — both engines
        // run the identical IEEE sequence
        round(
          sqrt((col(s"${c}__n").cast("decimal(38,0)") * col(s"${c}__sumsq_c") -
                col(s"${c}__sum_c") * col(s"${c}__sum_c")).cast("double") /
               (col(s"${c}__n").cast("double") * (col(s"${c}__n") - 1).cast("double")) /
               10000.0), 6).as("std_v"))
    }
    wide.select(explode(array(rows: _*)).as("r")).select("r.*")
      .orderBy("col_name")
  }

  /** Snapshot diff (the CDC / incremental-corpus-update primitive):
    * classify every key as added / removed / changed between two table
    * versions, dropping the unchanged majority. Versions are derived
    * deterministically from orders (v1 drops keys ≡7 mod 10; v2 drops
    * keys ≡3 mod 10 and bumps the price of keys ≡0 mod 5 by exactly
    * 100 cents — integer-cents arithmetic, no float rounding to
    * diverge on). Row content is compared via md5 over a canonical
    * "cents|status" string, so the wide payload never crosses the
    * shuffle — only (key, 32-byte digest) does. Shape: one full outer
    * shuffle join co-partitioned on the unique key — at 100 TB both
    * snapshots hash-partition once and stream; no skew (keys unique),
    * no broadcast needed, output ∝ churn not table size.
    */
  def qDiff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    def hashed(df: DataFrame) = df.select(col("o_orderkey"),
      md5(concat_ws("|", col("__cents").cast("string"), col("o_orderstatus")))
        .as("row_hash"))
    val v1 = hashed(o.filter(col("o_orderkey") % 10 =!= 7)
      .withColumn("__cents", cents(col("o_totalprice"))))
    val v2 = hashed(o.filter(col("o_orderkey") % 10 =!= 3)
      .withColumn("__cents",
        cents(col("o_totalprice")) +
          when(col("o_orderkey") % 5 === 0, 100L).otherwise(0L)))
    v1.as("a").join(v2.as("b"), Seq("o_orderkey"), "full_outer")
      .select(col("o_orderkey"),
        when(col("a.row_hash").isNull, "added")
          .when(col("b.row_hash").isNull, "removed")
          .when(col("a.row_hash") =!= col("b.row_hash"), "changed")
          .as("change"))
      .filter(col("change").isNotNull)
      .orderBy("change", "o_orderkey")
  }

  /** Per-key anomaly detection over the event stream: daily event-type
    * counts, z-scored against that type's own day-count distribution,
    * flagging |z| > 2 days. All moments are exact integers (counts;
    * n·Σc² − (Σc)² in longs), floats appear only in the final mirrored
    * division/sqrt. Shape: partial-agg groupBy(type, day) bounds the
    * first shuffle at |types|·|days| rows; the per-type stats table is
    * tiny and broadcasts back — the raw stream is never windowed or
    * re-shuffled. Degenerate strata (n_days < 2 or zero variance)
    * produce no flags by construction. The transformation lives in
    * [[graft.streaming.Anomaly]], shared with the streaming twin
    * (StreamingSpec: streamed daily moments == this batch path).
    */
  def evAnomaly(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Anomaly.flags(
        graft.streaming.Anomaly.dailyCounts(Tables.events(s, dir)))
      .orderBy("event_type", "day_start")

  /** Dynamic partition pruning over a month-partitioned orders layout
    * ([[graft.sources.PartitionedLayout]]): the fact table is written
    * Hive-partitioned by order month; the query joins it to a FILTERED
    * month dimension (Q1-1995). Catalyst injects the dim's surviving
    * keys into the fact scan as a runtime `dynamicpruning` subquery
    * (broadcast-reuse), so only the three matching month directories
    * are ever read — at 100 TB, a quarter filter skips years of fact
    * data with no user annotation. PlanShapeSpec pins the
    * `dynamicpruning` PartitionFilter; this entry certifies the values.
    */
  def srcDpp(s: SparkSession, dir: String): DataFrame = {
    val path = fixture("src_dpp", dir) { f =>
      val p = f + "/orders_by_month"
      graft.sources.PartitionedLayout.writeByKey(
        Tables.orders(s, dir)
          .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM")),
        p, "o_month")
      p
    }
    val fact = graft.sources.PartitionedLayout.read(s, path)
    val dim = graft.sources.PartitionedLayout.read(s, path)
      .select("o_month").distinct()
      .filter(col("o_month") >= "1995-01" && col("o_month") <= "1995-03")
    fact.join(broadcast(dim), "o_month")
      .groupBy("o_month")
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice")).cast("decimal(38,0)")).as("__rev_c"))
      .select(col("o_month"), col("n_orders"),
        (col("__rev_c") / 100.0).cast("double").as("revenue"))
      .orderBy("o_month")
  }

  /** Data-quality constraint suite (the Deequ/Great-Expectations
    * surface): completeness, range, positivity and set-membership rules
    * evaluate as conditional counters in ONE aggregate over ONE scan;
    * key uniqueness rides the same pass as a count-vs-exact-distinct
    * pair; referential integrity is one anti-join against the parent
    * keys (shuffle on the key — the unavoidable shape; at 100 TB the
    * parent side reduces to distinct keys first). Output is one row
    * per rule: (rule, n_violations, pass) — a driver-sized report.
    */
  def qDq(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val rowRules = l.agg(
      sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("v_null_qty"),
      sum(when(col("l_discount") < 0.0 || col("l_discount") > 0.08, 1L)
        .otherwise(0L)).as("v_discount_range"),
      sum(when(col("l_extendedprice") <= 0.0, 1L).otherwise(0L)).as("v_nonpos_price"),
      sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L))
        .as("v_flag_domain"),
      count(lit(1)).as("__n"),
      countDistinct(col("l_orderkey"), col("l_linenumber")).as("__nd"))
    val orphans = l.select(col("l_orderkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v_orphan"))
    val wide = rowRules.crossJoin(orphans)
    def rule(name: String, viol: Column) =
      wide.select(lit(name).as("rule"), viol.cast("long").as("n_violations"),
        when(viol === 0, 1).otherwise(0).as("pass"))
    rule("complete_quantity", col("v_null_qty"))
      .unionByName(rule("discount_in_0_008", col("v_discount_range")))
      .unionByName(rule("positive_price", col("v_nonpos_price")))
      .unionByName(rule("returnflag_domain", col("v_flag_domain")))
      .unionByName(rule("unique_orderline", col("__n") - col("__nd")))
      .unionByName(rule("orders_ref_integrity", col("v_orphan")))
      .orderBy("rule")
  }

  /** The SCD2 observation stream shared by the dimension build and the
    * point-in-time probe: signup events set the user's plan tier (a
    * deterministic bucket of the payload's k field — the corpus has no
    * real attribute feed, so the tier IS the observation).
    */
  private def tierObs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "signup" &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        concat(lit("tier"),
          regexp_extract(col("props"), "([0-9]+)", 1).cast("int") % 4)
          .as("tier"))

  /** SCD Type-2 dimension build ([[graft.ops.Scd.buildType2]]): the
    * signup stream collapses to versioned (user, tier) rows with
    * contiguous [valid_from, valid_to) intervals — one key shuffle, two
    * window passes over the same sort. Interval bounds surface as epoch
    * micros so the oracle compares exact integers.
    */
  def qScd2(s: SparkSession, dir: String): DataFrame =
    graft.ops.Scd.buildType2(tierObs(s, dir), "user_id", "ts",
        Seq("tier"), "event_id")
      .select(col("user_id"), col("tier"),
        unix_micros(col("valid_from")).as("from_us"),
        unix_micros(col("valid_to")).as("to_us"),
        col("version"),
        col("is_current").cast("int").as("is_current"))
      .orderBy("user_id", "version")

  /** Point-in-time (as-of) fact resolution against the SCD2 dimension
    * ([[graft.ops.Scd.pointInTime]]): every purchase picks up the tier
    * version current at its timestamp; purchases before the user's
    * first signup keep null attributes (left semantics).
    */
  def qScd2Pit(s: SparkSession, dir: String): DataFrame = {
    val dim = graft.ops.Scd.buildType2(tierObs(s, dir), "user_id", "ts",
      Seq("tier"), "event_id")
    val purchases = Tables.events(s, dir)
      .filter(col("event_type") === "purchase" &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("value").as("revenue"))
    graft.ops.Scd.pointInTime(purchases, "ts", dim, "user_id", Seq("tier"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("revenue"),
        col("tier"), unix_micros(col("valid_from")).as("tier_since_us"))
      .orderBy("event_id")
  }

  /** Incremental SCD2 maintenance ([[graft.ops.Scd.applyIncrement]]):
    * the dimension is built from the first 20 days of signups, then the
    * remaining days fold in incrementally — broadcast key-set probe,
    * batch-sized rebuild, history never re-windowed. The oracle is the
    * FULL-stream rebuild (same SQL as q_scd2): incremental maintenance
    * must be invisible to results, bit for bit.
    */
  def qScd2Inc(s: SparkSession, dir: String): DataFrame = {
    val obs = tierObs(s, dir)
    val cut = lit("2024-01-21").cast("timestamp")
    val dim0 = graft.ops.Scd.buildType2(
      obs.filter(col("ts") < cut), "user_id", "ts", Seq("tier"), "event_id")
    graft.ops.Scd.applyIncrement(dim0,
        obs.filter(col("ts") >= cut), "user_id", "ts", Seq("tier"), "event_id")
      .select(col("user_id"), col("tier"),
        unix_micros(col("valid_from")).as("from_us"),
        unix_micros(col("valid_to")).as("to_us"),
        col("version"),
        col("is_current").cast("int").as("is_current"))
      .orderBy("user_id", "version")
  }

  /** Marketing-style attribution over the event stream: each purchase
    * credits its user's most recent preceding touch (last-touch: click
    * or view, as-of semantics) and the user's first touch ever
    * (first-touch: one tiny per-user aggregate, broadcast back).
    * Channels derive deterministically from the touch payload. Revenue
    * rolls up per (model, channel) — exact integer cents.
    *
    * Shape at 100 TB: last-touch is the union-window as-of (one key
    * shuffle); first-touch is a map-side min(struct) per user — no
    * window over the raw stream, no self-join.
    */
  def evAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val touches = ev
      .filter(col("event_type").isin("click", "view") && col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        concat(lit("ch"),
          regexp_extract(col("props"), "([0-9]+)", 1).cast("int") % 3)
          .as("channel"))
    val purchases = ev
      .filter(col("event_type") === "purchase" && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    // last-touch: latest touch at or before the purchase. As-of ties on
    // equal timestamps are unspecified in BOTH engines, so collapse to
    // one row per (user, ts) first (argmax by event_id) — determinism
    // by construction, mirrored in the oracle.
    val touchByTs = touches
      .groupBy(col("user_id"), col("ts").as("touch_ts"))
      .agg(max(struct(col("event_id"), col("channel"))).as("__t"))
      .select(col("user_id"), col("touch_ts"),
        col("__t.channel").as("channel"))
    val lastTouch = graft.ops.AsofJoin.asof(
      purchases, "ts", touchByTs, "touch_ts", Seq("user_id"))
    // first-touch: per-user argmin by (ts, event_id) — partial-agg min
    val firstTouch = touches
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"), col("channel")))
        .as("__f"))
      .select(col("user_id"), col("__f.channel").as("channel"))
    val cts = round(col("value") * 100).cast("long")
    val last = lastTouch
      .select(col("user_id"), coalesce(col("channel"), lit("none")).as("channel"), col("value"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"), sum(cts).as("__c"))
      .select(lit("last_touch").as("model"), col("channel"),
        col("n_purchases"), (col("__c") / 100.0).as("revenue"))
    val first = purchases
      .join(broadcast(firstTouch), Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("channel"), lit("none")).as("channel"), col("value"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"), sum(cts).as("__c"))
      .select(lit("first_touch").as("model"), col("channel"),
        col("n_purchases"), (col("__c") / 100.0).as("revenue"))
    last.unionByName(first).orderBy("model", "channel")
  }

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * classic warehouse cohorting op, built WITHOUT a global sort: the
    * per-user rollup is one partial-agg shuffle, the three quartile
    * cutpoint sets are ONE exact-percentile aggregate over the (already
    * user-sized) rollup, and segmenting is a broadcast of that 1-row
    * cutpoint frame back over the rollup — at 100 TB no ntile-style
    * single-partition window ever appears. The exact `percentile`
    * buffers the rollup's values (fine at user-table scale here and
    * what the oracle mirrors); at billions of users swap in
    * approx_percentile — the cutpoint-broadcast shape is unchanged.
    * Monetary sums in exact integer cents; recency in whole days
    * against the corpus max ts.
    * Quartile rule: q = 1 + (x > p25) + (x > p50) + (x > p75), mirrored
    * verbatim (percentile ↔ quantile_cont is the proven q_median pair).
    */
  def evRfm(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
    val per = e.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(col("ts")).as("__last"),
        count(lit(1)).as("frequency"),
        sum(round(col("value") * 100).cast("long")).as("__mc"))
    val ref = e.agg(max(col("ts")).as("__ref"))
    val rfm = per.crossJoin(broadcast(ref)).select(
      col("user_id"),
      // both micros positive and last ≤ ref: truncation == floor
      ((unix_micros(col("__ref")) - unix_micros(col("__last"))) / lit(86400000000L))
        .cast("long").as("recency_days"),
      col("frequency"),
      (col("__mc") / 100.0).as("monetary"))
    val cuts = rfm.agg(
      expr("percentile(recency_days, array(0.25, 0.5, 0.75))").as("__rc"),
      expr("percentile(frequency, array(0.25, 0.5, 0.75))").as("__fc"),
      expr("percentile(monetary, array(0.25, 0.5, 0.75))").as("__mcut"))
    def seg(x: Column, c: Column): Column =
      (lit(1) + (x > element_at(c, 1)).cast("int")
        + (x > element_at(c, 2)).cast("int")
        + (x > element_at(c, 3)).cast("int")).as("__s")
    rfm.crossJoin(broadcast(cuts)).select(
        col("user_id"), col("recency_days"), col("frequency"), col("monetary"),
        seg(col("recency_days"), col("__rc")).as("r_q"),
        seg(col("frequency"), col("__fc")).as("f_q"),
        seg(col("monetary"), col("__mcut")).as("m_q"))
      .orderBy("user_id")
  }

  /** Robust per-stratum outlier detection via MAD (median absolute
    * deviation): per event type, med = median(value), mad =
    * median(|value − med|), outlier ⇔ |value − med| > 3·1.4826·mad
    * (the Gaussian-consistent robust z-score — immune to the very
    * outliers a mean/stddev rule would absorb, the evAnomaly
    * complement).
    *
    * Shape (r9): ONE corpus scan builds the per-(type, value) count
    * HISTOGRAM — a plain map-side-combined groupBy, parallel in
    * |types|·|distinct values| — and the exact medians run over the
    * histogram through `percentile`'s FREQUENCY argument. Row-level
    * `percentile` internally accumulates exactly this value→count
    * buffer, so the histogram formulation is BIT-IDENTICAL (oracle
    * unchanged) while removing the old shape's cap of |types|
    * single-threaded reducers each hashing n/|types| rows (the 3.1×
    * decade row in SCALE_r09). localCheckpoint: three consumers (med,
    * mad, flags) of a frame that collapses the corpus ~50×.
    * [[graft.streaming.MadStream]] is the same histogram as streaming
    * state with a rounding-banded finishing pass.
    */
  def evMad(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(s, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .groupBy("event_type", "value")
      .agg(count(lit(1)).as("cnt"))
      .transform(Pins.once(_))
    val med = hist.groupBy("event_type")
      .agg(expr("percentile(value, 0.5, cnt)").as("med"))
    val dev = hist.join(broadcast(med), "event_type")
      .withColumn("absdev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(absdev, 0.5, cnt)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(sum(col("cnt")).as("n"),
        max(col("med")).as("__med"), max(col("mad")).as("__mad"),
        sum(when(col("absdev") > lit(3) * lit(1.4826) * col("mad"),
          col("cnt")).otherwise(lit(0L))).as("n_outliers"))
      .select(col("event_type"), col("n"),
        (round(col("__med"), 6) + lit(0.0)).as("med_r"),
        (round(col("__mad"), 6) + lit(0.0)).as("mad_r"),
        col("n_outliers"))
      .orderBy("event_type")
  }

  /** Event-time RANGE-frame rolling aggregate: per user, the trailing
    * 7-day purchase revenue and count at every purchase — the frame is
    * a TIME RANGE (all rows within 7 days), not a row count, so
    * burst-y users and quiet users get the same temporal semantics.
    * One key shuffle; the frame bound is per-row O(1) amortized (the
    * window slides forward). Revenue in exact integer cents; the frame
    * ordering key is epoch seconds on both engines.
    */
  def evRolling(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(s, dir)
      .filter(col("event_type") === "purchase" &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
        // whole-second frame key from exact integer micros (floor —
        // DuckDB's epoch()::BIGINT ROUNDS fractional seconds, so the
        // oracle uses the same micros floor-division spelling)
        expr("unix_micros(ts) div 1000000").as("__sec"),
        round(col("value") * 100).cast("long").as("__c"))
    val w = Window.partitionBy("user_id").orderBy(col("__sec"))
      .rangeBetween(-7L * 86400L, 0L)
    p.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        count(lit(1)).over(w).as("n_7d"),
        (sum(col("__c")).over(w) / 100.0).as("rev_7d"))
      .orderBy("event_id")
  }

  /** Explicit GROUPING SETS (the general form rollup/cube specialize):
    * three chosen granularities of the order aggregate — (status,
    * priority), (status), () — in ONE pass via Expand, with
    * grouping_id disambiguating the null-vs-missing-dimension cases.
    */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.createOrReplaceTempView("__gs_orders")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  cast(grouping(o_orderstatus) AS int) AS g_status,
        |  cast(grouping(o_orderpriority) AS int) AS g_prio,
        |  count(*) AS n_orders,
        |  sum(cast(round(o_totalprice * 100) AS bigint)) / 100.0D AS revenue
        |FROM __gs_orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin)
  }

  /** Incremental JOIN-view maintenance ([[graft.ops.Incremental
    * .refreshJoin]]): the orders⋈customer view refreshed with an order
    * delta AND a customer delta — V_old never recomputed, both delta
    * joins broadcast. The oracle is the full join over the complete
    * tables: maintenance must be invisible, row for row.
    */
  def qMvJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_custkey").as("custkey"), col("o_orderkey"),
      cents(col("o_totalprice")).as("__c"))
    val c = Tables.customer(s, dir).select(
      col("c_custkey").as("custkey"), col("c_mktsegment"))
    val aOld = o.filter(col("o_orderkey") % 10 =!= 4)
    val deltaA = o.filter(col("o_orderkey") % 10 === 4)
    val bOld = c.filter(col("custkey") % 20 =!= 3)
    val deltaB = c.filter(col("custkey") % 20 === 3)
    val viewOld = aOld.join(bOld, Seq("custkey"))
    graft.ops.Incremental.refreshJoin(
        viewOld, aOld, deltaA, bOld, deltaB, Seq("custkey"))
      .select(col("o_orderkey"), col("custkey"),
        col("c_mktsegment").as("segment"),
        (col("__c") / 100.0).as("revenue"))
      .orderBy("o_orderkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    q("q1_agg")(q1Agg),
    q("q3_shipping")(q3Shipping),
    q("q5_local_supplier")(q5LocalSupplier),
    q("q_window_topn")(qWindowTopN),
    q("q_semi_anti")(qSemiAnti),
    q("q_avg_filter")(qAvgFilter),
    q("q_date_buckets")(qDateBuckets),
    q("q_rollup")(qRollup),
    q("q_cube")(qCube),
    q("q_salted")(qSalted),
    q("q_mv_delta")(qMvDelta),
    q("q_bloom_join")(qBloomJoin),
    q("q_pivot")(qPivot),
    q("q_setops")(qSetOps),
    q("q_median")(qMedian),
    q("q_sketch")(qSketch),
    q("q_quantile_sketch")(qQuantileSketch),
    q("q_range_join")(qRangeJoin),
    q("q_bucketed")(qBucketed),
    q("ev_window")(evWindow),
    q("ev_sessions")(evSessions),
    q("ev_enrich")(evEnrich),
    q("ev_dedup")(evDedup),
    q("ev_funnel")(evFunnel),
    q("ev_heavy")(evHeavy),
    q("ev_retention")(evRetention),
    q("q_profile")(qProfile),
    q("q_diff")(qDiff),
    q("ev_anomaly")(evAnomaly),
    q("src_dpp")(srcDpp),
    q("q_dq")(qDq),
    q("q_scd2")(qScd2),
    q("q_scd2_pit")(qScd2Pit),
    q("q_scd2_inc")(qScd2Inc),
    q("ev_attribution")(evAttribution),
    q("ev_rfm")(evRfm),
    q("ev_mad")(evMad),
    q("ev_rolling")(evRolling),
    q("q_grouping_sets")(qGroupingSets),
    q("q_mv_join")(qMvJoin)
  )

  /** The SCD2 dimension expressed in SQL, shared by both oracle entries:
    * identical change-collapse and interval windows over the identical
    * (ts, event_id) sort.
    */
  private val scd2DimSql =
    """obs AS (
      |  SELECT user_id, ts, event_id,
      |    'tier' || (regexp_extract(props, '([0-9]+)', 1)::INT % 4) AS tier
      |  FROM events
      |  WHERE event_type = 'signup' AND user_id IS NOT NULL AND ts IS NOT NULL),
      |ch AS (
      |  SELECT user_id, ts, event_id, tier,
      |    lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM obs),
      |surv AS (
      |  SELECT user_id, ts, event_id, tier FROM ch
      |  WHERE prev IS NULL OR prev <> tier),
      |dim AS (
      |  SELECT user_id, tier, ts AS valid_from,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
      |  FROM surv)""".stripMargin

  /** The CMS rebuilt in SQL from the SAME `CmsAgg.A`/`CmsAgg.B` affine
    * hash constants the aggregate uses (single source of truth, like the
    * langid oracle): bucket sums per hash row over the exact per-key
    * counts equal the sketch counters exactly, and each top-key estimate
    * is the min over its depth buckets.
    */
  private val evHeavyOracle: String = {
    val rows = (0 until 4).map(d =>
      s"(${d}, ${graft.functions.CmsAgg.A(d)}, ${graft.functions.CmsAgg.B(d)})").mkString(", ")
    s"""WITH c AS (SELECT user_id, count(*) AS cnt FROM events
       |           WHERE user_id IS NOT NULL GROUP BY 1),
       |hh AS (SELECT user_id, cnt FROM c ORDER BY cnt DESC, user_id LIMIT 20),
       |hashes(d, a, b) AS (VALUES $rows),
       |buckets AS (
       |  SELECT hashes.d, (c.user_id * hashes.a + hashes.b) % 256 AS bucket,
       |         sum(c.cnt)::BIGINT AS bsum
       |  FROM c CROSS JOIN hashes GROUP BY 1, 2),
       |est AS (
       |  SELECT hh.user_id, min(b.bsum) AS cms_est
       |  FROM hh CROSS JOIN hashes
       |  JOIN buckets b ON b.d = hashes.d
       |    AND b.bucket = (hh.user_id * hashes.a + hashes.b) % 256
       |  GROUP BY 1)
       |SELECT hh.user_id, hh.cnt, est.cms_est,
       |  CASE WHEN est.cms_est >= hh.cnt THEN 1 ELSE 0 END AS over_ok
       |FROM hh JOIN est USING (user_id) ORDER BY cnt DESC, user_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_scd2" ->
      s"""WITH $scd2DimSql
         |SELECT user_id, tier,
         |  epoch_us(valid_from) AS from_us,
         |  epoch_us(valid_to) AS to_us,
         |  version::INT AS version,
         |  CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
         |FROM dim ORDER BY user_id, version""".stripMargin,
    // incremental maintenance must equal the full-stream rebuild bit
    // for bit — the oracle IS the q_scd2 oracle
    "q_scd2_inc" ->
      s"""WITH $scd2DimSql
         |SELECT user_id, tier,
         |  epoch_us(valid_from) AS from_us,
         |  epoch_us(valid_to) AS to_us,
         |  version::INT AS version,
         |  CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
         |FROM dim ORDER BY user_id, version""".stripMargin,
    // DuckDB's native ASOF resolves the point-in-time lookup the engine
    // runs as the union-window as-of — inclusive on equal timestamps,
    // left semantics for pre-first-version purchases, both matching.
    // The dim collapses to the HIGHEST version per (user, valid_from)
    // BEFORE the ASOF, mirroring pointInTime's same-instant treatment —
    // an ASOF tie among equal valid_from rows is otherwise unspecified
    // and would flake if the corpus ever grew same-microsecond signups
    "q_scd2_pit" ->
      s"""WITH $scd2DimSql,
         |dimc AS (
         |  SELECT user_id, tier, valid_from FROM dim
         |  QUALIFY row_number() OVER (
         |    PARTITION BY user_id, valid_from ORDER BY version DESC) = 1),
         |p AS (SELECT event_id, user_id, ts, value AS revenue FROM events
         |      WHERE event_type = 'purchase'
         |        AND user_id IS NOT NULL AND ts IS NOT NULL)
         |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.revenue,
         |  d.tier, epoch_us(d.valid_from) AS tier_since_us
         |FROM p ASOF LEFT JOIN dimc d
         |  ON p.user_id = d.user_id AND p.ts >= d.valid_from
         |ORDER BY p.event_id""".stripMargin,
    // refresh must be invisible: the oracle is the straight full join
    "q_mv_join" ->
      """SELECT o.o_orderkey, o.o_custkey AS custkey,
        |  c.c_mktsegment AS segment,
        |  round(o.o_totalprice * 100)::BIGINT / 100.0 AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    // identical RANGE frame over identical epoch-second ordering;
    // revenue summed in exact integer cents inside the frame
    "ev_rolling" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts, epoch_us(ts) // 1000000 AS sec,
        |    round(value * 100)::BIGINT AS c
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  count(*) OVER w AS n_7d,
        |  sum(c) OVER w / 100.0 AS rev_7d
        |FROM p
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // same three granularities; DuckDB GROUPING SETS + GROUPING()
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  grouping(o_orderstatus)::INT AS g_status,
        |  grouping(o_orderpriority)::INT AS g_prio,
        |  count(*)::BIGINT AS n_orders,
        |  sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin,
    // the identical two-stage median construction and the identical
    // unrounded decision rule (3 · 1.4826 · mad), rounded only on output
    "ev_mad" ->
      """WITH e AS (SELECT event_type, value FROM events
        |           WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |        FROM e GROUP BY 1),
        |dev AS (SELECT e.event_type, e.value, abs(e.value - med.med) AS absdev, med.med
        |        FROM e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(absdev, 0.5) AS mad
        |        FROM dev GROUP BY 1)
        |SELECT dev.event_type, count(*)::BIGINT AS n,
        |  round(max(dev.med), 6) + 0.0 AS med_r,
        |  round(max(mad.mad), 6) + 0.0 AS mad_r,
        |  sum((dev.absdev > 3 * 1.4826 * mad.mad)::BIGINT)::BIGINT AS n_outliers
        |FROM dev JOIN mad USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_rfm" ->
      """WITH e AS (SELECT * FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |per AS (
        |  SELECT user_id, max(ts) AS last_p, count(*)::BIGINT AS frequency,
        |    sum(round(value * 100)::BIGINT) AS mc
        |  FROM e WHERE event_type = 'purchase' GROUP BY 1),
        |ref AS (SELECT max(ts) AS ref_ts FROM e),
        |rfm AS (
        |  SELECT user_id,
        |    ((epoch_us(ref_ts) - epoch_us(last_p)) // 86400000000)::BIGINT AS recency_days,
        |    frequency, mc / 100.0 AS monetary
        |  FROM per, ref),
        |cuts AS (
        |  SELECT quantile_cont(recency_days, 0.25) AS r1, quantile_cont(recency_days, 0.5) AS r2,
        |    quantile_cont(recency_days, 0.75) AS r3,
        |    quantile_cont(frequency, 0.25) AS f1, quantile_cont(frequency, 0.5) AS f2,
        |    quantile_cont(frequency, 0.75) AS f3,
        |    quantile_cont(monetary, 0.25) AS m1, quantile_cont(monetary, 0.5) AS m2,
        |    quantile_cont(monetary, 0.75) AS m3
        |  FROM rfm)
        |SELECT user_id, recency_days, frequency, monetary,
        |  (1 + (recency_days > r1)::INT + (recency_days > r2)::INT + (recency_days > r3)::INT) AS r_q,
        |  (1 + (frequency > f1)::INT + (frequency > f2)::INT + (frequency > f3)::INT) AS f_q,
        |  (1 + (monetary > m1)::INT + (monetary > m2)::INT + (monetary > m3)::INT) AS m_q
        |FROM rfm, cuts ORDER BY user_id""".stripMargin,
    "ev_attribution" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id,
        |    'ch' || (regexp_extract(props, '([0-9]+)', 1)::INT % 3) AS channel
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IN ('click', 'view')),
        |tb AS (
        |  SELECT user_id, ts AS touch_ts, arg_max(channel, event_id) AS channel
        |  FROM t GROUP BY 1, 2),
        |p AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'
        |    AND user_id IS NOT NULL AND ts IS NOT NULL),
        |lt AS (
        |  SELECT p.value, coalesce(tb.channel, 'none') AS channel
        |  FROM p ASOF LEFT JOIN tb
        |    ON p.user_id = tb.user_id AND p.ts >= tb.touch_ts),
        |ft0 AS (
        |  SELECT user_id, channel,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM t),
        |ft AS (SELECT user_id, channel FROM ft0 WHERE rn = 1),
        |f AS (
        |  SELECT p.value, coalesce(ft.channel, 'none') AS channel
        |  FROM p LEFT JOIN ft USING (user_id))
        |SELECT 'last_touch' AS model, channel,
        |  count(*)::BIGINT AS n_purchases,
        |  sum(round(value * 100)::BIGINT) / 100.0 AS revenue
        |FROM lt GROUP BY 2
        |UNION ALL
        |SELECT 'first_touch', channel, count(*)::BIGINT,
        |  sum(round(value * 100)::BIGINT) / 100.0
        |FROM f GROUP BY 2
        |ORDER BY model, channel""".stripMargin,
    // pivot = conditional sums over exact integer cents
    "q_pivot" ->
      """SELECT l_linestatus,
        | coalesce(sum(CASE WHEN l_returnflag = 'A' THEN round(l_quantity*100)::BIGINT END), 0) / 100.0 AS qty_a,
        | coalesce(sum(CASE WHEN l_returnflag = 'N' THEN round(l_quantity*100)::BIGINT END), 0) / 100.0 AS qty_n,
        | coalesce(sum(CASE WHEN l_returnflag = 'R' THEN round(l_quantity*100)::BIGINT END), 0) / 100.0 AS qty_r
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_setops" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |     b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |SELECT o_custkey, 'both' AS setop
        |FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL
        |SELECT o_custkey, 'only_first' AS setop
        |FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |ORDER BY setop, o_custkey""".stripMargin,
    // both engines define the continuous quantile as lower+(upper-lower)
    // *frac at rank (n-1)*p over identical doubles
    "q_median" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.5), 4) AS qty_p50,
        | round(quantile_cont(l_quantity, 0.9), 4) AS qty_p90,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS price_p50
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // money/quantity math in exact integer cents / micro-units with
    // integer half-up rounding — the bit-identical twin of the Spark side
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(round(l_quantity*100)::BIGINT) / 100.0 AS sum_qty,
        | sum(round(l_extendedprice*100)::BIGINT) / 100.0 AS sum_base_price,
        | ((sum(round(l_extendedprice*100)::BIGINT * (10000 - round(l_discount*10000)::BIGINT)) + 5000) // 10000) / 100.0 AS sum_disc_price,
        | ((sum(round(l_quantity*100)::BIGINT) * 100 + count(*) // 2) // count(*)) / 10000.0 AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q_bucketed" ->
      """SELECT c_mktsegment,
        | sum(round(o_totalprice*100)::BIGINT) / 100.0 AS revenue,
        | count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q3_shipping" ->
      """SELECT l_orderkey,
        | ((sum(round(l_extendedprice*100)::BIGINT * (10000 - round(l_discount*10000)::BIGINT)) + 5000) // 10000) / 100.0 AS revenue,
        | o_orderdate
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        | ((sum(round(l_extendedprice*100)::BIGINT * (10000 - round(l_discount*10000)::BIGINT)) + 5000) // 10000) / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_semi_anti" ->
      """SELECT c_mktsegment,
        | count(*) FILTER (c_custkey IN (SELECT o_custkey FROM orders)) AS n_with_orders,
        | count(*) FILTER (c_custkey NOT IN
        |   (SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)) AS n_no_big_order
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_avg_filter" ->
      """SELECT p_partkey FROM part
        |JOIN (SELECT p_brand, avg(p_retailprice) AS brand_avg
        |      FROM part GROUP BY 1) USING (p_brand)
        |WHERE p_retailprice > brand_avg + 0.005
        |ORDER BY p_partkey""".stripMargin,
    "q_date_buckets" ->
      """SELECT epoch(date_trunc('month', o_orderdate))::BIGINT AS month_start,
        | count(*) AS n_orders, sum(round(o_totalprice*100)::BIGINT) / 100.0 AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(l_returnflag,'ALL') AS rf,
        | coalesce(l_linestatus,'ALL') AS ls, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(l_returnflag,'ALL') AS rf,
        | coalesce(l_linestatus,'ALL') AS ls, count(*) AS n,
        | sum(round(l_quantity*100)::BIGINT) / 100.0 AS qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_salted" ->
      """SELECT o_orderpriority, count(*) AS n,
        | ((sum(round(l_extendedprice*100)::BIGINT * (10000 - round(l_discount*10000)::BIGINT)) + 5000) // 10000) / 100.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_mv_delta" ->
      """SELECT o_orderpriority, count(*) AS n,
        | sum(round(o_totalprice*100)::BIGINT) / 100.0 AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bloom_join" ->
      """SELECT count(*) AS n,
        | ((sum(round(l_extendedprice*100)::BIGINT * (10000 - round(l_discount*10000)::BIGINT)) + 5000) // 10000) / 100.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |  AND o_orderdate >= TIMESTAMP '1997-07-01'""".stripMargin,
    "q_sketch" ->
      """SELECT l_returnflag, count(*) AS n,
        | count(DISTINCT l_suppkey) AS exact_distinct,
        | 1 AS acd_ok, 1 AS p50_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // the q-digest bound checks are literal 1s because the guarantee is
    // WORST-CASE (Shrivastava et al. 2004), not probabilistic — it holds
    // on every merge order; n is recomputed exactly
    "q_quantile_sketch" ->
      """SELECT l_returnflag, count(*) AS n, 1 AS q50_ok, 1 AS q95_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_window" ->
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_start,
        | event_type, count(*) AS n,
        | ((sum(round(value * 1000000.0)::BIGINT) + count(*) * 50) // (count(*) * 100)) / 10000.0 AS avg_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q_range_join" ->
      """SELECT s_suppkey, count(*) AS n_orders
        |FROM supplier JOIN orders
        |  ON o_totalprice BETWEEN (s_suppkey % 50) * 4000.0
        |                      AND (s_suppkey % 50) * 4000.0 + 6000.0
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    "ev_enrich" ->
      """SELECT c_mktsegment, count(*) AS n_events
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_sessions" ->
      """SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL
        |           OR epoch(ts) - epoch(prev_ts) > 1800.0 THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT user_id, ts,
        |          lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |        FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // keep-first-by-arrival: both engines hash the same UTF-8 bytes with
    // md5 and pick the row with min (ts, event_id) per digest
    "ev_funnel" ->
      """SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
        | (floor(epoch(b.ts)) - floor(epoch(a.ts)))::BIGINT AS lag_s
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |ORDER BY 1, 2, 3""".stripMargin,
    "ev_dedup" ->
      """WITH h AS (SELECT event_id, ts, md5(props) AS content_hash FROM events),
        |r AS (SELECT content_hash, event_id,
        |        row_number() OVER (PARTITION BY content_hash ORDER BY ts, event_id) AS rn,
        |        count(*) OVER (PARTITION BY content_hash) AS n_copies
        |      FROM h)
        |SELECT content_hash, event_id AS survivor_id, n_copies
        |FROM r WHERE rn = 1 ORDER BY survivor_id""".stripMargin,
    "ev_heavy" -> evHeavyOracle,
    // integer day arithmetic (floor(epoch/86400)) on both engines —
    // no calendar truncation semantics to disagree on
    "ev_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id, floor(epoch(ts) / 86400)::BIGINT AS w
        |            FROM events WHERE user_id IS NOT NULL),
        |f AS (SELECT user_id, min(w) AS w0 FROM uw GROUP BY 1)
        |SELECT f.w0 AS cohort_day, (uw.w - f.w0) AS k, count(*) AS n_users
        |FROM uw JOIN f USING (user_id)
        |WHERE uw.w - f.w0 <= 14
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // per-column exact moments on integer cents, unpivoted; the only
    // float ops (final divisions + sqrt) mirror the Spark side op-for-op
    "q_profile" -> {
      val one = (c: String) =>
        s"""SELECT '$c' AS col_name, count($c) AS n_rows,
           | sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
           | count(DISTINCT $c) AS n_distinct,
           | round(min($c), 4) AS min_v, round(max($c), 4) AS max_v,
           | sum(round($c*100)::BIGINT)::DOUBLE / 100.0 AS sum_v,
           | round(sum(round($c*100)::BIGINT)::DOUBLE / 100.0 / count($c), 6) AS mean_v,
           | round(sqrt(
           |   (count($c) * sum(round($c*100)::BIGINT * round($c*100)::BIGINT)
           |      - sum(round($c*100)::BIGINT) * sum(round($c*100)::BIGINT))::DOUBLE
           |   / (count($c)::DOUBLE * (count($c) - 1)::DOUBLE) / 10000.0), 6) AS std_v
           |FROM lineitem""".stripMargin
      Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    // the same two derived snapshots, diffed with the same canonical
    // "cents|status" md5 — output is the churn only
    "q_diff" ->
      """WITH v1 AS (SELECT o_orderkey,
        |    md5(round(o_totalprice*100)::BIGINT || '|' || o_orderstatus) AS h
        |  FROM orders WHERE o_orderkey % 10 <> 7),
        |v2 AS (SELECT o_orderkey,
        |    md5((round(o_totalprice*100)::BIGINT +
        |         CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END)
        |        || '|' || o_orderstatus) AS h
        |  FROM orders WHERE o_orderkey % 10 <> 3)
        |SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
        |  CASE WHEN v1.h IS NULL THEN 'added'
        |       WHEN v2.h IS NULL THEN 'removed'
        |       WHEN v1.h <> v2.h THEN 'changed' END AS change
        |FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
        |WHERE (CASE WHEN v1.h IS NULL THEN 'added'
        |            WHEN v2.h IS NULL THEN 'removed'
        |            WHEN v1.h <> v2.h THEN 'changed' END) IS NOT NULL
        |ORDER BY change, o_orderkey""".stripMargin,
    // daily counts z-scored per type from exact integer moments; the
    // mirrored float sequence is one conversion, two divisions, one sqrt
    "ev_anomaly" ->
      """WITH d AS (SELECT event_type,
        |    epoch(date_trunc('day', ts))::BIGINT AS day_start, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS n_days,
        |    sum(cnt)::BIGINT AS sum_c, sum(cnt::HUGEINT * cnt) AS sumsq_c
        |  FROM d GROUP BY 1),
        |j AS (SELECT d.*, st.n_days, st.sum_c,
        |    (st.n_days * st.sumsq_c - st.sum_c::HUGEINT * st.sum_c)::DOUBLE
        |      / (st.n_days::DOUBLE * (st.n_days - 1)::DOUBLE) AS var_s
        |  FROM d JOIN st USING (event_type)
        |  WHERE st.n_days > 1)
        |SELECT event_type, day_start, cnt,
        |  round((cnt::DOUBLE - sum_c::DOUBLE / n_days) / sqrt(var_s), 4) AS z
        |FROM j WHERE var_s > 0.0
        |  AND abs((cnt::DOUBLE - sum_c::DOUBLE / n_days) / sqrt(var_s)) > 2.0
        |ORDER BY event_type, day_start""".stripMargin,
    // one row per constraint, violations recomputed rule-for-rule
    "q_dq" ->
      """WITH r AS (SELECT
        |  sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_null_qty,
        |  sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.08 THEN 1 ELSE 0 END)::BIGINT AS v_discount_range,
        |  sum(CASE WHEN l_extendedprice <= 0.0 THEN 1 ELSE 0 END)::BIGINT AS v_nonpos_price,
        |  sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END)::BIGINT AS v_flag_domain,
        |  count(*) AS n,
        |  count(DISTINCT (l_orderkey, l_linenumber)) AS nd
        |  FROM lineitem),
        |o AS (SELECT count(*)::BIGINT AS v_orphan FROM lineitem
        |      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |w AS (SELECT * FROM r CROSS JOIN o)
        |SELECT rule, n_violations,
        |  CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS pass
        |FROM (
        |  SELECT 'complete_quantity' AS rule, v_null_qty AS n_violations FROM w
        |  UNION ALL SELECT 'discount_in_0_008', v_discount_range FROM w
        |  UNION ALL SELECT 'positive_price', v_nonpos_price FROM w
        |  UNION ALL SELECT 'returnflag_domain', v_flag_domain FROM w
        |  UNION ALL SELECT 'unique_orderline', n - nd FROM w
        |  UNION ALL SELECT 'orders_ref_integrity', v_orphan FROM w)
        |ORDER BY rule""".stripMargin,
    // the DPP-pruned quarter replayed as a static month filter
    "src_dpp" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        | count(*) AS n_orders,
        | sum(round(o_totalprice*100)::BIGINT) / 100.0 AS revenue
        |FROM orders
        |WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1995-01' AND '1995-03'
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
