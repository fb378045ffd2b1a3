package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of grouped aggregates — the materialized-
  * view refresh primitive. A nightly "metrics by key" table over a
  * 100 TB fact history must NOT rescan history per refresh: keep the
  * aggregate in sum-mergeable form (counts and sums — avg/stddev derive
  * from them at read time, the same algebraic-moments trick the
  * profiling and anomaly operators use), aggregate ONLY the delta, and
  * fold the two tables. Refresh cost is O(delta + |groups|),
  * independent of history size.
  */
object Incremental {

  /** Fold a maintained aggregate with a delta's partial aggregate.
    * Both frames must have identical schemas: `keys` plus sum-mergeable
    * value columns (every non-key column is summed). Groups new in the
    * delta appear; untouched groups pass through (sum with one input).
    * The fold shuffles |groups| + |delta groups| rows, never facts.
    */
  def refreshSums(maintained: DataFrame, deltaAgg: DataFrame,
                  keys: Seq[String]): DataFrame = {
    require(maintained.columns.sameElements(deltaAgg.columns),
      "maintained and delta aggregates must have identical schemas")
    val valueCols = maintained.columns.filterNot(keys.contains)
    require(valueCols.nonEmpty, "no value columns to fold")
    maintained.unionByName(deltaAgg)
      .groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(sum(col(valueCols.head)).as(valueCols.head),
        valueCols.tail.map(c => sum(col(c)).as(c)).toIndexedSeq: _*)
  }

  /** Incremental maintenance of an inner equi-JOIN view under
    * insert-only deltas — the other half of view maintenance (joins,
    * not aggregates). Algebra: (A∪ΔA) ⋈ (B∪ΔB) =
    * V_old ∪ (A_old ⋈ ΔB) ∪ (ΔA ⋈ B_new) — exact, each view row
    * produced exactly once.
    *
    * Scale shape: V_old is NEVER recomputed; the two delta joins
    * broadcast the (CDC-small) deltas, so refresh cost is two
    * one-scan-with-hash-probe passes over the base tables plus the
    * delta sizes — independent of the view's history, the same trade
    * as [[MergeInto]]. Updates/deletes route through
    * [[MergeInto.applyChanges]] on the bases first, then a key-scoped
    * rebuild (delete-and-reinsert of affected keys), the standard
    * DBToaster-style decomposition.
    *
    * The CDC-small contract is ENFORCED, not assumed: each delta is
    * counted (one partial-agg scan of the small side) and a delta over
    * `maxBroadcastRows` falls back to a plain shuffle join — a bulk
    * backfill degrades to shuffle cost instead of a driver OOM from an
    * unconditional broadcast. Both plans produce identical rows.
    */
  def refreshJoin(viewOld: DataFrame,
                  aOld: DataFrame, deltaA: DataFrame,
                  bOld: DataFrame, deltaB: DataFrame,
                  keys: Seq[String],
                  maxBroadcastRows: Long = 4000000L): DataFrame = {
    // each delta is checkpointed ONCE (CDC-small by contract, so the
    // blocks are bounded) and that same frame feeds every consumer —
    // the guard count, the broadcast-or-shuffle join AND bNew's union
    // term. A nondeterministic derived delta recomputed per consumer
    // could otherwise yield inconsistent rows between the union terms,
    // the very hazard the checkpoint exists to prevent.
    val dA = Pins.once(deltaA)
    val dB = Pins.once(deltaB)
    def small(d: DataFrame): DataFrame =
      if (d.count() <= maxBroadcastRows) broadcast(d) else d
    val bNew = bOld.unionByName(dB)
    viewOld
      .unionByName(aOld.join(small(dB), keys))
      .unionByName(small(dA).join(bNew, keys)
        .select(viewOld.columns.map(col).toIndexedSeq: _*))
  }
}
