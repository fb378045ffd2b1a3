package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary learning (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units" —
  * public): start from characters, repeatedly merge the most frequent
  * adjacent symbol pair. The learned merge table IS the tokenizer
  * artifact a training pipeline ships.
  *
  * Distributed formulation: the corpus-sized work — word frequency
  * counting — happens ONCE (one shuffle over the exploded corpus);
  * every merge round then runs on the DISTINCT-WORD frequency table
  * (≪ corpus: ~10M rows for web-scale text), as one pair-explode +
  * partial-aggregated groupBy plus a 1-row argmax that is crossJoin-
  * broadcast back for the rewrite — the driver never holds data, and
  * corpus size only ever enters through the initial count.
  *
  * Symbol sequences travel as a single wrapped string
  * `␟c1␟␟c2␟…␟cn␟` (␟ = U+0001): applying a merge (a,b)→ab is then one
  * literal `replace(s, "␟a␟␟b␟", "␟ab␟")` — non-overlapping
  * left-to-right, exactly BPE's greedy application order, and identical
  * in Spark and any SQL oracle. Each round's table is cut from its
  * predecessor's lineage with an eager localCheckpoint (same reasoning
  * as [[Dedup.connectedComponents]] — the rewrite references the
  * previous round twice, so the plan would otherwise double per round).
  *
  * Ties on pair count break by (left, right) string order, so the
  * learned table is fully deterministic.
  */
object Bpe {

  private val SEP = "\u0001"

  /** `␟c1␟␟c2␟…␟cn␟` for a word column. */
  private def wrap(word: Column): Column =
    concat(lit(SEP), array_join(split(word, ""), SEP + SEP), lit(SEP))

  /** Symbols back out of the wrapped string. */
  private def unwrap(s: Column): Column =
    filter(split(s, SEP), x => x =!= "")

  /** Learn `nMerges` merges from whitespace words of `textCol`.
    * Returns (step, left_sym, right_sym, pair_count), one row per merge
    * in learning order.
    */
  def learn(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1, "nMerges must be >= 1")
    var w = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), wrap(col("word")).as("s"))
      .transform(Pins.once(_))
    val merges = (0 until nMerges).map { step =>
      val pairs = w
        .select(col("cnt"), unwrap(col("s")).as("l"))
        .filter(size(col("l")) >= 2)
        .select(col("cnt"), col("l"),
          explode(sequence(lit(0), size(col("l")) - 2)).as("i"))
        .select(
          element_at(col("l"), col("i") + 1).as("left_sym"),
          element_at(col("l"), col("i") + 2).as("right_sym"),
          col("cnt"))
        .groupBy("left_sym", "right_sym").agg(sum("cnt").as("pair_count"))
      val best = pairs
        .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
        .limit(1)
        .select(lit(step).as("step"), col("left_sym"), col("right_sym"), col("pair_count"))
        .transform(Pins.once(_))
      w = w.crossJoin(broadcast(best.select("left_sym", "right_sym")))
        .select(col("cnt"),
          replace(col("s"),
            concat(lit(SEP), col("left_sym"), lit(SEP + SEP), col("right_sym"), lit(SEP)),
            concat(lit(SEP), col("left_sym"), col("right_sym"), lit(SEP))).as("s"))
        .transform(Pins.once(_))
      best
    }
    merges.reduce(_ union _)
  }

  /** Tokenize a word column with a learned merge list (applied in
    * learning order, each merge greedy left-to-right — standard BPE
    * application). Scan-side: `nMerges` chained literal replaces inside
    * codegen, no shuffle, no UDF.
    */
  def encode(word: Column, merges: Seq[(String, String)]): Column = {
    val applied = merges.foldLeft(wrap(word)) { case (s, (a, b)) =>
      replace(s, lit(SEP + a + SEP + SEP + b + SEP), lit(SEP + a + b + SEP))
    }
    unwrap(applied)
  }
}
