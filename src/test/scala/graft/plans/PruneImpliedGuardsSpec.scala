package graft.plans

import graft.{GraftSession, SparkEntry, SparkTestSession}
import org.apache.spark.sql.{BareSession, Column, DataFrame, SparkSession, functions}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GreaterThan, IsNotNull, PredicateHelper, Size}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Plan quality that holds under Spark's default optimizer confs: the
  * guards Spark infers over graft's expensive array and key producers
  * are pruned by [[PruneImpliedGuards]], while guards nothing above
  * implies, and guards whose rows an operator below the generator or
  * join could fail on, are kept.
  */
class PruneImpliedGuardsSpec extends AnyFunSuite with SparkTestSession with Matchers
    with PredicateHelper {

  /** Runs `body` with both optimizer confs that shape inferred filters,
    * and ANSI mode, set to Spark's defaults on `session`, then restores
    * what was there.
    */
  private def underSparkDefaults[T](session: SparkSession = spark)(body: => T): T =
    withConf(session,
      "spark.sql.optimizer.excludedRules" -> "",
      "spark.sql.constraintPropagation.enabled" -> "true",
      "spark.sql.ansi.enabled" -> "true")(body)

  /** Every `isnotnull(E)` / `size(E) > 0` filter conjunct over a
    * computed `E` in the optimized plan.
    */
  private def computedGuards(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case Filter(cond, _) => splitConjunctivePredicates(cond)
    }.flatten.filter {
      case IsNotNull(e) => !e.isInstanceOf[Attribute]
      case GreaterThan(Size(e, _), _) => !e.isInstanceOf[Attribute]
      case _ => false
    }

  private val expensive = Seq("word_shingles(", "split(", "ivf_assign(", "st_z2cell(")

  private def expensiveGuards(df: DataFrame): Seq[String] =
    computedGuards(df).map(_.toString).filter(g => expensive.exists(g.toLowerCase.contains))

  private val entries = Seq(
    "dd_jaccard_join", "dd_lsh_index_check", "dd_lsh_index_inc", "dd_minhash_recall",
    "dd_simhash_recall", "tx_fingerprint_stable", "ann_hybrid", "tx_bm25", "tx_perplexity",
    "tx_pmi", "ann_ivf", "ann_ivf_full", "ann_ivf_recall", "ann_ivfpq", "ann_ivfpq_full",
    "ann_ivfpq_recall", "sp_knn_join")

  private def noExpensiveGuards(session: SparkSession): Unit =
    underSparkDefaults(session) {
      for (q <- entries) {
        val guards = expensiveGuards(SparkEntry.queries(q)(session, sfDir))
        withClue(s"$q keeps guards over expensive expressions: ${guards.map(_.take(160))}\n") {
          guards shouldBe empty
        }
      }
    }

  test("production path: no guard over word_shingles, split, ivf_assign or st_z2Cell in the " +
    "entries whose inferred filters re-evaluate them") {
    noExpensiveGuards(spark)
  }

  test("enable path, where the rules run in the user-provided batch: the same entries keep " +
    "no such guard") {
    noExpensiveGuards(GraftSession.enable(BareSession(spark)))
  }

  // ---------------------------------------------------------- soundness

  /** ids 0..11: text is null, "" (an empty array after the filter
    * below) or a few words, cycling.
    */
  private lazy val docs: DataFrame = {
    val dir = scratch("graft-guards") + "/docs"
    spark.range(12).select(col("id"),
      when(col("id") % 3 === 0, lit(null).cast("string"))
        .when(col("id") % 3 === 1, lit(""))
        .otherwise(concat(lit("w"), col("id").cast("string"), lit(" v"))).as("text"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def words: Column = array_remove(split(col("text"), " "), "")
  private def keyLen: Column = functions.length(col("text"))

  /** Right side of the join cases: keys 0 (the empty texts), 3 and null. */
  private lazy val keys: DataFrame =
    spark.range(3).select(
      when(col("id") === 0, lit(0)).when(col("id") === 1, lit(3)).as("k"))

  private def ids(df: DataFrame): Set[Long] = df.select("id").collect().map(_.getLong(0)).toSet

  test("a non-outer explode over a computed alias drops the guard it implies; rows unchanged") {
    underSparkDefaults() {
      val df = docs.select(col("id"), words.as("a")).select(col("id"), explode(col("a")).as("w"))
      computedGuards(df) shouldBe empty
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet shouldBe
        (0L until 12L).filter(_ % 3 == 2).flatMap(i => Seq(i -> s"w$i", i -> "v")).toSet
    }
  }

  test("a user isNotNull over a computed alias stays when no generator is above it") {
    underSparkDefaults() {
      val df = docs.select(col("id"), words.as("a")).filter(col("a").isNotNull)
      computedGuards(df).map(_.toString).exists(_.startsWith("isnotnull(array_remove")) shouldBe true
      ids(df) shouldBe (0L until 12L).filter(_ % 3 != 0).toSet
    }
  }

  test("a user isNotNull under explode_outer stays: the outer generator keeps null rows") {
    underSparkDefaults() {
      val df = docs.select(col("id"), words.as("a")).filter(col("a").isNotNull)
        .select(col("id"), explode_outer(col("a")).as("w"))
      computedGuards(df).map(_.toString).exists(_.startsWith("isnotnull(array_remove")) shouldBe true
      ids(df) shouldBe (0L until 12L).filter(_ % 3 != 0).toSet
      df.filter(col("w").isNull).count() shouldBe 4 // the empty arrays, not the null ones
    }
  }

  test("a user isNotNull on a <=> join key stays: null-safe equality matches nulls") {
    underSparkDefaults() {
      val left = docs.select(col("id"), keyLen.as("a")).filter(col("a").isNotNull)
      val df = left.join(keys, left("a") <=> keys("k"))
      computedGuards(df).map(_.toString).exists(_.startsWith("isnotnull(length")) shouldBe true
      ids(df) shouldBe (0L until 12L).filter(_ % 3 == 1).toSet
    }
  }

  test("a user isNotNull on a left-anti join key stays: anti joins emit null keys") {
    underSparkDefaults() {
      val left = docs.select(col("id"), keyLen.as("a")).filter(col("a").isNotNull)
      val df = left.join(keys, left("a") === keys("k"), "left_anti")
      computedGuards(df).map(_.toString).exists(_.startsWith("isnotnull(length")) shouldBe true
      ids(df) shouldBe (0L until 12L).filter(_ % 3 == 2).toSet
    }
  }

  test("an inner equi-join on a computed alias drops the inferred guard; rows unchanged") {
    underSparkDefaults() {
      val left = docs.select(col("id"), keyLen.as("a"))
      val df = left.join(keys, left("a") === keys("k"))
      computedGuards(df) shouldBe empty
      ids(df) shouldBe (0L until 12L).filter(_ % 3 == 1).toSet
    }
  }

  // A guard stays when something between it and the generator or join
  // above would see the rows it removes: under ANSI `a[0]` fails on an
  // empty array, and a UDF that reads its argument fails on a null.

  private def wordsLen = functions.udf((a: Seq[String]) => a.size)

  test("a user size > 0 stays under a projection that indexes the array; explode above") {
    underSparkDefaults() {
      val df = docs.select(col("id"), words.as("a")).filter(functions.size(col("a")) > 0)
        .withColumn("f", col("a")(0))
        .select(col("id"), col("f"), explode(col("a")).as("w"))
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet shouldBe
        (0L until 12L).filter(_ % 3 == 2).flatMap(i => Seq((i, s"w$i", s"w$i"), (i, s"w$i", "v"))).toSet
      computedGuards(df).map(_.toString).exists(_.startsWith("(size(array_remove")) shouldBe true
    }
  }

  test("a user isNotNull stays under a projection that calls a UDF on the array; explode above") {
    underSparkDefaults() {
      val df = docs.select(col("id"), words.as("a")).filter(col("a").isNotNull)
        .withColumn("n", wordsLen(col("a")))
        .select(col("id"), col("n"), explode(col("a")).as("w"))
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet shouldBe
        (0L until 12L).filter(_ % 3 == 2).flatMap(i => Seq((i, 2, s"w$i"), (i, 2, "v"))).toSet
      computedGuards(df).map(_.toString).exists(_.startsWith("isnotnull(array_remove")) shouldBe true
    }
  }

  test("a user isNotNull on an inner-join key stays under a projection that calls a UDF on it") {
    underSparkDefaults() {
      // a UDF key: Spark cannot derive a guard on `text` from its guard
      val key = functions.udf((t: String) =>
        if (t == null || t.length == 4) null else Integer.valueOf(t.length)).apply(col("text"))
      val twice = functions.udf((n: java.lang.Integer) => n.intValue * 2)
      val left = docs.select(col("id"), key.as("a")).filter(col("a").isNotNull)
        .withColumn("g", twice(col("a")))
      // a shuffled join: `g` is computed for every row before the exchange
      // (a broadcast join computes it only for the rows that match)
      val df = left.join(keys.hint("merge"), left("a") === keys("k"))
      df.select("id", "g").collect().map(r => (r.getLong(0), r.getInt(1))).toSet shouldBe
        (0L until 12L).filter(_ % 3 == 1).map(_ -> 0).toSet
      computedGuards(df).map(_.toString).exists(_.startsWith("isnotnull(UDF(")) shouldBe true
    }
  }

  test("an implied guard stays when the same filter tests another computed value after it") {
    underSparkDefaults() {
      val df = docs.select(col("id"), words.as("a"))
        .filter(functions.size(col("a")) > 0 && col("a")(0) =!= "x")
        .select(col("id"), explode(col("a")).as("w"))
      ids(df) shouldBe (0L until 12L).filter(_ % 3 == 2).toSet
      computedGuards(df).map(_.toString).exists(_.startsWith("(size(array_remove")) shouldBe true
    }
  }
}
