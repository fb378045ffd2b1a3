package graft.tools

import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: builds an sf1-equivalent corpus
  * (10× sf0.1) inside the repo so scale measurements can run without
  * touching the read-only driver testdata.
  *
  * Each copy c ∈ [0, n) is a DISJOINT SHARD of the original with every
  * key offset by c·Stride (foreign keys offset consistently, fixed-size
  * dims nation/region passed through), shaped so similarity structure
  * scales the way a real corpus grows — linearly, not quadratically:
  *  - documents: every word in copy c > 0 is suffixed `~c`, so shingle
  *    vocabularies are disjoint across copies and near-dup pairs exist
  *    only within a copy (10× pairs, not 100×);
  *  - embeddings: copy c > 0 rotates each vector by 7c dimensions —
  *    within-copy geometry (norms, neighborhoods) is preserved exactly
  *    while cross-copy cosines decorrelate;
  *  - events keep their props distribution (duplicate payloads across
  *    copies — realistic for ingest dedup, linear group growth).
  * Copy 0 is the original byte-for-byte, so `vec_id < 5`-style query
  * anchors keep their meaning.
  */
object ScaleUp {

  val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dest = if (args.length > 1) args(1) else "/root/repo/localdata/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: comma-separated table subset (e.g. a 100× corpus
    // of just documents,embeddings for the dedup/ANN scaling decade,
    // without paying for 60M lineitem rows nothing there reads)
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    def wanted(t: String): Boolean = only.isEmpty || only.contains(t)
    val spark = graft.GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def copyUnion(table: String, outParts: Int)(xform: (DataFrame, Int) => DataFrame): Unit =
      if (wanted(table)) {
        val base = Parquet.read(spark, s"$src/$table.parquet")
        val out = (0 until copies).map(c => xform(base, c)).reduce(_ unionByName _)
        out.repartition(outParts).write.mode("overwrite").parquet(s"$dest/$table.parquet")
        println(s"[scaleup] $table -> ${copies}x")
      }
    def off(c: Int) = lit(c * Stride)

    // fixed-size dimensions pass through unchanged
    for (t <- Seq("nation", "region") if wanted(t))
      Parquet.read(spark, s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")

    copyUnion("customer", 8)((df, c) => df.withColumn("c_custkey", col("c_custkey") + off(c)))
    copyUnion("supplier", 2)((df, c) => df.withColumn("s_suppkey", col("s_suppkey") + off(c)))
    copyUnion("part", 4)((df, c) => df.withColumn("p_partkey", col("p_partkey") + off(c)))
    copyUnion("orders", 16)((df, c) => df
      .withColumn("o_orderkey", col("o_orderkey") + off(c))
      .withColumn("o_custkey", col("o_custkey") + off(c)))
    copyUnion("lineitem", 32)((df, c) => df
      .withColumn("l_orderkey", col("l_orderkey") + off(c))
      .withColumn("l_partkey", col("l_partkey") + off(c))
      .withColumn("l_suppkey", col("l_suppkey") + off(c)))
    // read through Tables.events so ts lands as a real µs TimestampType
    // (the raw nanos-long would make the sf1 parquet BIGINT for DuckDB)
    if (wanted("events")) {
      val base = graft.sources.Tables.events(spark, src)
      val out = (0 until copies).map(c => base
        .withColumn("event_id", col("event_id") + off(c))
        .withColumn("user_id", col("user_id") + off(c))).reduce(_ unionByName _)
      out.repartition(16).write.mode("overwrite").parquet(s"$dest/events.parquet")
      println(s"[scaleup] events -> ${copies}x")
    }
    copyUnion("documents", 16) { (df, c) =>
      val tagged =
        if (c == 0) df
        else df.withColumn("text",
          array_join(transform(split(col("text"), " "), w => concat(w, lit("~" + c))), " "))
      tagged.withColumn("doc_id", col("doc_id") + off(c))
    }
    copyUnion("embeddings", 8) { (df, c) =>
      val rotated =
        if (c == 0) df
        else {
          val dim = df.select(size(col("embedding"))).head().getInt(0)
          val shift = (7 * c) % dim
          df.withColumn("embedding",
            concat(slice(col("embedding"), shift + 1, dim - shift),
              slice(col("embedding"), 1, shift)))
        }
      rotated.withColumn("vec_id", col("vec_id") + off(c))
    }
    spark.stop()
  }
}
