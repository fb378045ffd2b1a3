package graft.functions

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.types.DataType

/** graft's SQL functions (ST_* and LLM-pipeline helpers), which
  * [[graft.GraftSparkExtensions]] injects, and the entry points that
  * register a user's own.
  *
  * Spark-native replacement for the reference's Hive
  * `CREATE OR REPLACE FUNCTION ... as 'com.azavea.hiveless...'` flow
  * (reference: spatial/sql/createUDFs.sql:1).
  */
object FunctionRegistration {

  /** (name, builder) for every graft SQL function. Names are
    * case-insensitive in Spark's registry.
    */
  def builders: Seq[(String, FunctionBuilder)] =
    FunctionDefs.defs.map { case (name, specs) =>
      name -> ((children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        GeomFn(name, specs, children))
    } ++ aggBuilders ++ exprBuilders

  /** Scalar expressions with their own Expression class (not a GeomFn
    * spec) — sketch readers and the like.
    */
  private def exprBuilders: Seq[(String, FunctionBuilder)] = Seq(
    "qdigest_quantile" -> ((children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 2, "qdigest_quantile(sketch, q)")
      QdigestQuantile(children(0), children(1))
    })
  )

  /** Aggregate functions (the analyzer wraps the returned
    * AggregateFunction). The reference ships its grouped convex hull
    * under the scalar's name via Hive's UDAF resolver; Spark resolves
    * scalar vs aggregate from the expression class, so the aggregate
    * gets its own name.
    */
  private def aggBuilders: Seq[(String, FunctionBuilder)] = Seq(
    "st_convexHullAggr" -> ((children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 1, "st_convexHullAggr takes exactly one geometry argument")
      ConvexHullAgg(children.head)
    }),
    "topk_by_score" -> ((children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 3, "topk_by_score(id, score, k)")
      TopKAgg(children(0), children(1), children(2))
    }),
    "topn_rows" -> ((children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 4, "topn_rows(id, payload, score, k)")
      TopNRowsAgg(children(0), children(1), children(2), children(3))
    }),
    "vec_sum" -> ((children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 1, "vec_sum(array<double>)")
      VectorSumAgg(children.head)
    }),
    "bloom_agg" -> ((children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 3, "bloom_agg(hash, numBits, numHashes)")
      BloomAgg(children(0), children(1), children(2))
    }),
    "cms_agg" -> ((children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 3, "cms_agg(key, depth, width)")
      CmsAgg(children(0), children(1), children(2))
    }),
    "kmv_agg" -> ((children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 2, "kmv_agg(hash, k)")
      KmvAgg(children(0), children(1))
    }),
    // qdigest_agg(value, k): k trades state for the WORST-CASE rank
    // bound |rank − q·n| ≤ (64/k)·n — pick k = 64/ε for rank error
    // ε·n (k=4096 → 1.5625%, k=65536 → ~0.1%); state ≤ 3k nodes per
    // group regardless of n, merge-safe under any partitioning. See
    // [[Qdigest]] and SCALE_r12's comparison vs approx_percentile.
    "qdigest_agg" -> ((children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 2, "qdigest_agg(value, k)")
      QdigestAgg(children(0), children(1))
    }),
    "vec_outer_sum" -> ((children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.size == 1, "vec_outer_sum(array<double>)")
      VectorOuterSumAgg(children.head)
    })
  )

  /** Register a user-typed scalar SQL function in ~one line — the
    * reference core's HUDF extensibility story (a third party adds a
    * typed function without editing this library;
    * core/src/main/scala/com/azavea/hiveless/HUDF.scala:1), Spark-first:
    * the function becomes the SAME native [[GeomFn]] Catalyst expression
    * the built-ins use — interpreted eval through a cached MethodHandle,
    * whole-stage codegen via a direct static call — and is callable from
    * SQL (`SELECT my_fn(col)`) and as a Column
    * ([[FunctionDefs.call]](name, cols…)).
    *
    * `implClass.method` must be a PUBLIC STATIC method (a top-level
    * Scala `object`'s methods qualify via their static forwarders)
    * whose JVM signature matches the Catalyst INTERNAL representation
    * of the declared types: primitives for numeric/boolean types,
    * `UTF8String` for StringType, `ArrayData` for arrays, `byte[]` for
    * BinaryType, JTS `Geometry` for the geometry UDT. A null return is
    * SQL NULL for reference types; set `boxed = true` for methods
    * returning a boxed primitive where JVM null means SQL NULL. Inputs
    * are null-rejecting (any SQL NULL argument → NULL result, the
    * built-ins' contract).
    *
    * Calling again with the same name and a NEW input signature adds an
    * OVERLOAD (resolved from child types, like st_intersects); the same
    * signature again REPLACES the previous implementation (idempotent —
    * re-running a registration cell doesn't grow the overload list).
    * Built-in catalog names cannot be replaced, and the user registry is
    * JVM-global (shared across SparkSessions in the process).
    */
  /** Every built-in name (catalog scalars + aggregate/expression
    * builders), lowercase — the protection set user registration
    * checks (Spark's registry is case-insensitive).
    */
  private lazy val builtinNames: Set[String] =
    builders.map(_._1.toLowerCase).toSet

  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       implClass: String, method: String, returns: DataType,
                       accepts: Seq[DataType], boxed: Boolean = false): Unit = {
    require(!builtinNames.contains(name.toLowerCase),
      s"registerFunction: '$name' is a built-in graft function")
    // fail fast at registration, not first query: the method must exist
    GeomFn.handle(implClass, method, accepts.size)
    val spec = FnSpec(method, returns, accepts, boxed = boxed, implClass = implClass)
    FunctionDefs.addUser(name, spec)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        GeomFn(name, FunctionDefs.lookup(name), children),
      "scala_udf")
  }

  /** Register a user-defined AGGREGATE — the reference core's
    * GenericUDAFEvaluator extensibility
    * (core/HGenericUDAFEvaluator.scala:1), Spark-first: the user
    * supplies the (init, update, merge, finish) algebra as a
    * [[UserAggregateSpec]] and the engine wraps it in the same
    * [[org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate]]
    * machinery the built-in sketches use ([[QdigestAgg]] is the
    * template) — so a user aggregate gets map-side PARTIAL aggregation
    * and spill-safe serialized-buffer shuffle without writing Catalyst
    * code. Callable from SQL (`SELECT my_agg(x) FROM t GROUP BY k`) and
    * the DSL (`call_function("my_agg", col)`).
    *
    * Same registry contract as [[registerFunction]]: built-in names
    * are protected; re-registering a name replaces the previous
    * implementation (idempotent notebook cells); registration is
    * per-session (`createOrReplaceTempFunction`).
    *
    * UDTF parity (the reference's HGenericUDTF/HUDTF wrappers): Spark's
    * native idiom needs no registration machinery — return an
    * ArrayType (of structs for multi-column output) from a registered
    * scalar function and `explode`/`inline` it (`SELECT
    * inline(my_fn(col)) FROM t`); that is the lateral-view story
    * whole-stage codegen optimizes, and what every graft
    * array-returning built-in (st_z2CellCover, word_shingles,
    * winnow_fingerprints) already composes with.
    */
  def registerAggregate(spark: org.apache.spark.sql.SparkSession, name: String,
                        returns: DataType, accepts: Seq[DataType],
                        spec: UserAggregateSpec[_]): Unit = {
    require(!builtinNames.contains(name.toLowerCase),
      s"registerAggregate: '$name' is a built-in graft function")
    val anySpec = spec.asInstanceOf[UserAggregateSpec[Any]]
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        UserAgg(name, anySpec, returns, accepts, children),
      "scala_udf")
  }

  /** Register a user-defined TABLE function (generator) — the
    * reference core's GenericUDTF extensibility
    * (core/HGenericUDTF.scala:1, HUDTF.scala:1), EXECUTABLE rather
    * than idiom-only (the array-of-structs + explode composition the
    * [[registerAggregate]] scaladoc documents remains the
    * zero-machinery alternative): the user supplies the per-row
    * expansion as a [[UserGeneratorSpec]] and the engine wraps it in
    * its own [[org.apache.spark.sql.catalyst.expressions.Generator]],
    * so it runs under GenerateExec — the streamed lateral-view
    * operator `explode`/`inline` use — and is callable from SQL as
    * `SELECT my_gen(col) FROM t` or
    * `... LATERAL VIEW my_gen(col) g AS a, b`.
    *
    * `output` declares the generated columns (names + types); the
    * spec returns each row as a Row / Product / Seq in that order
    * (bare values for one-column schemas). Same registry contract as
    * [[registerFunction]]/[[registerAggregate]]: built-in names
    * protected, re-registration replaces, per-session temp function.
    */
  def registerGenerator(spark: org.apache.spark.sql.SparkSession, name: String,
                        output: org.apache.spark.sql.types.StructType,
                        accepts: Seq[DataType],
                        spec: UserGeneratorSpec): Unit = {
    require(!builtinNames.contains(name.toLowerCase),
      s"registerGenerator: '$name' is a built-in graft function")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        UserGenerator(name, spec, output, accepts, children),
      "scala_udf")
  }
}
