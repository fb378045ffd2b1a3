package org.apache.spark.sql

/** A session on `spark`'s context and shared state with no extensions
  * at all, not even the ones `spark.sql.extensions` names: what a user
  * has before calling `GraftSession.enable`. The constructor that takes
  * the extensions is private to Spark, hence the reflection.
  */
object BareSession {
  def apply(spark: SparkSession): SparkSession = {
    val s = spark.asInstanceOf[classic.SparkSession]
    classOf[classic.SparkSession].getConstructors.find(_.getParameterCount == 6).get
      .newInstance(s.sparkContext, Some(s.sharedState), None, new SparkSessionExtensions,
        Map.empty, Map.empty)
      .asInstanceOf[SparkSession]
  }
}
