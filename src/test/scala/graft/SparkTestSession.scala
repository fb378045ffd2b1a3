package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local session for specs. sf0.001 keeps suites fast. */
trait SparkTestSession extends BeforeAndAfterAll { self: Suite =>
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkTestSession.session

  /** A fresh directory whose name starts with `prefix`, under graft's
    * per-JVM scratch root (the one query fixtures live under), which
    * Spark deletes when the test JVM exits.
    */
  def scratch(prefix: String): String = graft.queries.scratchDir(prefix)

  override def afterAll(): Unit = super.afterAll()
}

object SparkTestSession {
  lazy val session: SparkSession = {
    // GraftSession.builder, so specs (PlanShapeSpec above all) certify
    // the plans of the production path Bench and Verify run on; only
    // the core count and app name differ.
    val s = GraftSession.builder("4")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
