package graft

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.concurrent.Eventually._
import org.scalatest.matchers.should.Matchers._
import org.scalatest.time.SpanSugar._

/** Shared local session for specs. sf0.001 keeps suites fast. */
trait SparkTestSession extends BeforeAndAfterAll { self: Suite =>
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkTestSession.session

  /** A fresh directory whose name starts with `prefix`, under graft's
    * per-JVM scratch root (the one query fixtures live under), which
    * Spark deletes when the test JVM exits.
    */
  def scratch(prefix: String): String = graft.queries.scratchDir(prefix)

  /** Runs `body` with `confs` set on `session`, then restores what was
    * there.
    */
  def withConf[T](session: SparkSession, confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> session.conf.getOption(k) }
    confs.foreach { case (k, v) => session.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => session.conf.set(k, v)
      case (k, None) => session.conf.unset(k)
    }
  }

  /** Spark jobs `body` launches. A marker job runs last in the same job
    * group; status events are recorded in order, so once the marker
    * shows as done every earlier job is recorded too.
    */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "graft-jobs-" + java.util.UUID.randomUUID()
    sc.setJobGroup(group, "count jobs")
    val marker = try {
      body
      val f = sc.parallelize(Seq(1), 1).countAsync()
      f.get()
      f.jobIds.head
    } finally sc.clearJobGroup()
    val tracker = sc.statusTracker
    eventually(timeout(30.seconds)) {
      tracker.getJobInfo(marker).map(_.status) shouldBe Some(JobExecutionStatus.SUCCEEDED)
    }
    tracker.getJobIdsForGroup(group).count(_ != marker)
  }

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
