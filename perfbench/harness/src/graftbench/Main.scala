package graftbench

import graft.{GraftSession, SparkEntry}
import graft.functions.st
import graft.sources.SpatialLayout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark run in a fresh JVM: set the session up `--setups` times,
  * run the warm-up rounds of `--plan` untimed, then its timed rounds (a
  * round starts only while less than `--seconds` of op time is spent),
  * and with `--trace 1` one more round with a [[Tracer]] attached.
  *
  * Plan lines (tab-separated, written by run.py from the seed), each
  * led by its round: `w1`, `w2`, ... (warm-up), `1`, `2`, ... (timed),
  * `t` (traced):
  *   <round>  query  <SparkEntry name>
  *   <round>  ingest <points.parquet> <layout dir>
  *   <round>  window <xmin> <ymin> <xmax> <ymax> <layout dir>
  *
  * Every op writes its result to `<out>/ops/<op id>` (the output check
  * reads it after the JVM exits). Nothing is attached to the session
  * before the traced round.
  */
object Main {
  private val clock0Ns = System.nanoTime()
  private val clock0Ms = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = clock0Ms + (System.nanoTime() - clock0Ns) / 1e6

  final case class Op(id: String, line: Int, round: String, kind: String, args: Vector[String]) {
    def name: String = kind match {
      case "query" => args(0)
      case _       => kind
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = a("data")
    val out = new File(a("out"))
    val traced = a("trace") == "1"
    val budgetS = a("seconds").toDouble
    val setups = a("setups").toInt
    val cpus = a("cpus")
    val plan = Files.readAllLines(Paths.get(a("plan"))).asScala.toVector
      .filter(_.nonEmpty).zipWithIndex.map { case (l, i) =>
        val f = l.split("\t").toVector
        Op(f"${f(0)}-$i%04d", i, f(0), f(1), f.drop(2))
      }
    val rounds = plan.map(_.round).distinct
    val byRound = plan.groupBy(_.round)
    new File(out, "ops").mkdirs()

    // ---- set-up: build + enable + warm-up, `setups` times; the first
    // cycle counts from JVM start
    val sinceJvmStartS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    var spark: SparkSession = null
    val setupRows = (0 until setups).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val start = nowMs
      val t0 = System.nanoTime()
      spark = GraftSession.builder(cpus).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      GraftSession.enable(spark)
      val t2 = System.nanoTime()
      warmUp(spark, data)
      val t3 = System.nanoTime()
      val total = (t3 - t0) / 1e9 + (if (i == 0) sinceJvmStartS else 0.0)
      Map("start_ms" -> start, "end_ms" -> nowMs,
        "build_s" -> (t1 - t0) / 1e9, "enable_s" -> (t2 - t1) / 1e9,
        "warmup_s" -> (t3 - t2) / 1e9, "total_s" -> total)
    }

    def phase(what: String): Unit = System.err.println(f"[perfbench] $what done at ${
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s")
    phase("set-up")
    val entries = SparkEntry.queries
    val heap = new HeapWatch
    var tracer: Option[Tracer] = None

    def runOp(op: Op): Map[String, Any] = {
      val sink = new File(out, s"ops/${op.id}").getAbsolutePath
      tracer.foreach(_.beginOp(op.id, op.name, sink))
      val startMs = nowMs
      val t0 = System.nanoTime()
      var tb = t0
      var built: Option[DataFrame] = None
      val error = try {
        op.kind match {
          case "query" =>
            val df = entries(op.args(0))(spark, data)
            tb = System.nanoTime(); built = Some(df)
            df.write.mode("overwrite").parquet(sink)
          case "ingest" =>
            val pts = spark.read.parquet(op.args(0))
              .withColumn("geom", st.makePoint(col("lon"), col("lat")))
            tb = System.nanoTime(); built = Some(pts)
            SpatialLayout.writeZ2(pts, "geom", op.args(1))
          case "window" =>
            val Seq(x0, y0, x1, y1) = op.args.take(4).map(_.toDouble)
            val df = SpatialLayout.readWindow(spark, op.args(4), x0, y0, x1, y1)
            tb = System.nanoTime(); built = Some(df)
            df.select("id", "lon", "lat").write.mode("overwrite").parquet(sink)
        }
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val t1 = System.nanoTime()
      val endMs = nowMs
      error.foreach(e => System.err.println(s"[perfbench] ${op.id} ${op.name} failed: $e"))
      val traceRow = tracer.map(_.endOp(startMs, startMs + (tb - t0) / 1e6, endMs, built))
        .getOrElse(Map.empty)
      Map[String, Any]("id" -> op.id, "line" -> op.line, "round" -> op.round, "kind" -> op.kind,
        "name" -> op.name, "build_s" -> (tb - t0) / 1e9, "wall_s" -> (t1 - t0) / 1e9,
        "ok" -> error.isEmpty, "error" -> error.orNull) ++
        ingestStats(op) ++ traceRow
    }

    // ---- warm-up rounds, then the timed ones; the heap is read after
    // each round
    val rows = Vector.newBuilder[Map[String, Any]]
    def runRound(r: String): Vector[Map[String, Any]] = {
      val done = byRound(r).map(runOp)
      heap.poll()
      rows ++= done
      done
    }
    rounds.filter(_.startsWith("w")).foreach(runRound)
    phase("warm-up")
    var spentS = 0.0
    rounds.filter(_.head.isDigit).foreach { r =>
      if (spentS < budgetS) spentS += runRound(r).map(_("wall_s").asInstanceOf[Double]).sum
    }
    phase("timed rounds")
    if (traced) {
      tracer = Some(new Tracer(spark, new File(out, "trace")))
      runRound("t")
    }

    tracer.foreach(_.finish(setupRows))
    val names = plan.filter(_.kind == "query").map(_.name).toSet
    Files.writeString(Paths.get(out.getPath, "oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter { case (k, _) => names(k) }))
    Files.writeString(Paths.get(out.getPath, "result.json"), Json(Map(
      "setup" -> setupRows, "ops" -> rows.result(),
      "heap_peak_mb" -> heap.peakMb, "cpus" -> cpus, "traced" -> traced)))
    phase("results")
    spark.stop()
    phase("stop")
  }

  /** The warm-up graft.Bench uses: a trivial job plus a parquet scan and a
    * broadcast join, so the first timed op does not pay for them.
    */
  private def warmUp(spark: SparkSession, data: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val r = graft.sources.Tables.region(spark, data)
    val n = graft.sources.Tables.nation(spark, data)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name").count()
      .write.format("noop").mode("overwrite").save()
  }

  /** Parquet files and bytes a finished ingest left on disk. */
  private def ingestStats(op: Op): Map[String, Any] =
    if (op.kind != "ingest") Map.empty
    else {
      val files = Files.walk(Paths.get(op.args(1))).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).toVector
      Map("stored_files" -> files.size,
        "stored_bytes" -> files.map(Files.size(_)).sum,
        "stored_dirs" -> files.map(_.getParent).distinct.size)
    }

  /** Peak of the heap still in use after a full collection, taken
    * after each round (outside op timing): what the ops leave pinned —
    * cached layouts, broadcast and checkpoint blocks.
    */
  final class HeapWatch {
    private val mem = ManagementFactory.getMemoryMXBean
    var peakMb = 0.0
    def poll(): Unit = {
      System.gc()
      peakMb = math.max(peakMb, mem.getHeapMemoryUsage.getUsed / 1048576.0)
    }
  }
}
