package graft.queries

import java.io.File

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Query fixtures have one owner: [[fixture]] builds each at most once
  * per (name, sf dir) per JVM, under one per-JVM root that Spark
  * deletes at exit.
  */
class FixtureSpec extends AnyFunSuite with SparkTestSession with Matchers {

  test("the same (name, dir) builds once; another dir builds its own") {
    var builds = 0
    def get(dir: String): String = fixture("spec_once", dir) { f => builds += 1; f }
    val a = get("/sf/a")
    get("/sf/a") shouldBe a
    builds shouldBe 1
    val b = get("/sf/b")
    b should not be a
    builds shouldBe 2
    new File(a).getParentFile.getName shouldBe "spec_once"
    new File(a).getParentFile.getParentFile shouldBe scratchRoot
    new File(a).isDirectory shouldBe true
  }

  test("a throwing build leaves no entry; the retry starts from an empty directory") {
    var seen = Seq.empty[Seq[String]]
    def get(fail: Boolean): String = fixture("spec_retry", "/sf") { f =>
      seen :+= Option(new File(f).list()).toSeq.flatten
      new File(f, "half-written").createNewFile()
      if (fail) throw new IllegalStateException("build failed")
      f
    }
    an[IllegalStateException] should be thrownBy get(fail = true)
    val p = get(fail = false)
    get(fail = true) shouldBe p // built: the third call does not build
    seen shouldBe Seq(Nil, Nil)
  }

  test("a build that calls another fixture returns") {
    fixture("spec_outer", "/sf") { _ =>
      fixture("spec_inner", "/sf")(_ => 1) + 1
    } shouldBe 2
    fixture[Int]("spec_inner", "/sf")(_ => sys.error("built twice")) shouldBe 1
  }

  test("no temp path or hand-rolled cache outside the fixture helper and the bridge") {
    def sources(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = sources(new File("src/main/scala"))
    val helper = new File("src/main/scala/graft/queries/package.scala")
    val bridge = new File("src/main/scala/org/apache/spark/sql/GraftBridge.scala")
    files should contain allOf (helper, bridge)
    val tempCalls = Seq("createTempDirectory", "createTempFile", "java.io.tmpdir")
    val offending = for {
      f <- files if f != helper && f != bridge
      (line, i) <- scala.util.Using.resource(scala.io.Source.fromFile(f)(scala.io.Codec.UTF8))(
        _.getLines().toList)
        .zipWithIndex
      if tempCalls.exists(line.contains) ||
        (f.getParent.endsWith("graft/queries") && line.contains("ConcurrentHashMap"))
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    offending shouldBe empty
  }

  test("a Verify JVM leaves no graft entry in its temp directory") {
    // the child gets its own java.io.tmpdir; each entry below builds a
    // fixture or a per-call scratch directory, and none may outlive it
    val tmp = java.nio.file.Files.createDirectories(
      java.nio.file.Path.of(scratch("graft-leak"), "tmp"))
    val out = new File(tmp.getParent.toFile, "verify")
    val names = Seq("src_csv", "sp_nadgrids", "dd_line_index_inc", "dd_lsh_index")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Djava.io.tmpdir="))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", s"-Djava.io.tmpdir=$tmp", "-cp", sys.props("java.class.path"),
        "graft.Verify", sfDir, out.getPath, names.mkString(","))
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val p = pb.start()
    val log = scala.io.Source.fromInputStream(p.getInputStream).mkString
    val code = p.waitFor()
    withClue(log.linesIterator.toSeq.takeRight(40).mkString("\n")) {
      code shouldBe 0
      log should not include "[verify]"
      names.foreach(n => new File(out, s"$n/_SUCCESS").exists() shouldBe true)
      tmp.toFile.list().filter(_.startsWith("graft")) shouldBe empty
    }
  }
}
