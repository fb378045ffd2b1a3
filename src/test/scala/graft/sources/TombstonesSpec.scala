package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class TombstonesSpec extends AnyFunSuite with Matchers {

  test("no tombstones path outside the Tombstones module") {
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = sources(new java.io.File("src/main/scala"))
    files.map(_.getName) should contain("Tombstones.scala")
    // a string literal naming the directory: s"$path/tombstones", "tombstones"
    val pathLiteral = "\"[^\"]*tombstones".r
    val offending = for {
      f <- files if f.getName != "Tombstones.scala"
      (line, i) <- scala.util.Using.resource(scala.io.Source.fromFile(f)(scala.io.Codec.UTF8))(
        _.getLines().toList)
        .zipWithIndex
      if pathLiteral.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    offending shouldBe empty
  }
}
