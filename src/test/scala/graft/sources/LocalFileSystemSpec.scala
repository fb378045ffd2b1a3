package graft.sources

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import graft.functions.st
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Local writes on a graft session set modes in-process: no `chmod`
  * process per file or directory, and the same modes and `.crc`
  * sidecars as Hadoop's own local filesystem.
  */
class LocalFileSystemSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def graftFs(dir: JPath): FileSystem = new Path(dir.toUri).getFileSystem(hadoopConf)

  /** Hadoop's stock filesystems, built directly so the JVM-wide
    * `file:` cache is left alone.
    */
  private def stockRaw: RawLocalFileSystem = {
    val fs = new RawLocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), hadoopConf)
    fs
  }

  private def stockLocal: LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), hadoopConf)
    fs
  }

  /** Mode bits including sticky and setuid, which the POSIX view omits. */
  private def modeOf(p: JPath): (String, Int) =
    (PosixFilePermissions.toString(Files.getPosixFilePermissions(p)),
      Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)

  /** `chmod` processes started while `body` runs, from an in-process JFR
    * recording of `jdk.ProcessStart` events.
    */
  private def chmodForks(body: => Unit): Int = {
    val rec = new jdk.jfr.Recording()
    val dump = JPath.of(scratch("graft-forks"), "rec.jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .count(_.getString("command").startsWith("chmod"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  test("file: resolves to graft's filesystem on a graft session") {
    new Path("file:/tmp").getFileSystem(hadoopConf) shouldBe a[PosixLocalFileSystem]
  }

  test("the fork count sees Hadoop's own chmod") {
    val f = Files.createFile(JPath.of(scratch("graft-chmod"), "f.bin"))
    try chmodForks(stockRaw.setPermission(new Path(f.toUri), new FsPermission("640"))) shouldBe 1
    finally Files.delete(f)
  }

  test("a Z2 layout write forks no chmod process") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(2000)(id => (id.toLong, rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90))
    val df = spark.createDataFrame(rows).toDF("id", "lon", "lat")
      .withColumn("geom", st.makePoint(col("lon"), col("lat")))
    val path = scratch("graft-forks") + "/pts"
    chmodForks(SpatialLayout.writeZ2(df, "geom", path, level = 12, dirLevel = 3)) shouldBe 0
    spark.read.parquet(path).count() shouldBe 2000
  }

  test("setPermission leaves the same modes as Hadoop's RawLocalFileSystem") {
    val dir = JPath.of(scratch("graft-modes"))
    val fs = graftFs(dir)
    val raw = stockRaw
    val cases = Seq("600", "640", "644", "700", "750", "755", "777").map(m => (m, false)) :+ ("1777", true)
    cases.foreach { case (m, isDir) =>
      val mine = dir.resolve(s"graft-$m")
      val theirs = dir.resolve(s"stock-$m")
      Seq(mine, theirs).foreach(p => if (isDir) Files.createDirectory(p) else Files.createFile(p))
      fs.setPermission(new Path(mine.toUri), new FsPermission(m))
      raw.setPermission(new Path(theirs.toUri), new FsPermission(m))
      withClue(s"mode $m: ") {
        modeOf(mine) shouldBe modeOf(theirs)
        modeOf(mine)._2 shouldBe Integer.parseInt(m, 8)
      }
    }
  }

  test("created files and directories get the same umask-applied modes and .crc sidecars") {
    val dir = JPath.of(scratch("graft-create"))
    def write(fs: FileSystem, name: String): Unit = {
      val out = fs.create(new Path(dir.resolve(name).toUri.toString + "/sub/data.bin"))
      try out.write(Array.tabulate[Byte](1000)(_.toByte)) finally out.close()
    }
    write(graftFs(dir), "graft")
    write(stockLocal, "stock")
    Seq("", "sub", "sub/data.bin", "sub/.data.bin.crc").foreach { rel =>
      withClue(s"$rel: ") {
        modeOf(dir.resolve("graft").resolve(rel)) shouldBe modeOf(dir.resolve("stock").resolve(rel))
      }
    }
    modeOf(dir.resolve("graft/sub"))._2 shouldBe Integer.parseInt("755", 8)
    modeOf(dir.resolve("graft/sub/data.bin"))._2 shouldBe Integer.parseInt("644", 8)
    Files.readAllBytes(dir.resolve("graft/sub/.data.bin.crc")) shouldBe
      Files.readAllBytes(dir.resolve("stock/sub/.data.bin.crc"))
  }

  test("a flipped data byte fails the checksum on read") {
    val dir = JPath.of(scratch("graft-crc"))
    val fs = graftFs(dir)
    val p = new Path(dir.resolve("data.bin").toUri)
    val bytes = Array.tabulate[Byte](4096)(_.toByte)
    val out = fs.create(p)
    try out.write(bytes) finally out.close()
    Files.exists(dir.resolve(".data.bin.crc")) shouldBe true

    val raf = new java.io.RandomAccessFile(dir.resolve("data.bin").toFile, "rw")
    try { raf.seek(100); raf.write(bytes(100) ^ 0xff) } finally raf.close()
    val in = fs.open(p)
    try an[ChecksumException] should be thrownBy in.readFully(new Array[Byte](bytes.length))
    finally in.close()
  }
}
