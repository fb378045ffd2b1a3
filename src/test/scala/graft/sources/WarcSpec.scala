package graft.sources

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** WARC/WET ingest (src_warc / tx_warc_curate's front door): spec
  * format roundtrip, multi-member gzip, quarantine taxonomy (torn
  * member / malformed header / missing length / truncated block),
  * resync, and stream == batch.
  */
class WarcSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private def http(status: String, mime: String, body: String): Array[Byte] =
    (s"HTTP/1.1 $status\r\nContent-Type: $mime\r\nServer: t\r\n\r\n$body")
      .getBytes("UTF-8")

  private def resp(id: Int, body: String, status: String = "200 OK"): Array[Byte] =
    Warc.recordBytes("response", s"http://example.com/doc/$id",
      "2026-01-01T00:00:00Z", "application/http; msgtype=response",
      http(status, "text/html; charset=utf-8", body))

  private def wet(id: Int, text: String): Array[Byte] =
    Warc.recordBytes("conversion", s"http://example.com/doc/$id",
      "2026-01-02T00:00:00Z", "text/plain", text.getBytes("UTF-8"))

  private def concat(parts: Array[Byte]*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    parts.foreach(out.write)
    out.toByteArray
  }

  test("multi-member gzip roundtrip: response + WET records, all fields") {
    val file = concat(
      Warc.gzipMember(resp(1, "<html>one</html>")),
      Warc.gzipMember(resp(2, "<html>two</html>", status = "404 Not Found")),
      Warc.gzipMember(wet(3, "plain extracted text\nsecond line")))
    val rows = Warc.recordsOf("f.warc.gz", file).toSeq
    rows.count(_._corrupt == null) shouldBe 3
    val r1 = rows(0)
    r1.url shouldBe "http://example.com/doc/1"
    r1.warc_date shouldBe "2026-01-01T00:00:00Z"
    r1.warc_type shouldBe "response"
    r1.mime shouldBe "text/html"
    r1.status shouldBe Some(200)
    // the HTTP header map: lowercased names, the curation-signal surface
    r1.http_headers shouldBe Map(
      "content-type" -> "text/html; charset=utf-8", "server" -> "t")
    new String(r1.body, "UTF-8") shouldBe "<html>one</html>"
    rows(1).status shouldBe Some(404)
    val r3 = rows(2)
    r3.warc_type shouldBe "conversion"
    r3.mime shouldBe "text/plain"
    r3.status shouldBe None
    r3.http_headers shouldBe Map.empty
    new String(r3.body, "UTF-8") shouldBe "plain extracted text\nsecond line"
  }

  test("plain (uncompressed) warc parses identically; binary body bytes survive") {
    // payload containing CRLF CRLF must NOT confuse record framing —
    // Content-Length drives it
    val body = "AB\r\n\r\nCD\u0000ÿ tail"
    val file = concat(resp(1, body), wet(2, "t"))
    val rows = Warc.recordsOf("f.warc", file).toSeq
    rows.count(_._corrupt == null) shouldBe 2
    new String(rows(0).body, "UTF-8") shouldBe body
  }

  test("torn gzip member: records before the tear kept, one torn quarantine row") {
    val m3 = Warc.gzipMember(resp(3, "<html>three is long enough to tear</html>"))
    val file = concat(
      Warc.gzipMember(resp(1, "<html>one</html>")),
      Warc.gzipMember(resp(2, "<html>two</html>")),
      m3.take(m3.length / 2))
    val rows = Warc.recordsOf("torn.warc.gz", file).toSeq
    rows.count(_._corrupt == null) shouldBe 2
    rows.map(_.url).take(2) shouldBe
      Seq("http://example.com/doc/1", "http://example.com/doc/2")
    val bad = rows.filter(_._corrupt != null)
    bad.length shouldBe 1
    bad.head._corrupt should include("torn gzip member")
    bad.head.src shouldBe "torn.warc.gz"
  }

  test("malformed version line: one quarantine row, resync recovers the next record") {
    val badRec = Warc.recordBytes("response", "http://example.com/doc/9",
      "2026-01-01T00:00:00Z", "application/http; msgtype=response",
      http("200 OK", "text/html", "<html>bad</html>"), versionLine = "WARX/1.0")
    val file = concat(resp(1, "<html>one</html>"), badRec, resp(2, "<html>two</html>"))
    val rows = Warc.recordsOf("f.warc", file).toSeq
    rows.map(r => r._corrupt == null) shouldBe Seq(true, false, true)
    rows(1)._corrupt should include("malformed record header")
    rows(1)._corrupt should include("WARX/1.0")
    rows(2).url shouldBe "http://example.com/doc/2"
  }

  test("malformed record directly before a torn member: BOTH quarantine rows surface") {
    // the r14 adjacency hazard: resync() after the malformed header
    // runs into the torn member's IOException — the tear must NOT
    // overwrite the pending malformed row (it defers to the next row)
    val badRec = Warc.recordBytes("response", "http://example.com/doc/9",
      "2026-01-01T00:00:00Z", "application/http; msgtype=response",
      http("200 OK", "text/html", "<html>bad</html>"), versionLine = "WARX/1.0")
    val m3 = Warc.gzipMember(resp(3, "<html>three is long enough to tear mid-deflate</html>"))
    val file = concat(
      Warc.gzipMember(resp(1, "<html>one</html>")),
      Warc.gzipMember(badRec),
      m3.take(m3.length / 2))
    val rows = Warc.recordsOf("adj.warc.gz", file).toSeq
    rows.map(_._corrupt == null) shouldBe Seq(true, false, false)
    rows(1)._corrupt should include("malformed record header")
    rows(1)._corrupt should include("WARX/1.0")
    rows(2)._corrupt should include("torn gzip member")
  }

  test("capped heap: a container far larger than -Xmx parses record-bounded") {
    // 160 MB of INCOMPRESSIBLE members (gzip of PRNG bytes ≈ input
    // size) parsed by a 64 MB-heap subprocess: the pre-r15 binaryFile
    // content path (whole compressed file per task) would OOM; the
    // FileSystem.open streaming path needs one record + fixed buffers.
    val n = 2000
    val bodyLen = 80 * 1024
    val f = java.nio.file.Path.of(scratch("graft-warc-big"), "big.warc.gz")
    val out = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(f), 1 << 20)
    val rnd = new java.util.Random(42)
    val body = new Array[Byte](bodyLen)
    try (1 to n).foreach { i =>
      rnd.nextBytes(body)
      out.write(Warc.gzipMember(Warc.recordBytes("resource",
        s"http://example.com/blob/$i", "2026-01-01T00:00:00Z",
        "application/octet-stream", body)))
    } finally out.close()
    java.nio.file.Files.size(f) should be > (150L * 1024 * 1024)
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val p = new ProcessBuilder(javaBin, "-Xmx64m", "-cp",
      sys.props("java.class.path"), "graft.tools.WarcMemProbe",
      f.toString, n.toString).redirectErrorStream(true).start()
    val outText = scala.io.Source.fromInputStream(p.getInputStream).mkString
    val code = p.waitFor()
    java.nio.file.Files.delete(f)
    withClue(outText) {
      code shouldBe 0
      outText should include(s"parsed=$n corrupt=0")
    }
  }

  test("robotsDeny: directive-token match over the header map") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, map_from_arrays, lit, array}
    val df = Seq(
      (1, Some("noindex")),            // plain directive
      (2, Some("noarchive, noindex")), // multi-valued list
      (3, Some("NONE")),               // case-insensitive none
      (4, Some("noarchive")),          // non-deny directive
      (5, Some("by-noindex-bot: x")),  // substring must NOT trigger
      (6, None)                        // absent header
    ).toDF("id", "tag")
      .select(col("id"),
        org.apache.spark.sql.functions.when(col("tag").isNotNull,
          map_from_arrays(array(lit("x-robots-tag")), array(col("tag"))))
          .otherwise(org.apache.spark.sql.functions.expr(
            "map()")).as("http_headers"))
    val got = df.select(col("id"),
        Warc.robotsDeny(col("http_headers")).as("deny"))
      .collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
    got shouldBe Map(1 -> true, 2 -> true, 3 -> true,
      4 -> false, 5 -> false, 6 -> false)
  }

  test("repeated HTTP header: values combine comma-joined in arrival order (RFC 9110)") {
    // the REP requires COMBINING repeated X-Robots-Tag lines — a
    // last-wins map would shadow 'noindex' behind 'noarchive' here and
    // robotsDeny would keep an explicitly-denied page
    val block = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "X-Robots-Tag: noindex\r\nX-Robots-Tag: noarchive\r\n\r\nbody")
      .getBytes("UTF-8")
    val rec = Warc.recordBytes("response", "http://x/", "2026-01-01T00:00:00Z",
      "application/http; msgtype=response", block)
    val rows = Warc.recordsOf("f.warc", rec).toSeq
    rows.head.http_headers("x-robots-tag") shouldBe "noindex, noarchive"
  }

  test("missing content-length: quarantined and resynced; truncated block: quarantined") {
    val noLen = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://x/\r\n" +
      "Content-Type: application/http\r\n\r\njunk block no length\r\n\r\n")
      .getBytes("UTF-8")
    val full = resp(2, "<html>two</html>")
    val cut = resp(3, "<html>three</html>")
    val file = concat(noLen, full, cut.take(cut.length - 12))
    val rows = Warc.recordsOf("f.warc", file).toSeq
    rows.map(_._corrupt == null) shouldBe Seq(false, true, false)
    rows(0)._corrupt should include("content-length")
    rows(1).url shouldBe "http://example.com/doc/2"
    rows(2)._corrupt should include("truncated record block")
  }

  test("Spark batch read: per-file rows with src attribution") {
    val dir = scratch("graft-warc")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.warc.gz"),
      concat(Warc.gzipMember(resp(1, "<p>a</p>")), Warc.gzipMember(resp(2, "<p>b</p>"))))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.warc.gz"),
      Warc.gzipMember(wet(3, "text")))
    val got = Warc.read(spark, dir)
      .select("url", "warc_type", "status", "src", "_corrupt").collect()
    got.length shouldBe 3
    got.count(_.isNullAt(4)) shouldBe 3
    got.map(_.getString(0)).toSet shouldBe
      Set("http://example.com/doc/1", "http://example.com/doc/2", "http://example.com/doc/3")
    got.filter(_.getString(0).endsWith("/3")).head.getString(3) should endWith("b.warc.gz")
  }

  test("write → read roundtrip: WET egress comes back byte-for-byte, one file per partition") {
    import spark.implicits._
    val dir = scratch("graft-warc-write") + "/out"
    val docs = Seq(
      (1L, "curated text one\nsecond line"),
      (2L, "unicode survives: čžß→𝒳"),
      (3L, "third doc")
    ).toDF("doc_id", "text")
      .select(org.apache.spark.sql.functions.concat(
          lit("http://example.com/doc/"), col("doc_id")).as("url"),
        lit("2026-02-01T00:00:00Z").as("warc_date"), col("text"))
      .repartition(2)
    Warc.write(docs, dir, "url", "warc_date", "text")
    new java.io.File(dir).listFiles().count(_.getName.endsWith(".warc.gz")) shouldBe 2
    val back = Warc.read(spark, dir).collect()
    back.length shouldBe 3
    back.foreach { r =>
      r.getAs[String]("_corrupt") shouldBe null
      r.getAs[String]("warc_type") shouldBe "conversion"
      r.getAs[String]("mime") shouldBe "text/plain"
    }
    back.map(r => (r.getAs[String]("url"),
        new String(r.getAs[Array[Byte]]("body"), "UTF-8"))).toSet shouldBe Set(
      "http://example.com/doc/1" -> "curated text one\nsecond line",
      "http://example.com/doc/2" -> "unicode survives: čžß→𝒳",
      "http://example.com/doc/3" -> "third doc")
  }

  test("readStream == batch across arriving shards (quarantine rows included)") {
    val dir = scratch("graft-warc-stream")
    val m2 = Warc.gzipMember(resp(2, "<p>two</p>"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "s1.warc.gz"),
      Warc.gzipMember(resp(1, "<p>one</p>")))
    val q = Warc.readStream(spark, dir + "/*.warc.gz")
      .writeStream.format("memory").queryName("warc_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // shard 2 lands mid-stream, with a torn tail member (mid-deflate:
      // a tear shorter than a gzip header reads as clean EOF — the
      // GZIPInputStream next-member probe's inherent blind spot)
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "s2.warc.gz"),
        concat(m2, m2.take(m2.length / 2)))
      q.processAllAvailable()
    } finally q.stop()
    def key(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("url", "warc_type", "status", "md5(body)", "_corrupt is null")
        .collect().map(_.toSeq).toSet
    key(spark.table("warc_stream")) shouldBe key(Warc.read(spark, dir + "/*.warc.gz"))
    spark.table("warc_stream").count() shouldBe 3 // 2 parsed + 1 torn
  }

  test("transport fault mid-stream RETHROWS for task retry; decode corruption still quarantines") {
    // a stream that serves one clean record then dies like a socket
    // reset — a plain IOException is a TRANSPORT fault and must
    // propagate (Spark retries the task); quarantining it would
    // silently drop every record after the fault
    val clean = resp(1, "<p>one</p>")
    class ResettingStream(bytes: Array[Byte]) extends java.io.InputStream {
      private var i = 0
      override def read(): Int =
        if (i < bytes.length) { i += 1; bytes(i - 1) & 0xFF }
        else throw new java.io.IOException("connection reset by peer")
    }
    val ex = intercept[java.io.IOException] {
      Warc.records("f.warc",
        new ResettingStream(concat(clean, resp(2, "x")))).toList
    }
    ex.getMessage should include("connection reset")
    // ...while an inflater EOF (torn member) stays a quarantine row,
    // as the streaming test above also pins
    val torn = Warc.gzipMember(clean)
    val rows = Warc.recordsOf("g.warc.gz",
      concat(torn, torn.take(torn.length / 2))).toSeq
    rows.count(_._corrupt == null) shouldBe 1
    rows.count(r => r._corrupt != null && r._corrupt.contains("torn")) shouldBe 1
  }
}
