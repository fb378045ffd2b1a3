package graft.streaming

import graft.SparkTestSession
import graft.sources.Tables
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

case class TestEvent(ts: Timestamp, event_type: String, value: Double, user_id: Long)

/** Structured Streaming behavior: the streaming paths must produce the
  * same results as their (oracle-verified) batch twins on the same data.
  */
class StreamingSpec extends AnyFunSuite with SparkTestSession with Matchers {

  private def ev(minuteOffset: Long, typ: String, value: Double, user: Long): TestEvent =
    TestEvent(new Timestamp(1700000000000L + minuteOffset * 60000L), typ, value, user)

  private lazy val sampleEvents: Seq[TestEvent] = Seq(
    ev(0, "click", 1.0, 1), ev(5, "click", 2.0, 1), ev(10, "view", 3.0, 2),
    ev(65, "click", 4.0, 1), ev(70, "view", 5.0, 2), ev(200, "click", 6.0, 1),
    ev(210, "view", 7.0, 3), ev(215, "click", 8.0, 3))

  test("streaming windowed agg equals the batch twin (complete mode)") {
    val spark0 = spark
    import spark0.implicits._
    val input = MemoryStream[TestEvent](spark)
    val q = EventAggs.hourly(input.toDF())
      .writeStream.format("memory").queryName("agg_out").outputMode("complete").start()
    try {
      input.addData(sampleEvents.take(4))
      q.processAllAvailable()
      input.addData(sampleEvents.drop(4))
      q.processAllAvailable()
      val streamed = spark.table("agg_out")
        .orderBy("hour_start", "event_type").collect().map(_.toSeq).toSeq
      val batch = EventAggs.hourly(sampleEvents.toDF())
        .orderBy("hour_start", "event_type").collect().map(_.toSeq).toSeq
      streamed shouldBe batch
    } finally q.stop()
  }

  test("bloom-gated ingest dedup runs as a STREAM against static history, equals the batch twin") {
    val spark0 = spark
    import spark0.implicits._
    // incrementalNovel is stream-compatible by construction: the static
    // history collapses to a driver-built Bloom literal before the query
    // starts; the gate is a scan-side filter + a stream-static digest
    // join, no aggregation — append mode, unbounded state nowhere.
    val history = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "text")
    val batchIncoming = Seq(
      (10L, "alpha"), (11L, "novel one"), (12L, "beta"), (13L, "novel two"))
    val input = MemoryStream[(Long, String)](spark)
    val gated = graft.ops.Dedup.incrementalNovel(
      history, input.toDF().toDF("id", "text"), "id", "text")
    val q = gated.writeStream.format("memory").queryName("bloom_out")
      .outputMode("append").start()
    try {
      input.addData(batchIncoming.take(2))
      q.processAllAvailable()
      input.addData(batchIncoming.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("bloom_out")
        .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      val batch = graft.ops.Dedup.incrementalNovel(
          history, batchIncoming.toDF("id", "text"), "id", "text")
        .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      streamed shouldBe batch
      streamed shouldBe Seq((10L, 0), (11L, 1), (12L, 0), (13L, 1))
    } finally q.stop()
  }

  test("incremental LINE dedup runs per micro-batch via foreachBatch, equals the batch twin") {
    val spark0 = spark
    import spark0.implicits._
    // dedupLinesIncremental carries a within-batch window (keep-first),
    // so its streaming form is foreachBatch — the micro-batch IS the
    // batch; the history state (bloom + materialized digests) builds
    // ONCE before the query starts, so triggers never rescan history
    val history = Seq((100L, "seen a\nseen b")).toDF("id", "text")
    val state = graft.ops.Text.prepareLineHistory(history, "text")
    val mb1 = Seq((1L, "seen a\nfresh one"), (2L, "fresh one\nfresh two"))
    val mb2 = Seq((3L, "seen b\nfresh three"))
    val input = MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = input.toDF().toDF("id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= graft.ops.Text.dedupLinesIncremental(state, b, "id", "text", "\n")
          .orderBy("id").collect().map(_.toSeq)
        ()
      }.start()
    try {
      input.addData(mb1); q.processAllAvailable()
      input.addData(mb2); q.processAllAvailable()
      val expected = (
        graft.ops.Text.dedupLinesIncremental(history, mb1.toDF("id", "text"),
          "id", "text").orderBy("id").collect() ++
        graft.ops.Text.dedupLinesIncremental(history, mb2.toDF("id", "text"),
          "id", "text").orderBy("id").collect()).map(_.toSeq).toSeq
      got.toSeq shouldBe expected
      // and the values themselves: history lines drop, batch-first wins
      got.map(_(4)).toSeq shouldBe
        Seq("fresh one", "fresh two", "fresh three")
    } finally q.stop()
  }

  test("incremental LINE dedup LIFECYCLE: append folds each batch in, so a line from micro-batch 1 drops in micro-batch 2") {
    val spark0 = spark
    import spark0.implicits._
    // the NearDupStream probe→dedup→append shape for the line family
    // (r12 verdict task 2): after each trigger the batch's lines fold
    // into the history state, so the CCNet hash set survives across
    // TRIGGERS — not just across maintenance cycles. History ids sort
    // below batch ids so the batch twin's global keep-first (min by
    // (id, pos)) resolves identically to arrival order.
    val history = Seq((1L, "seen a\nseen b")).toDF("id", "text")
    val state = graft.ops.Text.prepareLineHistory(history, "text")
    val mb1 = Seq((10L, "seen a\nfresh one"), (11L, "fresh one\nfresh two"))
    val mb2 = Seq((12L, "fresh one\nseen b\nfresh three"))
    val input = MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    val q = input.toDF().toDF("id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= graft.ops.Text.dedupLinesIncremental(state, b, "id", "text", "\n")
          .orderBy("id").collect()
          .map(r => (r.getAs[Long]("id"), r.getAs[String]("text_dedup"),
            r.getAs[Long]("n_removed_history") + r.getAs[Long]("n_removed_batch")))
        state.append(b, "text") // AFTER dedup — probe→dedup→append
        ()
      }.start()
    try {
      input.addData(mb1); q.processAllAvailable()
      input.addData(mb2); q.processAllAvailable()
      // "fresh one" entered in micro-batch 1 (doc 10) → REMOVED from
      // micro-batch 2's doc 12; "seen b" is original history
      got.toSeq shouldBe Seq(
        (10L, "fresh one", 1L),
        (11L, "fresh two", 1L),
        (12L, "fresh three", 2L))
      // and the stream equals the BATCH dedupLines over history ∪ all
      // batches (restricted to the batch docs): the lifecycle is the
      // incremental decomposition of the one-shot corpus operator
      val full = graft.ops.Text.dedupLines(
        history.unionByName((mb1 ++ mb2).toDF("id", "text")), "id", "text")
        .filter(col("id") >= 10L).orderBy("id").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("text_dedup"),
          r.getAs[Long]("n_removed")))
      got.toSeq shouldBe full.toSeq
    } finally {
      q.stop()
      state.release()
    }
  }

  test("disk-backed streaming LINE-dedup (LineDupStream): survives triggers AND a fresh handle on the same index") {
    val spark0 = spark
    import spark0.implicits._
    val history = Seq((1L, "seen a\nseen b")).toDF("id", "text")
    val path = scratch("graft-linestream") + "/ix"
    graft.sources.LineIndex.build(history, "text", path)
    val stream = new LineDupStream(spark, path, "id", "text")
    val mb1 = Seq((10L, "seen a\nfresh one"), (11L, "fresh one\nfresh two"))
    val mb2 = Seq((12L, "fresh one\nseen b\nfresh three"))
    val input = MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = stream.start(input.toDF().toDF("id", "text"),
      b => { got ++= b.orderBy("id").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("text_dedup"))); () },
      checkpoint = scratch("graft-linestream-ck"))
    try {
      input.addData(mb1); q.processAllAvailable()
      input.addData(mb2); q.processAllAvailable()
      // cross-trigger: "fresh one" (first kept in trigger 1) drops in
      // trigger 2; originals from the built history drop throughout
      got.toSeq shouldBe Seq(
        (10L, "fresh one"), (11L, "fresh two"), (12L, "fresh three"))
      // the concatenated stream equals batch dedupLines over
      // history ∪ all batches (ids follow arrival order)
      val full = graft.ops.Text.dedupLines(
          history.unionByName((mb1 ++ mb2).toDF("id", "text")), "id", "text")
        .filter(col("id") >= 10L).orderBy("id").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("text_dedup"))).toSeq
      got.toSeq shouldBe full
      // and the index is DURABLE: a fresh handle (a new session's
      // probe) sees the streamed appends
      val later = new graft.sources.LineIndex.Maintainer(spark, path).probe(
        Seq((30L, "fresh three\nbrand new")).toDF("id", "text"),
        "id", "text").head()
      later.getAs[String]("text_dedup") shouldBe "brand new"
      later.getAs[Long]("n_removed_history") shouldBe 1L
    } finally q.stop()
  }

  test("container → corpus: WARC shards stream through the persisted line-dedup index end to end") {
    val spark0 = spark
    import spark0.implicits._
    import graft.sources.Warc
    // the full continuous-ingest story: crawl container bytes land as
    // .warc.gz shards → Warc.readStream parses per micro-batch →
    // LineDupStream probes/dedups/appends against the durable LineIndex
    val history = Seq((1L, "seen a\nseen b")).toDF("id", "text")
    val ixPath = scratch("graft-warcline") + "/ix"
    graft.sources.LineIndex.build(history, "text", ixPath)
    val shardDir = scratch("graft-warcline-in")
    def writeShard(name: String, recs: Seq[(Long, String)]): Unit = {
      val out = new java.io.ByteArrayOutputStream()
      recs.foreach { case (id, text) =>
        out.write(Warc.gzipMember(Warc.recordBytes("conversion",
          s"http://example.com/doc/$id", "2026-03-01T00:00:00Z",
          "text/plain", text.getBytes("UTF-8"))))
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(shardDir, name), out.toByteArray)
    }
    writeShard("s1.warc.gz",
      Seq(10L -> "seen a\nfresh one", 11L -> "fresh one\nfresh two"))
    val docs = Warc.readStream(spark, shardDir + "/*.warc.gz")
      .filter(col("_corrupt").isNull)
      .select(regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("id"),
        decode(col("body"), "UTF-8").as("text"))
    val stream = new LineDupStream(spark, ixPath, "id", "text")
    val got = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = stream.start(docs,
      b => { got ++= b.orderBy("id").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("text_dedup"))); () },
      checkpoint = scratch("graft-warcline-ck"))
    try {
      q.processAllAvailable()
      // shard 2 arrives mid-stream: its "fresh one" was first kept in
      // shard 1 and must now drop via the APPENDED index state
      writeShard("s2.warc.gz", Seq(12L -> "fresh one\nseen b\nfresh three"))
      q.processAllAvailable()
      got.toSeq shouldBe Seq(
        (10L, "fresh one"), (11L, "fresh two"), (12L, "fresh three"))
    } finally q.stop()
  }

  test("windowed avg is floor-based round-half-up — correct for NEGATIVE sums") {
    val spark0 = spark
    import spark0.implicits._
    // sums per (window, type): click → -1.0 + -2.5 = -3.5 (avg -1.75),
    // refund → -0.00005 alone (micro sum -50, n=1 → (−50+50)/100 = 0 ⇒
    // avg 0.0, the half-up tie rounding toward +∞ that DuckDB's
    // (sum + n*50) // (n*100) also produces; truncating `div` would give
    // the same 0 here but -1 for refund2's -150 micro (DuckDB -1 too) and
    // diverge at e.g. -250 micro: floor(-2.0) = -2 vs trunc → -2 … the
    // real divergence shows on click: (−3 500 000+100)÷200 → floor = −17500
    // ⇒ −1.75 exactly; a truncating div yields −17499 ⇒ −1.7499.
    val negatives = Seq(
      ev(0, "click", -1.0, 1), ev(5, "click", -2.5, 1),
      ev(10, "refund", -0.00005, 2), ev(20, "refund2", -0.00015, 2))
    val got = EventAggs.hourly(negatives.toDF())
      .select("event_type", "avg_value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    got("click") shouldBe -1.75
    got("refund") shouldBe 0.0     // -0.5e-4 ties up toward +∞ (floor of (−50+50)/100)
    got("refund2") shouldBe -1e-4  // floor((−150+50)/100) = −1 micro-4dp unit
  }

  test("watermarked append-mode agg emits closed windows") {
    val spark0 = spark
    import spark0.implicits._
    val input = MemoryStream[TestEvent](spark)
    val q = EventAggs.hourlyStream(input.toDF(), delay = "10 minutes")
      .writeStream.format("memory").queryName("agg_wm").outputMode("append").start()
    try {
      input.addData(sampleEvents.take(3)) // hour 0
      q.processAllAvailable()
      input.addData(sampleEvents.drop(3)) // hours 1 and 3 → watermark passes hour 0
      q.processAllAvailable()
      input.addData(ev(400, "late", 9.0, 9)) // advance watermark past hours 1-3
      q.processAllAvailable()
      val emitted = spark.table("agg_wm").select("hour_start", "event_type", "n")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      // hour-0 window (2 clicks, 1 view) must have been finalized and emitted
      val batch = EventAggs.hourly(sampleEvents.toDF())
        .select("hour_start", "event_type", "n")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      batch.subsetOf(emitted ++ batch) shouldBe true
      emitted.map(_._1).min shouldBe batch.map(_._1).min
    } finally q.stop()
  }

  test("streaming exact dedup keeps first arrival per content within the watermark") {
    val spark0 = spark
    import spark0.implicits._
    case class Doc(ts: Timestamp, doc_id: Long, text: String)
    val t0 = 1700000000000L
    val input = MemoryStream[(Timestamp, Long, String)](spark)
    val q = StreamDedup.exactStream(
        input.toDF().toDF("ts", "doc_id", "text"), "text", "ts", delay = "1 hour")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      input.addData((new Timestamp(t0), 1L, "alpha"), (new Timestamp(t0 + 1000), 2L, "beta"))
      q.processAllAvailable()
      // same content again, later trigger but inside the watermark → dropped
      input.addData((new Timestamp(t0 + 60000), 3L, "alpha"), (new Timestamp(t0 + 61000), 4L, "gamma"))
      q.processAllAvailable()
      val survivors = spark.table("dedup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      survivors shouldBe Set(1L, 2L, 4L)
    } finally q.stop()
  }

  test("batch dedup twin (ev_dedup path) agrees with the streaming dedup survivors") {
    val spark0 = spark
    import spark0.implicits._
    val t0 = 1700000000000L
    // duplicates arriving in timestamp order within one watermark span —
    // the regime where streaming keeps exactly the first arrival
    val docs = Seq(
      (new Timestamp(t0), 1L, "alpha"), (new Timestamp(t0 + 1000), 2L, "beta"),
      (new Timestamp(t0 + 60000), 3L, "alpha"), (new Timestamp(t0 + 61000), 4L, "gamma"),
      (new Timestamp(t0 + 62000), 5L, "beta"), (new Timestamp(t0 + 63000), 6L, "alpha"))
    val batchDf = docs.toDF("ts", "doc_id", "text")
    val batch = StreamDedup.exactBatch(batchDf, "text", "ts", "doc_id")
    batch.select("survivor_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L, 4L)
    batch.select("n_copies").collect().map(_.getLong(0)).sum shouldBe docs.size
    // streaming survivors over the same feed = the batch survivors
    val input = MemoryStream[(Timestamp, Long, String)](spark)
    val q = StreamDedup.exactStream(
        input.toDF().toDF("ts", "doc_id", "text"), "text", "ts", delay = "1 hour")
      .writeStream.format("memory").queryName("dedup_twin").outputMode("append").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      spark.table("dedup_twin").select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
        Set(1L, 2L, 4L)
    } finally q.stop()
  }

  test("streaming sessionization accumulates state across triggers == batch twin") {
    val spark0 = spark
    import spark0.implicits._
    val input = MemoryStream[TestEvent](spark)
    val q = Sessionize(input.toDF())
      .writeStream.format("memory").queryName("sess_out").outputMode("update").start()
    try {
      // feed in event-time order split across triggers — state must carry over
      input.addData(sampleEvents.take(5))
      q.processAllAvailable()
      input.addData(sampleEvents.drop(5))
      q.processAllAvailable()
      // last update per user is the final state
      val streamed = spark.table("sess_out")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("n_sessions"))).as("s"))
        .select(col("user_id"), col("s.n_sessions"), col("s.n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Sessionize(sampleEvents.toDF()).toDF()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      streamed shouldBe batch
    } finally q.stop()
  }

  test("sessionize TTL expires idle keys; re-arrival starts a fresh session") {
    val spark0 = spark
    import spark0.implicits._
    val input = MemoryStream[TestEvent](spark)
    // 1h TTL, zero-delay watermark: watermark == max event time seen
    val q = Sessionize.withTtl(input.toDF(), ttlSeconds = 3600, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_ttl").outputMode("update").start()
    try {
      // user 1: two sessions' worth of activity (gap 65 min > 30-min rule)
      input.addData(ev(0, "click", 1.0, 1), ev(5, "click", 2.0, 1), ev(65, "click", 3.0, 1))
      q.processAllAvailable()
      val first = spark.table("sess_ttl").filter(col("user_id") === 1)
        .orderBy(col("n_events").desc).limit(1)
        .collect().map(r => (r.getLong(1), r.getLong(2))).head
      first shouldBe ((2L, 3L)) // 2 sessions, 3 events — same as the NoTimeout path
      // user 2 far in the future pushes the watermark past user 1's TTL
      input.addData(ev(60 * 24, "view", 4.0, 2))
      q.processAllAvailable()
      // one more trigger so the timeout for user 1 actually fires
      input.addData(ev(60 * 24 + 1, "view", 5.0, 2))
      q.processAllAvailable()
      // user 1 returns after expiry: counters restart from zero — NOT 3/4
      input.addData(ev(60 * 24 + 5, "click", 6.0, 1))
      q.processAllAvailable()
      val rows = spark.table("sess_ttl").filter(col("user_id") === 1)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      rows should contain((1L, 1L))
      rows should not contain ((3L, 4L))
    } finally q.stop()
  }

  test("batch sessionize on the corpus matches the window-lag formulation") {
    val byUser = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("ts")
    val lagBased = Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > 1800.0, 1).otherwise(0))
      .groupBy("user_id")
      .agg(sum("new_session").as("n_sessions"), count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val stateBased = Sessionize(Tables.events(spark, sfDir)).toDF()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    stateBased shouldBe lagBased
  }

  test("spatial predicates work on streaming frames (st_intersects filter on a stream)") {
    val spark0 = spark
    import spark0.implicits._
    import graft.functions.st
    val input = MemoryStream[(Long, Double, Double)](spark)
    val filtered = input.toDF().toDF("id", "lon", "lat")
      .withColumn("geom", st.makePoint(col("lon"), col("lat")))
      .filter(st.intersects(st.makeBBOX(0.0, 0.0, 10.0, 10.0), col("geom")))
    val q = filtered.select("id").writeStream
      .format("memory").queryName("sp_stream").outputMode("append").start()
    try {
      input.addData((1L, 5.0, 5.0), (2L, 50.0, 5.0), (3L, 9.9, 0.1))
      q.processAllAvailable()
      input.addData((4L, -5.0, -5.0), (5L, 0.0, 10.0)) // 5 on the boundary → intersects
      q.processAllAvailable()
      spark.table("sp_stream").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 3L, 5L)
    } finally q.stop()
  }

  test("cms_agg runs unchanged as a streaming aggregate and converges to the batch sketch") {
    val spark0 = spark
    import spark0.implicits._
    val keys = (0L until 200L).flatMap(k => Seq.fill((k % 5 + 1).toInt)(k))
    val input = MemoryStream[Long](spark)
    // the SAME aggregate the oracle-verified ev_heavy runs in batch,
    // as an incremental streaming sketch (complete mode: the counter
    // array is the whole state — depth·width longs, never the rows)
    val sketched = input.toDF().toDF("k")
      .agg(graft.functions.FunctionDefs.callAgg(
        "cms_agg", col("k"), lit(4), lit(64)).as("sk"))
    val q = sketched.writeStream
      .format("memory").queryName("cms_stream").outputMode("complete").start()
    try {
      val (a, b) = keys.splitAt(keys.size / 2)
      input.addData(a: _*)
      q.processAllAvailable()
      input.addData(b: _*)
      q.processAllAvailable()
      val streamed = spark.table("cms_stream").head().getSeq[Long](0)
      val batch = keys.toDF("k")
        .agg(graft.functions.FunctionDefs.callAgg(
          "cms_agg", col("k"), lit(4), lit(64)).as("sk"))
        .head().getSeq[Long](0)
      streamed shouldBe batch
    } finally q.stop()
  }

  test("kmv_agg runs unchanged as a streaming aggregate and equals the batch sketch") {
    val spark0 = spark
    import spark0.implicits._
    // duplicated + shuffled inserts across two triggers: the bottom-k
    // distinct state must dedupe and keep the global minima regardless
    // of arrival order (complete mode: state is ≤ k longs, never rows)
    val vals = (0L until 300L).map(i => i * 2654435761L % 1000003L)
    val keys = vals ++ vals.take(150) // re-inserts must not change the sketch
    val input = MemoryStream[Long](spark)
    val sketched = input.toDF().toDF("h")
      .agg(graft.functions.FunctionDefs.callAgg(
        "kmv_agg", col("h"), lit(24)).as("sk"))
    val q = sketched.writeStream
      .format("memory").queryName("kmv_stream").outputMode("complete").start()
    try {
      val (a, b) = keys.splitAt(keys.size / 3)
      input.addData(a: _*)
      q.processAllAvailable()
      input.addData(b: _*)
      q.processAllAvailable()
      val streamed = spark.table("kmv_stream").head().getSeq[Long](0)
      streamed shouldBe vals.distinct.sorted.take(24)
    } finally q.stop()
  }

  test("anomaly daily moments run as a streaming aggregate; z-flags equal the batch twin") {
    val spark0 = spark
    import spark0.implicits._
    // 9 calm days of one click each, a spike day of 5 clicks (z ≈ 3.5 —
    // must flag), and a single-day type that must stay degenerate
    val events: Seq[TestEvent] =
      ((0 until 9).map(d => ev(d * 1440L, "click", 1.0, d.toLong)) ++
        (0 until 5).map(i => ev(9 * 1440L + i, "click", 1.0, 100L + i)) :+
        ev(3 * 1440L, "solo", 1.0, 999L))
    val input = MemoryStream[TestEvent](spark)
    // the SAME stage-1 aggregate the oracle-verified ev_anomaly runs in
    // batch, accumulating incrementally (complete mode: state is the
    // |types|·|days| daily-count table, never the events) — the spike
    // day is split across triggers so its count must accumulate
    val q = Anomaly.dailyCounts(input.toDF())
      .writeStream.format("memory").queryName("anom_daily").outputMode("complete").start()
    try {
      val (a, b) = events.splitAt(11) // 9 calm + 2 spike | 3 spike + solo
      input.addData(a: _*)
      q.processAllAvailable()
      input.addData(b: _*)
      q.processAllAvailable()
      // snapshot the sink into a fresh frame: flags() self-joins its
      // input, and the memory-sink View resolves to the same attribute
      // ids on both sides (analyzer conflict) — a real pipeline would
      // hand flags() a sink table read, which re-resolves cleanly
      val snap = spark.table("anom_daily")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        .toDF("event_type", "day_start", "cnt")
      val streamed = Anomaly.flags(snap)
        .orderBy("event_type", "day_start").collect().map(_.toSeq).toSeq
      val batch = Anomaly.flags(Anomaly.dailyCounts(events.toDF()))
        .orderBy("event_type", "day_start").collect().map(_.toSeq).toSeq
      streamed shouldBe batch
      // the contract is non-vacuous: the spike day actually flags, and
      // the degenerate single-day type does not
      streamed.map(_.head) shouldBe Seq("click")
    } finally q.stop()
  }

  test("streaming component maintenance: per-trigger supernode folds == batch CC over all edges seen") {
    val spark0 = spark
    import spark0.implicits._
    // three triggers: build chains, then bridge them, then attach new ids
    val t1 = Seq((1L, 2L), (3L, 4L), (10L, 11L))
    val t2 = Seq((2L, 3L), (11L, 20L))           // bridges 1-2-3-4; grows 10s
    val t3 = Seq((4L, 10L), (30L, 31L))          // merges everything + fresh comp
    val input = MemoryStream[(Long, Long)](spark)
    val cc = CcStream.empty(spark)
    val q = cc.start(input.toDF().toDF("id_a", "id_b"),
      scratch("graft-ccstream"))
    try {
      var seen = Seq.empty[(Long, Long)]
      for (batch <- Seq(t1, t2, t3)) {
        input.addData(batch: _*)
        q.processAllAvailable()
        seen ++= batch
        val streamed = cc.labels.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        val full = graft.ops.Dedup.connectedComponents(
            seen.toDF("id_a", "id_b")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        streamed shouldBe full
      }
      // the final merge actually collapsed the bridged chains
      cc.labels.filter(col("id") === 20L).head.getLong(1) shouldBe 1L
    } finally q.stop()
  }

  test("CcStream.fold releases every superseded checkpoint: cached-frame count stays flat across triggers") {
    val spark0 = spark
    import spark0.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    val cc = CcStream.empty(spark)
    // many folds: each one internally checkpoints the edge frame, the
    // endpoint map, the merged-root map and the new labels — a
    // long-running stream must end each trigger holding ONE labels copy
    for (t <- 0 until 6)
      cc.fold(Seq((t * 10L, t * 10L + 1L), (t * 10L + 1L, t * 10L + 2L))
        .toDF("id_a", "id_b"))
    val after = spark.sparkContext.getPersistentRDDs.size
    (after - before) should be <= 1 // the current labels checkpoint only
    // and the surviving labeling is still correct
    cc.labels.filter(col("id") === 52L).head.getLong(1) shouldBe 50L
    cc.labels.count() shouldBe 18L
  }

  test("LineDupStream releases each trigger's pins: persisted RDDs stay bounded by the last result (dup-heavy path)") {
    val spark0 = spark
    import spark0.implicits._
    val path = scratch("graft-linestream-leak") + "/ix"
    graft.sources.LineIndex.build(
      Seq((1L, "seen a\nseen b")).toDF("id", "text"), "text", path)
    // maxCollect = 0: every trigger's history hit takes the probe's
    // pinned distributed path
    val stream = new LineDupStream(spark, path, "id", "text", maxCollect = 0)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var last: org.apache.spark.sql.DataFrame = null
    for (t <- 0 until 6)
      last = stream.processBatch(
        Seq((10L + t, s"seen a\nfresh $t\nfresh ${t + 1}")).toDF("id", "text"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    leaked.size should be <= 1 // the last trigger's result
    // the surviving result is still readable: "fresh 5" was first kept
    // by the previous trigger and now reads as history
    last.head().getAs[String]("text_dedup") shouldBe "fresh 6"
  }

  test("streaming MAD twin: histogram state == batch bit-for-bit; stats within the rounding band of exact ev_mad") {
    val spark0 = spark
    import spark0.implicits._
    // part 1 — MemoryStream: the histogram accumulated across
    // micro-batches equals the batch groupBy exactly, and the finishing
    // stats replay percentile(0.5) interpolation (even-n split checked)
    val events: Seq[TestEvent] =
      ((1 to 10).map(i => ev(i.toLong, "click", i.toDouble, i.toLong)) :+ // med = 5.5 (interp)
        ev(60L, "click", 1000.0, 99L)) ++                                // the outlier
        (1 to 7).map(i => ev(i.toLong, "view", i.toDouble * 2, i.toLong))
    val input = MemoryStream[TestEvent](spark)
    val q = MadStream.valueHistogram(input.toDF())
      .writeStream.format("memory").queryName("mad_hist").outputMode("complete").start()
    try {
      val (a, b) = events.splitAt(6)
      input.addData(a: _*)
      q.processAllAvailable()
      input.addData(b: _*)
      q.processAllAvailable()
      val snap = spark.table("mad_hist")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
        .toDF("event_type", "v", "cnt")
      val batchHist = MadStream.valueHistogram(events.toDF())
      snap.collect().map(_.toSeq).toSet shouldBe
        batchHist.collect().map(_.toSeq).toSet
      val stats = MadStream.robustStats(snap).collect()
        .map(r => r.getString(0) -> r).toMap
      // click: values 1..10 + 1000 → n=11, med=6 (odd n), dev median:
      // devs {5,4,3,2,1,0,1,2,3,4,994} sorted → mad = 3
      stats("click").getLong(1) shouldBe 11L
      stats("click").getDouble(2) shouldBe 6.0 +- 1e-9
      stats("click").getDouble(3) shouldBe 3.0 +- 1e-9
      stats("click").getLong(4) shouldBe 1L // 994 > 3·1.4826·3
      // view: 2..14 step 2, n=7 → med=8, devs {6,4,2,0,2,4,6} → mad=4
      stats("view").getDouble(2) shouldBe 8.0 +- 1e-9
      stats("view").getDouble(3) shouldBe 4.0 +- 1e-9
    } finally q.stop()
    // part 2 — the real corpus fixture: histogram-derived stats within
    // the 4-dp rounding band of the batch EXACT entry (the CORRECTNESS
    // anchor), outlier counts equal under the same decision rule
    val exact = graft.queries.Relational.evMad(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = MadStream.robustStats(
        MadStream.valueHistogram(Tables.events(spark, sfDir)))
      .collect().map(r => r.getString(0) -> r).toMap
    approx.keySet shouldBe exact.keySet
    for ((t, a) <- approx; e = exact(t)) {
      a.getLong(1) shouldBe e.getLong(1) // n exact
      a.getDouble(2) shouldBe e.getDouble(2) +- 1e-4  // med within rounding
      a.getDouble(3) shouldBe e.getDouble(3) +- 2e-4  // mad within 2× rounding
      a.getLong(4) shouldBe e.getLong(4) // same outlier decisions on this corpus
    }
  }

  test("streaming last-touch attribution carries one-row state == the as-of batch twin") {
    val spark0 = spark
    import spark0.implicits._
    def at(m: Long, id: Long, typ: String, user: Long, ch: String, v: Double) =
      Attribution.Ev(user, new Timestamp(1700000000000L + m * 60000L), id, typ, v, ch)
    val feed = Seq(
      at(0, 1, "click", 1, "ads", 0),
      at(5, 2, "view", 1, "search", 0),
      at(5, 3, "view", 1, "social", 0),   // same-ts tie → higher id wins
      at(6, 4, "purchase", 1, null, 10.0), // credits social (id 3)
      at(7, 5, "purchase", 2, null, 4.0),  // no touch → none
      // second trigger: state must carry across micro-batches
      at(20, 6, "purchase", 1, null, 6.0), // still social
      at(25, 7, "click", 1, "email", 0),
      at(25, 8, "purchase", 1, null, 2.0), // inclusive: same-instant touch counts
      at(30, 9, "view", 2, "ads", 0),
      at(31, 10, "purchase", 2, null, 9.0))
    val split = 5
    val input = MemoryStream[Attribution.Ev](spark)
    val q = Attribution.lastTouch(input.toDF())
      .writeStream.format("memory").queryName("attr_out").outputMode("append").start()
    val streamed =
      try {
        input.addData(feed.take(split)); q.processAllAvailable()
        input.addData(feed.drop(split)); q.processAllAvailable()
        spark.table("attr_out").orderBy("event_id")
          .collect().map(r => (r.getLong(0), r.getString(4))).toSeq
      } finally q.stop()
    streamed shouldBe Seq((4L, "social"), (5L, "none"), (6L, "social"),
      (8L, "email"), (10L, "ads"))
    // the batch mode of the SAME transformation agrees
    val batched = Attribution.lastTouch(feed.toDF()).orderBy("event_id")
      .collect().map(c => (c.event_id, c.channel)).toSeq
    batched shouldBe streamed
    // and both agree with the oracle-verified as-of formulation
    val touches = feed.filter(e => Set("click", "view")(e.event_type)).toDF()
      .groupBy(col("user_id"), col("ts").as("touch_ts"))
      .agg(max(struct(col("event_id"), col("channel"))).as("t"))
      .select(col("user_id"), col("touch_ts"), col("t.channel").as("channel"))
    val purchases = feed.filter(_.event_type == "purchase").toDF()
      .select("event_id", "user_id", "ts")
    val asof = graft.ops.AsofJoin.asof(purchases, "ts", touches, "touch_ts", Seq("user_id"))
      .select(col("event_id"), coalesce(col("channel"), lit("none")).as("channel"))
      .orderBy("event_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    asof shouldBe streamed
  }

  test("streaming SCD2 emits exactly the batch build's CLOSED versions, state carries the open one") {
    val spark0 = spark
    import spark0.implicits._
    def ob(m: Long, id: Long, key: Long, attr: String) =
      ScdStream.Obs(key, new Timestamp(1700000000000L + m * 60000L), id, attr)
    val feed = Seq(
      ob(0, 1, 1, "a"), ob(5, 2, 1, "a"),   // absorb
      ob(10, 3, 1, "b"),                     // closes v1
      ob(12, 4, 2, "x"),
      // trigger split here — state must carry across
      ob(20, 5, 1, "b"),                     // absorb across batches
      ob(30, 6, 1, "c"),                     // closes v2
      ob(35, 7, 2, "y"))                     // closes key 2's v1
    val input = MemoryStream[ScdStream.Obs](spark)
    val q = ScdStream.closedVersions(input.toDF())
      .writeStream.format("memory").queryName("scd_out").outputMode("append").start()
    val streamed =
      try {
        input.addData(feed.take(4)); q.processAllAvailable()
        input.addData(feed.drop(4)); q.processAllAvailable()
        spark.table("scd_out").orderBy("key", "version").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getInt(4))).toSeq
      } finally q.stop()
    streamed shouldBe Seq((1L, "a", 1), (1L, "b", 2), (2L, "x", 1))
    // the batch mode of the SAME transformation emits the same closed set
    val batched = ScdStream.closedVersions(feed.toDF()).orderBy("key", "version")
      .collect().map(c => (c.key, c.attr, c.version)).toSeq
    batched shouldBe streamed
    // and the closed set matches the oracle-verified window build's
    // non-current rows exactly (interval bounds included)
    val dim = graft.ops.Scd.buildType2(
      feed.toDF().withColumnRenamed("key", "k"), "k", "ts", Seq("attr"), "tie")
    val closedBatch = dim.filter(!col("is_current"))
      .select(col("k"), col("attr"), col("valid_from"), col("valid_to"), col("version"))
      .orderBy("k", "version").collect().map(_.toSeq).toSeq
    val closedStream = ScdStream.closedVersions(feed.toDF())
      .toDF().select(col("key"), col("attr"), col("valid_from"), col("valid_to"),
        col("version")).orderBy("key", "version").collect().map(_.toSeq).toSeq
    closedStream shouldBe closedBatch
  }

  test("streaming attribution and SCD2 honor MICROSECOND ordering (no millis truncation)") {
    val spark0 = spark
    import spark0.implicits._
    def tsU(us: Long): Timestamp = {
      val t = new Timestamp(1700000000000L + us / 1000)
      t.setNanos(((t.getNanos / 1000000) * 1000000) + (us % 1000).toInt * 1000)
      t
    }
    // touch 500µs AFTER the purchase, inside the SAME millisecond: the
    // purchase must NOT credit it (getTime-based ordering would)
    val feed = Seq(
      Attribution.Ev(1L, tsU(100), 1, "click", 0, "early"),
      Attribution.Ev(1L, tsU(2100), 2, "purchase", 5.0, null),
      Attribution.Ev(1L, tsU(2600), 3, "click", 0, "late"), // same ms as purchase
      Attribution.Ev(1L, tsU(9000), 4, "purchase", 7.0, null))
    val credits = Attribution.lastTouch(feed.toDF())
      .orderBy("event_id").collect().map(c => (c.event_id, c.channel)).toSeq
    credits shouldBe Seq((2L, "early"), (4L, "late"))
    // SCD2: sub-ms observation times must survive into the emitted
    // intervals exactly (valid_to == successor's valid_from)
    val obs = Seq(
      ScdStream.Obs(1L, tsU(700), 1, "a"),
      ScdStream.Obs(1L, tsU(1300), 2, "b"))
    val closed = ScdStream.closedVersions(obs.toDF()).collect()
    closed.length shouldBe 1
    closed.head.valid_from shouldBe tsU(700)
    closed.head.valid_to shouldBe tsU(1300)
  }

  test("streaming trailing 7-day rollup == the batch RANGE-frame twin on the corpus fixture") {
    val spark0 = spark
    import spark0.implicits._
    // the real events table, purchases only, shaped for the stream
    val purchases = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase" &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("cast(round(value * 100) as long)").as("cents"))
    val batch = graft.queries.Relational.evRolling(spark, sfDir)
      .select("event_id", "n_7d", "rev_7d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch mode of the streaming transformation
    val viaState = RollingStream.trailing(purchases).toDF()
      .select("event_id", "n_7d", "rev_7d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    viaState shouldBe batch
    // and genuinely streamed across micro-batches (event-time order)
    val feed = purchases.orderBy("ts", "event_id")
      .as[RollingStream.P].collect().toSeq
    val input = MemoryStream[RollingStream.P](spark)
    val q = RollingStream.trailing(input.toDF())
      .writeStream.format("memory").queryName("roll_out").outputMode("append").start()
    val streamed =
      try {
        // split on a whole-second boundary: same-second RANGE peers
        // must land in one micro-batch (the feed-ordering contract)
        val half = feed.size / 2
        val splitIdx = (half until feed.size)
          .find(i => feed(i).ts.getTime / 1000 != feed(i - 1).ts.getTime / 1000)
          .getOrElse(feed.size)
        val (h, t) = feed.splitAt(splitIdx)
        input.addData(h); q.processAllAvailable()
        if (t.nonEmpty) { input.addData(t); q.processAllAvailable() }
        spark.table("roll_out").select("event_id", "n_7d", "rev_7d")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      } finally q.stop()
    streamed shouldBe batch
  }

  test("stream-static join: streaming events enrich against a static dimension") {
    val spark0 = spark
    import spark0.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver"), (3L, "bronze")).toDF("user_id", "tier")
    val input = MemoryStream[TestEvent](spark)
    // the SAME shared transformation the oracle-verified ev_enrich runs in batch
    val q = Enrich.perSegment(input.toDF(), dim, "user_id", "tier")
      .writeStream.format("memory").queryName("join_out").outputMode("complete").start()
    try {
      input.addData(sampleEvents)
      q.processAllAvailable()
      val got = spark.table("join_out").collect().map(r => (r.getString(0), r.getLong(1))).toMap
      got shouldBe Map("gold" -> 4L, "silver" -> 2L, "bronze" -> 2L)
    } finally q.stop()
  }

  test("stream-stream interval join correlates across micro-batches == batch twin") {
    val spark0 = spark
    import spark0.implicits._
    case object Ids { var n = 0L }
    def id(): Long = { Ids.n += 1; Ids.n }
    // clicks and purchases for the same users; purchase within 60 min
    // of a click correlates. Purchases arrive in a LATER micro-batch
    // than their triggers, so matching exercises buffered join state.
    val clicks = Seq(ev(0, "click", 1.0, 1), ev(10, "click", 2.0, 2), ev(200, "click", 3.0, 1))
      .map(e => (1000 + { Ids.n += 1; Ids.n }, e.user_id, e.ts))
    val purchases = Seq(ev(30, "purchase", 9.0, 1), ev(75, "purchase", 9.0, 2),
        ev(230, "purchase", 9.0, 1), ev(500, "purchase", 9.0, 2))
      .map(e => (2000 + { Ids.n += 1; Ids.n }, e.user_id, e.ts))
    val aIn = MemoryStream[(Long, Long, Timestamp)](spark)
    val bIn = MemoryStream[(Long, Long, Timestamp)](spark)
    def named(df: org.apache.spark.sql.DataFrame) = df.toDF("event_id", "user_id", "ts")
    val joined = StreamJoin.correlate(named(aIn.toDF()), named(bIn.toDF()),
      "user_id", "event_id", "ts", horizonSec = 3600L)
    val q = joined.select("trigger_id", "follow_id").writeStream
      .format("memory").queryName("funnel_out").outputMode("append").start()
    try {
      aIn.addData(clicks)
      q.processAllAvailable()
      bIn.addData(purchases) // triggers already buffered in join state
      q.processAllAvailable()
      val streamed = spark.table("funnel_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = StreamJoin.correlate(clicks.toDF("event_id", "user_id", "ts"),
          purchases.toDF("event_id", "user_id", "ts"),
          "user_id", "event_id", "ts", horizonSec = 3600L)
        .select("trigger_id", "follow_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      streamed shouldBe batch
      // u1: click@0→p@30, click@200→p@230; u2's p@75 is 65 min after
      // click@10 (outside the horizon) and p@500 even further
      batch.size shouldBe 2
    } finally q.stop()
  }
}
