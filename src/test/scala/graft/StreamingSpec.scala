package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StatefulOps, StreamingIngest}
import graft.util.TempDirs

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val eventSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("ts", TimestampType),
    StructField("event_type", StringType), StructField("value", DoubleType)))

  private def writeLanding(dir: String, rows: Seq[String]): Unit = {
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.writeString(java.nio.file.Paths.get(s"$dir/part-0.json"),
      rows.mkString("\n"))
  }

  test("ingestNovel appends only unseen docs across drains") {
    val base = TempDirs.create("novel-landing").toString
    val ckpt = TempDirs.create("novel-ckpt").toString
    val tbl = "stream_novel_t"
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ingest_on", DateType)))
    def doc(id: Long, text: String, d: String) =
      s"""{"doc_id":$id,"text":"$text","ingest_on":"$d"}"""
    writeLanding(base, Seq(
      doc(1, "alpha beta", "2020-02-01"),
      doc(2, "alpha beta", "2020-02-01"),   // within-drain duplicate
      doc(3, "gamma delta", "2020-02-01")))
    def stream() = spark.readStream.schema(docSchema).json(base)
    StreamingIngest.ingestNovel(stream(), spark, tbl, ckpt)
    assert(spark.table(tbl).count() == 2)
    // second drain: one replayed text, one new — only the new lands
    Files.writeString(java.nio.file.Paths.get(s"$base/part-1.json"),
      Seq(doc(4, "alpha beta", "2020-02-02"),
        doc(5, "epsilon zeta", "2020-02-02")).mkString("\n"))
    StreamingIngest.ingestNovel(stream(), spark, tbl, ckpt)
    assert(spark.table(tbl).count() == 3)
    assert(spark.table(tbl).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
  }

  test("file-stream ingest with AvailableNow drains landing exactly once") {
    val base = TempDirs.create("stream-landing").toString
    val out = TempDirs.create("stream-out").toString
    val ckpt = TempDirs.create("stream-ckpt").toString
    writeLanding(base, (1 to 20).map(i =>
      s"""{"user_id":${i % 3},"ts":"2024-01-01T00:0${i % 10}:00.000Z","event_type":"play","value":$i.0}"""))
    val stream = StreamingIngest.readLandingStream(spark, base, eventSchema)
    assert(stream.isStreaming)
    StreamingIngest.runAvailableNow(stream, out, ckpt)
    assert(spark.read.parquet(out).count() == 20)
    // second drain with same checkpoint: no new files -> no duplicates
    StreamingIngest.runAvailableNow(
      StreamingIngest.readLandingStream(spark, base, eventSchema), out, ckpt)
    assert(spark.read.parquet(out).count() == 20)
  }

  test("watermarked windowed aggregation matches the batch equivalent") {
    val base = TempDirs.create("stream-landing2").toString
    writeLanding(base, (0 until 60).map(i =>
      s"""{"user_id":${i % 5},"ts":"2024-01-01T0${i / 30}:${"%02d".format(i % 30)}:00.000Z","event_type":"${if (i % 2 == 0) "play" else "pause"}","value":1.0}"""))
    val agg = StreamingIngest.windowedEventAgg(
      StreamingIngest.readLandingStream(spark, base, eventSchema),
      window_ = "1 hour", watermark = "2 hours")
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("winagg")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // append mode emits only watermark-closed windows (none here — the
    // fixture spans 2h and the watermark lags 2h); the streaming run
    // above exercises the watermark/window path, and the batch
    // equivalent below pins the expected aggregation values
    val batch = spark.read.schema(eventSchema).json(base)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("ws"), $"event_type", $"n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(batch.size == 4) // 2 hours × 2 event types
    assert(batch.forall(_._3 == 15L))
  }

  test("streaming dedup drops within-watermark re-deliveries") {
    val base = TempDirs.create("stream-dedup").toString
    // 30 logical events, each delivered twice (at-least-once source)
    val rows = (0 until 30).flatMap { i =>
      val r = s"""{"user_id":$i,"ts":"2024-01-01T00:${"%02d".format(i % 30)}:00.000Z","event_type":"play","value":1.0}"""
      Seq(r, r)
    }
    writeLanding(base, rows)
    val deduped = StreamingIngest.dedupStream(
      StreamingIngest.readLandingStream(spark, base, eventSchema),
      keyCols = Seq("user_id", "event_type"), watermark = "1 hour")
    val q = deduped.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedupstream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.sql("SELECT user_id FROM dedupstream").collect()
      .map(_.getLong(0))
    assert(out.length == 30, s"expected 30 unique, got ${out.length}")
    assert(out.toSet.size == 30)
  }

  test("stream-stream interval join matches the batch equivalent") {
    val base = TempDirs.create("stream-ssjoin").toString
    // user 1: click at :00 → buys at :05 (match) and :45 (outside 30m);
    // user 2: click at :10 → buy at :20 (match); user 3: buy with no
    // click; a buy BEFORE user 1's click must not match either
    writeLanding(base, Seq(
      """{"user_id":1,"ts":"2024-01-01T00:00:00.000Z","event_type":"click","value":1.0}""",
      """{"user_id":1,"ts":"2024-01-01T00:05:00.000Z","event_type":"buy","value":10.0}""",
      """{"user_id":1,"ts":"2024-01-01T00:45:00.000Z","event_type":"buy","value":20.0}""",
      """{"user_id":1,"ts":"2023-12-31T23:50:00.000Z","event_type":"buy","value":30.0}""",
      """{"user_id":2,"ts":"2024-01-01T00:10:00.000Z","event_type":"click","value":1.0}""",
      """{"user_id":2,"ts":"2024-01-01T00:20:00.000Z","event_type":"buy","value":40.0}""",
      """{"user_id":3,"ts":"2024-01-01T00:30:00.000Z","event_type":"buy","value":50.0}"""))
    def side(tpe: String, keyAs: String, tsAs: String) =
      StreamingIngest.readLandingStream(spark, base, eventSchema)
        .filter($"event_type" === tpe)
        .select($"user_id".as(keyAs), $"ts".as(tsAs), $"value")
    val joined = StreamingIngest.intervalJoin(
      side("click", "user_id", "click_ts").drop("value"),
      side("buy", "buy_user", "buy_ts"),
      "user_id", "buy_user", "click_ts", "buy_ts",
      maxGap = "30 minutes", watermark = "2 hours")
    assert(joined.isStreaming)
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ssjoin")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.sql("SELECT user_id, value FROM ssjoin").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 10.0), (2L, 40.0)),
      s"wrong pair set: $got")
  }

  test("enrichStream broadcast-joins a static dim without dropping rows") {
    val base = TempDirs.create("stream-enrich").toString
    writeLanding(base, Seq(
      """{"user_id":1,"ts":"2024-01-01T00:00:00.000Z","event_type":"play","value":1.0}""",
      """{"user_id":2,"ts":"2024-01-01T00:01:00.000Z","event_type":"play","value":2.0}""",
      """{"user_id":9,"ts":"2024-01-01T00:02:00.000Z","event_type":"play","value":3.0}"""))
    val dim = Seq((1L, "AR"), (2L, "MX")).toDF("user_id", "country")
    val enriched = StreamingIngest.enrichStream(
      StreamingIngest.readLandingStream(spark, base, eventSchema),
      dim, Seq("user_id"))
    assert(enriched.isStreaming)
    val q = enriched.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("enriched")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.sql("SELECT user_id, country FROM enriched").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    // left join: the dim-less user 9 survives with a null country
    assert(got == Set((1L, Some("AR")), (2L, Some("MX")), (9L, None)),
      s"wrong enrichment: $got")
  }

  test("sinkToSilver lands a stream as a partitioned catalog table") {
    val base = TempDirs.create("stream-silver").toString
    val ckpt = TempDirs.create("stream-silver-ckpt").toString
    writeLanding(base, (1 to 12).map(i =>
      s"""{"user_id":$i,"ts":"2024-01-01T00:0${i % 10}:00.000Z","event_type":"play","value":$i.0}"""))
    val tbl = "silver_stream_events"
    val stream = StreamingIngest.readLandingStream(spark, base, eventSchema)
      .withColumn("ingest_on", to_date(lit("2024-01-01")))
    StreamingIngest.sinkToSilver(stream, spark, tbl, ckpt)
    assert(spark.table(tbl).count() == 12)
    // partition column materialized for pruning
    assert(spark.table(tbl).columns.contains("ingest_on"))
    // re-drain with same checkpoint: no new files → no duplicates
    StreamingIngest.sinkToSilver(
      StreamingIngest.readLandingStream(spark, base, eventSchema)
        .withColumn("ingest_on", to_date(lit("2024-01-01"))),
      spark, tbl, ckpt)
    assert(spark.table(tbl).count() == 12)
    // ADVICE r2: late-arriving files for an ALREADY-LANDED partition,
    // drained later with the same checkpoint, must fail loudly instead
    // of silently overwriting the partition with only the new rows
    Files.writeString(java.nio.file.Paths.get(s"$base/part-late.json"),
      """{"user_id":99,"ts":"2024-01-01T05:00:00.000Z","event_type":"play","value":1.0}""")
    val err = intercept[Exception] {
      StreamingIngest.sinkToSilver(
        StreamingIngest.readLandingStream(spark, base, eventSchema)
          .withColumn("ingest_on", to_date(lit("2024-01-01"))),
        spark, tbl, ckpt)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(err).exists(_.contains("already landed")),
      s"wrong failure: $err")
    // the earlier drain's rows survived
    assert(spark.table(tbl).count() == 12)
  }

  test("partition ledger: replays idempotent, cross-batch overlap flagged") {
    val ckpt = TempDirs.create("ledger").toString
    val ledger = new StreamingIngest.PartitionLedger(spark, ckpt)
    ledger.record(0L, Set[Any]("2024-01-01", "2024-01-02"))
    // a crash-REPLAY of batch 0 re-lands the same partitions — not a
    // conflict (it rewrites exactly its own output)
    assert(ledger.overlap(0L, Set[Any]("2024-01-01")).isEmpty)
    // a DIFFERENT batch touching a landed partition is the data-loss
    // case the guard exists for
    assert(ledger.overlap(1L, Set[Any]("2024-01-01", "2024-01-03"))
      == Set[Any]("2024-01-01"))
    // null partition values round-trip without colliding with the
    // string "null"
    ledger.record(2L, Set[Any](null))
    assert(ledger.overlap(3L, Set[Any](null)) == Set[Any](null))
    assert(ledger.overlap(3L, Set[Any]("null")).isEmpty)
    // a fresh ledger instance over the same checkpoint sees history
    // (this is what makes the guard hold across drains)
    val reopened = new StreamingIngest.PartitionLedger(spark, ckpt)
    assert(reopened.overlap(9L, Set[Any]("2024-01-02"))
      == Set[Any]("2024-01-02"))
  }

  test("transformWithState caps per-key contributions across batches") {
    import StreamingIngest.Event
    val base = TempDirs.create("stream-cap").toString
    def row(u: Long, m: Int) =
      s"""{"user_id":$u,"ts":"2024-01-01T00:${"%02d".format(m)}:00.000Z","event_type":"play","value":1.0}"""
    // user 1 floods (10 rows), user 2 stays under the cap (2 rows)
    writeLanding(base, (0 until 10).map(row(1L, _)) ++ Seq(row(2L, 0), row(2L, 1)))
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = StreamingIngest
        .readLandingStream(spark, base, eventSchema).as[Event]
      val capped = StatefulOps.capPerKey(
        events, (e: Event) => e.user_id, maxPerKey = 3L)
      assert(capped.isStreaming)
      val out = TempDirs.create("stream-cap-out").toString
      val ckpt = TempDirs.create("stream-cap-ckpt").toString
      def drain(): Unit =
        StreamingIngest.runAvailableNow(capped.toDF(), out, ckpt)
      def countsByUser(): Map[Long, Long] =
        spark.read.parquet(out).groupBy("user_id").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      drain()
      assert(countsByUser() == Map(1L -> 3L, 2L -> 2L),
        s"wrong cap: ${countsByUser()}")
      // the admitted-count state survives the restart: a later file
      // brings user 2 to 4 lifetime rows, only 1 more is admitted
      Files.writeString(java.nio.file.Paths.get(s"$base/part-1.json"),
        Seq(row(2L, 30), row(2L, 31)).mkString("\n"))
      drain()
      assert(countsByUser() == Map(1L -> 3L, 2L -> 3L),
        s"cap not enforced across drains: ${countsByUser()}")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming funnel advances per-key stages across batches and " +
      "never retracts") {
    import StatefulOps.FunnelEvent
    val base = TempDirs.create("stream-funnel").toString
    def row(u: Long, hms: String, t: String) =
      s"""{"user_id":$u,"ts":"2024-01-01T$hms.000Z","event_type":"$t"}"""
    def addFile(name: String, rows: Seq[String]): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$base/$name"),
        rows.mkString("\n"))
    Files.createDirectories(java.nio.file.Paths.get(base))
    // batch 1 — u1: view then click (out of arrival order in the
    // file: click line first, sorted by ts inside the processor);
    // u2: purchase BEFORE any view (must not count)
    addFile("part-0.json", Seq(
      row(1, "00:10:00", "click"), row(1, "00:00:00", "view"),
      row(2, "00:00:00", "purchase")))
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val schema = StructType(Seq(StructField("user_id", LongType),
        StructField("ts", TimestampType),
        StructField("event_type", StringType)))
      val hits = StatefulOps.funnelProgress(
        spark.readStream.schema(schema).json(base).as[FunnelEvent],
        stages = Seq("view", "click", "purchase"))
      assert(hits.isStreaming)
      val out = TempDirs.create("stream-funnel-out").toString
      val ckpt = TempDirs.create("stream-funnel-ckpt").toString
      def drain(): Unit =
        StreamingIngest.runAvailableNow(hits.toDF(), out, ckpt)
      def read(): Set[(Long, Int)] =
        spark.read.parquet(out).collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSet
      drain()
      assert(read() == Set((1L, 0), (1L, 1)),
        s"batch-1 stages wrong: ${read()}")
      // batch 2 — u1 completes purchase (state crossed the restart);
      // u2 finally views, then a stale purchase at the SAME ts as the
      // view must NOT complete (needs strictly-after); a second
      // purchase later does
      addFile("part-1.json", Seq(
        row(1, "00:20:00", "purchase"),
        row(2, "00:30:00", "view"), row(2, "00:30:00", "purchase"),
        row(2, "00:31:00", "click"), row(2, "00:32:00", "purchase")))
      drain()
      assert(read() == Set((1L, 0), (1L, 1), (1L, 2),
        (2L, 0), (2L, 1), (2L, 2)), s"batch-2 stages wrong: ${read()}")
      // batch 3 — duplicates of completed stages emit nothing new
      addFile("part-2.json", Seq(row(1, "00:40:00", "view"),
        row(1, "00:41:00", "purchase")))
      drain()
      assert(spark.read.parquet(out).count() == 6,
        "completed stages must not re-emit")
    } finally prev match {
      case Some(p) => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset(
        "spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("timer-based sessionization (transformWithState event-time " +
      "timers) flushes the open session when the watermark passes") {
    import StatefulOps.{SessEvent, SessionOut}
    val base = TempDirs.create("stream-sess-t").toString
    def row(u: Long, hms: String) =
      s"""{"user_id":$u,"ts":"2024-01-01T$hms.000Z"}"""
    def addFile(name: String, rows: Seq[String]): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$base/$name"),
        rows.mkString("\n"))
    // batch 1: session A of user 1 (two events 30 s apart, gap 60 s)
    Files.createDirectories(java.nio.file.Paths.get(base))
    addFile("part-0.json", Seq(row(1, "00:00:00"), row(1, "00:00:30")))
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val schema = StructType(Seq(StructField("user_id", LongType),
        StructField("ts", TimestampType)))
      val events = spark.readStream.schema(schema).json(base)
        .as[SessEvent]
      val sessions = StatefulOps.sessionizeWithTimers(events,
        gapMs = 60000L, watermarkDelay = "10 seconds")
      assert(sessions.isStreaming)
      val out = TempDirs.create("stream-sess-t-out").toString
      val ckpt = TempDirs.create("stream-sess-t-ckpt").toString
      def drain(): Unit =
        StreamingIngest.runAvailableNow(sessions.toDF(), out, ckpt)
      def read(): Set[(Long, Long, Long, Long)] =
        spark.read.parquet(out).collect().map(r => (r.getLong(0),
          r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      def ms(hms: String): Long =
        java.time.Instant.parse(s"2024-01-01T${hms}Z").toEpochMilli
      drain()
      // session A is still open: its finalize timer (end+gap =
      // 00:01:30) is past the watermark (00:00:20)
      assert(read().isEmpty, s"open session flushed early: ${read()}")
      // batch 2: a later event of the SAME user closes A by gap logic
      // directly and opens session B
      addFile("part-1.json", Seq(row(1, "00:10:00")))
      drain()
      val a = (1L, ms("00:00:00"), ms("00:00:30"), 2L)
      assert(read() == Set(a), s"expected closed session A: ${read()}")
      // batch 3: traffic from ANOTHER user pushes the watermark past
      // B's expiry — B must flush via its event-time timer, with no
      // further user-1 traffic
      addFile("part-2.json", Seq(row(99, "00:30:00")))
      drain()
      val b = (1L, ms("00:10:00"), ms("00:10:00"), 1L)
      assert(read() == Set(a, b),
        s"timer did not flush the open session: ${read()}")
    } finally prev match {
      case Some(p) => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset(
        "spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stateful sessionization closes sessions on inactivity gaps") {
    import StreamingIngest.Event
    def ev(u: Long, minute: Int, v: Double) = Event(u,
      java.sql.Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00"), "play", v)
    // user 1: two sessions (gap at 30min); user 2: one session
    val events = Seq(
      ev(1, 0, 1.0), ev(1, 1, 2.0), ev(1, 2, 3.0),
      ev(1, 40, 4.0), ev(1, 41, 5.0),
      ev(2, 10, 9.0)).toDS()
    val sessions = StreamingIngest.sessionize(events, gapMs = 10L * 60 * 1000)
      .collect()
    // batch invocation: open sessions flush via the final-batch path in
    // flatMapGroups (closed-by-gap sessions emit; trailing ones remain
    // in state). The first session of user 1 must be emitted closed.
    val u1 = sessions.filter(_.user_id == 1L)
    assert(u1.exists(s => s.events == 3 && s.total_value == 6.0),
      s"expected closed 3-event session, got ${u1.toSeq}")
  }

  test("KMV sketch state survives the state store across microbatches " +
      "and drains to the exact batch value") {
    import graft.functions.KmvFunctions._
    val root = TempDirs.create("graft-kmv-stream").toString
    // 4 separate files + maxFilesPerTrigger=1 → 4 microbatches: the
    // TypedImperativeAggregate buffer must serialize through the
    // state store between every pair of batches
    val rows = (1 to 200).map(i => (s"g${i % 2}", s"val-$i"))
    rows.grouped(50).zipWithIndex.foreach { case (chunk, i) =>
      chunk.toDF("g", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/in/part$i")
    }
    val src = spark.readStream
      .schema("g STRING, v STRING")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$root/in")
    val agg = src.groupBy($"g")
      .agg(kmv_distinct(kmv_hash48($"v"), 8).as("e"))
    graft.streaming.StreamingIngest.drainCompleteToParquet(
      agg, spark, s"$root/out")
    val streamed = spark.read.parquet(s"$root/out").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = rows.toDF("g", "v").groupBy($"g")
      .agg(kmv_distinct(kmv_hash48($"v"), 8).as("e")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch,
      s"streamed $streamed must equal batch $batch exactly")
    assert(streamed.keySet == Set("g0", "g1"))
  }

  test("kmv_sample pair-buffer state survives the state store across " +
      "microbatches and drains to the exact batch sample") {
    import graft.functions.KmvFunctions._
    val root = TempDirs.create("graft-kmv-sample-stream").toString
    // 4 microbatches: the (hash, value) TreeSet must round-trip the
    // state store's serialize/deserialize between every pair
    val rows = (1 to 200).map(i => (s"g${i % 2}", i.toLong, i * 2.0))
    rows.grouped(50).zipWithIndex.foreach { case (chunk, i) =>
      chunk.toDF("g", "id", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/in/part$i")
    }
    val src = spark.readStream
      .schema("g STRING, id BIGINT, v DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$root/in")
    val agg = src.groupBy($"g")
      .agg(kmv_sample(kmv_hash48($"id"), $"v", 8).as("sk"))
    graft.streaming.StreamingIngest.drainCompleteToParquet(
      agg, spark, s"$root/out")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getLong(0), x.getDouble(1)))).toMap
    val streamed = pairs(spark.read.parquet(s"$root/out"))
    val batch = pairs(rows.toDF("g", "id", "v").groupBy($"g")
      .agg(kmv_sample(kmv_hash48($"id"), $"v", 8).as("sk")))
    assert(streamed == batch,
      s"streamed $streamed must equal batch $batch exactly")
    assert(streamed.keySet == Set("g0", "g1"))
    streamed.values.foreach(sk => assert(sk.length == 8))
  }
}
