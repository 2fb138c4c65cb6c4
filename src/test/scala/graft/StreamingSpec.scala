package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Event, SessionSummary}

/** Structured Streaming specs: the windowed aggregation and the stateful
  * sessionizer run as real streams (MemoryStream source, memory sink), and
  * the sessionizer agrees with its batch-window equivalent.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val us = 1000L * 1000 // ts unit below: microseconds
  private def ev(id: Long, tMin: Long, user: Long, typ: String = "view"): Event =
    Event(id, tMin * 60 * us, user, typ, 1.0)

  test("streaming windowed aggregation over a MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    // EventStreams expects nano ts; our helper built µs → scale up
    val counts = EventStreams.hourlyTypeCounts(
      input.toDF().withColumn("ts", org.apache.spark.sql.functions.col("ts") * 1000))
    val q = counts.writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("hourly").start()
    try {
      input.addData(ev(1, 10, 1), ev(2, 20, 1), ev(3, 70, 2), ev(4, 80, 2, "click"))
      q.processAllAvailable()
      val out = spark.table("hourly").collect()
        .map(r => (r.getAs[Long]("hour_idx"), r.getAs[String]("event_type")) -> r.getAs[Long]("n"))
        .toMap
      // ts anchored at epoch: minutes 10/20 → hour 0; 70/80 → hour 1
      assert(out((0L, "view")) === 2L)
      assert(out((1L, "view")) === 1L)
      assert(out((1L, "click")) === 1L)
    } finally q.stop()
  }

  test("stateful sessionization matches the batch-window form") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // minutes offset to 1000+ (an event AT the initial epoch-0 watermark
    // would be dropped as late before the state machine ever sees it).
    // user 1: minutes 1000, 1007, 1010, 1050 (gaps ≤10, then 40) with a
    // 30-min gap → two sessions; user 2: minutes 1005, 1100 → two sessions
    val events = Seq(
      ev(1, 1000, 1), ev(6, 1007, 1), ev(2, 1010, 1), ev(3, 1050, 1),
      ev(4, 1005, 2), ev(5, 1100, 2))
    val ns = us * 1000
    val gapNs = 30L * 60 * ns

    val batch = EventStreams.sessionizeBatch(
        events.toDF().withColumn("ts", col("ts") * 1000).as[Event], gapNs)
      .collect().map(x => (x.user_id, x.n_events, x.start_ts, x.end_ts)).toSet
    assert(batch === Set(
      (1L, 3L, 1000L * 60 * ns, 1010L * 60 * ns),
      (1L, 1L, 1050L * 60 * ns, 1050L * 60 * ns),
      (2L, 1L, 1005L * 60 * ns, 1005L * 60 * ns),
      (2L, 1L, 1100L * 60 * ns, 1100L * 60 * ns)))

    // streaming: minute 7 arrives OUT OF ORDER in a later micro-batch (the
    // watermark buffer must fold it back before minute 10), and the final
    // batch is OTHER users advancing the watermark — every session of users
    // 1/2 must flush via the event-time timeout, no per-user sentinel.
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(
        input.toDF().withColumn("ts", col("ts") * 1000),
        gapNs, watermark = "60 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessions").start()
    try {
      input.addData(ev(1, 1000, 1), ev(2, 1010, 1), ev(4, 1005, 2))
      q.processAllAvailable()
      input.addData(ev(6, 1007, 1), ev(3, 1050, 1), ev(5, 1100, 2))
      q.processAllAvailable()
      input.addData(ev(98, 11000, 98), ev(99, 11001, 99))
      q.processAllAvailable()
      val streamed = spark.table("sessions").as[SessionSummary].collect()
        .filter(x => x.user_id == 1L || x.user_id == 2L)
        .map(x => (x.user_id, x.n_events, x.start_ts, x.end_ts)).toSet
      assert(streamed === batch,
        s"stream=$streamed batch=$batch")
    } finally q.stop()
  }

  test("custom sessionizer matches Spark's builtin session_window on real events") {
    // three-way agreement pin: the gap-based semantics implemented twice by
    // us (batch window form + streaming state machine) must also agree with
    // the engine's own session_window aggregation. Boundary caveat: the
    // builtin closes a session at diff >= gap (window end exclusive) while
    // ours closes at diff > gap — indistinguishable unless two events sit
    // EXACTLY gap apart at µs grain, which the corpus does not contain.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val evs = graft.Tables(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), expr("ts div 1000").as("ts"), col("user_id"),
        col("event_type"), col("value"))
    val gap = 30L * 60 * us
    val custom = EventStreams.sessionizeBatch(evs.as[Event], gap)(spark)
      .collect().map(x => (x.user_id, x.n_events, x.start_ts, x.end_ts)).toSet
    val builtin = evs
      .withColumn("t", timestamp_micros(col("ts")))
      .groupBy(col("user_id"), session_window(col("t"), "30 minutes"))
      .agg(count(lit(1)).as("n"),
        min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n"),
        r.getAs[Long]("start_ts"), r.getAs[Long]("end_ts"))).toSet
    assert(custom === builtin)
  }

  test("sessionizer force-flushes an open session past the state cap") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[Event]
    // giant gap: nothing would ever close without the cap; a later user's
    // event matures user 1's events into the tail, which then exceeds the cap
    val q = EventStreams.sessionize(
        input.toDF().withColumn("ts", col("ts") * 1000),
        gap = Long.MaxValue / 2, maxBuffer = 2)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("capped_sessions").start()
    try {
      input.addData(ev(1, 1000, 1), ev(2, 1010, 1), ev(3, 1020, 1))
      q.processAllAvailable()
      input.addData(ev(9, 11000, 2)) // watermark driver
      q.processAllAvailable()
      val out = spark.table("capped_sessions").as[SessionSummary].collect()
      assert(out.map(x => (x.user_id, x.n_events)).toSet === Set((1L, 3L)),
        s"expected the 3-event open session flushed by the cap, got ${out.mkString(",")}")
    } finally q.stop()
  }

  test("stream-stream interval join matches its batch range-join form") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val purchases = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    def nano(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ts", org.apache.spark.sql.functions.col("ts") * 1000)
    val joined = EventStreams.attributionJoin(
      nano(purchases.toDF()), nano(clicks.toDF()))
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("attrib_out").start()
    try {
      // purchase@1000min for user 1; clicks at +10min (in window), +40min
      // (outside), same-user-other and other-user controls
      purchases.addData(ev(100, 1000, 1, "purchase"), ev(101, 1500, 2, "purchase"))
      clicks.addData(ev(200, 1010, 1, "click"), ev(201, 1040, 1, "click"),
        ev(202, 1010, 3, "click"), ev(203, 1520, 2, "click"))
      q.processAllAvailable()
      val stream = spark.table("attrib_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(stream === Set((100L, 200L), (101L, 203L)))
      // batch form of the same inputs through the same code path
      val batch = EventStreams.attributionJoin(
          nano(Seq(ev(100, 1000, 1, "purchase"), ev(101, 1500, 2, "purchase")).toDF()),
          nano(Seq(ev(200, 1010, 1, "click"), ev(201, 1040, 1, "click"),
            ev(202, 1010, 3, "click"), ev(203, 1520, 2, "click")).toDF()))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch === stream)
    } finally q.stop()
  }

  test("watermarked stream dedup keeps one row per key and agrees with batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val keys = Seq("user_id", "event_type", "value")
    val deduped = EventStreams.dedupStream(
      input.toDF().withColumn("ts", org.apache.spark.sql.functions.col("ts") * 1000),
      keys)
    val q = deduped.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_out").start()
    try {
      // duplicates fed in event-time order ACROSS micro-batches — within a
      // single batch the surviving row is partition-arbitrary, so ordered
      // replay means one batch per timestamp tick here. Times sit well past
      // epoch 0: a row AT the initial watermark (0) is dropped as late.
      input.addData(ev(1, 1000, 1))
      q.processAllAvailable()
      input.addData(ev(2, 1005, 1), ev(3, 1007, 2),
        ev(4, 1009, 1, "click"), ev(5, 1011, 1))
      q.processAllAvailable()
      val got = spark.table("dedup_out").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
          r.getAs[Long]("event_id")))
        .toSet
      // first arrival survives per key == min event_id (in-order feed)
      assert(got === Set((1L, "view", 1L), (2L, "view", 3L), (1L, "click", 4L)))
      // batch form: same survivors, plus copy counts
      val batch = EventStreams.dedupBatch(
        Seq(ev(1, 1000, 1), ev(2, 1005, 1), ev(3, 1007, 2),
          ev(4, 1009, 1, "click"), ev(5, 1011, 1)).toDF(), keys)
        .collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("n_copies"))).toSet
      assert(batch === Set((1L, 3L), (3L, 1L), (4L, 1L)))
    } finally q.stop()
  }

  test("bloom ingest stream dedups within batches, across batches, and vs the corpus") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely different content about spark engines")
    ).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.Map[Long, Set[Long]]()
    val q = graft.streaming.DocIngest.bloomIngestStream(
      input.toDF().toDF("doc_id", "text"), corpus, expectedRows = 100) {
      (adm, id) =>
        admitted.synchronized {
          admitted(id) = adm.select("doc_id").as[Long].collect().toSet
        }
    }
    try {
      input.addData(
        (10L, "the quick brown fox jumps over the lazy dog"), // corpus dup
        (11L, "a genuinely new document about training data"),
        (12L, "a genuinely new document about training data")) // intra-batch dup of 11
      q.processAllAvailable()
      input.addData(
        (20L, "a genuinely new document about training data"), // cross-batch dup of 11
        (21L, "another new document, unlike anything before"))
      q.processAllAvailable()
      val sets = admitted.synchronized(admitted.toMap)
      assert(sets.values.toSet === Set(Set(11L), Set(21L)),
        s"bloom ingest admitted wrong sets: $sets")
    } finally q.stop()
  }

  test("bloom ingest restart: priorAdmitted rehydrates the cross-batch state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    // "first run" admitted this doc before the crash (it sits in the sink)
    val prior = Seq((11L, "a genuinely new document about training data"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set[Long]()
    val q = graft.streaming.DocIngest.bloomIngestStream(
      input.toDF().toDF("doc_id", "text"), corpus, expectedRows = 100,
      priorAdmitted = Some(prior)) {
      (adm, _) => got.synchronized { got ++= adm.select("doc_id").as[Long].collect() }
    }
    try {
      input.addData(
        (20L, "a genuinely new document about training data"), // dup of prior admission
        (21L, "the quick brown fox jumps over the lazy dog"),  // dup of corpus
        (22L, "content the crashed run never saw"))
      q.processAllAvailable()
      assert(got.synchronized(got.toSet) === Set(22L),
        s"restart lost prior admissions: $got")
    } finally q.stop()
  }

  test("bloom ingest compaction bounds verification arms over 50 admitting batches") {
    import spark.implicits._
    val corpus = Seq((0L, "seed document in the corpus"))
      .toDF("doc_id", "text")
    val K = 8
    val state = new graft.streaming.DocIngest.BloomIngestState(
      corpus, expectedRows = 1000, compactEvery = K)
    // 50 batches, each admitting one genuinely new doc — the shape that
    // grew the r5 verification union one plan arm per batch, unbounded
    var maxArms = 0
    (1 to 50).foreach { i =>
      val batch = Seq((100L + i, s"unique document number $i about topic ${i * 7}"))
        .toDF("doc_id", "text")
      val admitted = state.admitBatch(batch).select("doc_id").as[Long].collect().toSet
      assert(admitted === Set(100L + i), s"batch $i should admit its one new doc")
      maxArms = math.max(maxArms, state.verifyArms)
      assert(state.verifyArms <= K + 1,
        s"verification base grew past the compaction bound at batch $i: ${state.verifyArms}")
    }
    // compaction actually ran (the list folded at least once) AND the bound
    // was genuinely exercised up to its ceiling: the delta list grows to
    // K-1, and the batch that would make it K folds it to 1 before
    // returning — so K arms (corpus + K-1 deltas) is the observable max
    assert(maxArms === K, s"expected the arm count to reach K, saw $maxArms")
    // a duplicate of batch 1's admission — now living only in a COMPACTED
    // delta — is still rejected in "batch 51", as are corpus and recent dups
    val dupBatch = Seq(
      (900L, "unique document number 1 about topic 7"),  // batch-1 admission dup
      (901L, "seed document in the corpus"),             // corpus dup
      (902L, "unique document number 50 about topic 350"), // recent dup
      (903L, "a never-before-seen straggler")
    ).toDF("doc_id", "text")
    val finalAdmitted = state.admitBatch(dupBatch).select("doc_id").as[Long].collect().toSet
    assert(finalAdmitted === Set(903L),
      s"compacted state lost an admission: $finalAdmitted")
  }

  test("bloom ingest state warns once when insertions approach the filter's headroom") {
    import spark.implicits._
    // expectedRows=10 with an 9-doc corpus: the first admitting batch
    // crosses the 80% occupancy line
    val corpus = (1 to 9).map(i => (i.toLong, s"corpus doc $i")).toDF("doc_id", "text")
    val state = new graft.streaming.DocIngest.BloomIngestState(
      corpus, expectedRows = 10, compactEvery = 8)
    // occupancy estimate starts at 9/10 (>80%): the very first admission
    // must not crash and must still admit correctly — the warning is LOUD
    // but correctness never depends on the filter
    val admitted = state.admitBatch(
      Seq((100L, "a new document")).toDF("doc_id", "text"))
      .select("doc_id").as[Long].collect().toSet
    assert(admitted === Set(100L))
    // and a duplicate past saturation still rejects (exact verify decides)
    val again = state.admitBatch(
      Seq((101L, "a new document")).toDF("doc_id", "text"))
      .select("doc_id").as[Long].collect().toSet
    assert(again === Set.empty[Long])
  }

  test("bloom ingest rebuilds a saturated filter and keeps the broadcast route") {
    import spark.implicits._
    // sized with ZERO headroom: the 4-doc corpus alone reaches the sizing,
    // so the old warn-and-degrade behavior would run every batch with a
    // filter whose fpp drifts toward 1 — maybe-set ≈ batch size, which at
    // maxBroadcastFps=3 silently degrades to the full shuffle anti-join the
    // tier exists to avoid. The rebuild path must instead re-size with
    // doubled headroom from the maintained fingerprint union, keeping the
    // maybe set at fpp level and the route broadcast for the stream's life.
    val corpus = (1 to 4).map(i => (i.toLong, s"corpus seed document $i"))
      .toDF("doc_id", "text")
    val state = new graft.streaming.DocIngest.BloomIngestState(
      corpus, expectedRows = 4, maxBroadcastFps = 3, compactEvery = 8)
    (1 to 3).foreach { b =>
      val batch = (1 to 12)
        .map(i => (b * 100L + i, s"fresh batch-$b document $i topic ${b * 31 + i}"))
        .toDF("doc_id", "text")
      val admitted = state.admitBatch(batch).select("doc_id").as[Long].collect()
      assert(admitted.length === 12, s"batch $b admitted ${admitted.length}")
      val (maybeN, broadcastRoute) = state.lastRoute.get
      assert(broadcastRoute, s"batch $b fell off the broadcast route " +
        s"(maybe=$maybeN > maxBroadcastFps) — filter not rebuilt?")
      assert(maybeN <= 1, s"batch $b maybe-set $maybeN is saturation, not fpp")
    }
    // the sizing actually grew and at least two rebuilds fired (4 → 8 before
    // batch 1; 16 inserts ≥ 8 → 32 before batch 2; 28 < 32 → none at batch 3)
    assert(state.rebuildCount >= 2, s"rebuilds=${state.rebuildCount}")
    assert(state.currentSizing >= 32, s"sizing=${state.currentSizing}")
    // and the rebuilt filter still carries every prior admission: corpus
    // dups and batch-1 admissions are rejected, a straggler admits
    val mixed = Seq(
      (900L, "corpus seed document 2"),
      (901L, "fresh batch-1 document 5 topic 36"),
      (902L, "a never-before-seen straggler")
    ).toDF("doc_id", "text")
    val last = state.admitBatch(mixed).select("doc_id").as[Long].collect().toSet
    assert(last === Set(902L), s"rebuilt filter lost history: $last")
  }

  test("bloom ingest over the real corpus equals the batch tier, any batch slicing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs01 = graft.Tables(spark, "/root/testdata/sf0.01", "documents")
    val bucket = graft.operators.Sampling.hashBucket(col("doc_id"))
    val corpus = docs01.filter(bucket < 80)
    // the real batch bucket (no intra-batch duplicate contents at sf0.01 —
    // verified) PLUS planted re-keyed duplicates, so the self-dedup and
    // cross-batch stages are exercised, not vacuous; arrivals are sorted by
    // doc_id so "first arrival" and "min doc_id" coincide (the stream keeps
    // the first-arriving copy, the batch emulation below keeps the min id)
    val real = docs01.filter(bucket >= 80)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val batchRows = (real ++ real.take(9).map { case (id, t) => (id + (1L << 40), t) })
      .sortBy(_._1)
    // batch-tier truth on the whole arrival set at once — self-deduped
    // first (the stream keeps the min doc_id per content; the plain batch
    // tier has no intra-batch stage)
    def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    val firsts = batchRows.groupBy(r => norm(r._2)).map(_._2.minBy(_._1)).toSeq
    val want = graft.operators.Dedup.incrementalDedupBloom(corpus,
      firsts.toDF("doc_id", "text")).as[Long].collect().toSet
    // stream the same rows in three arbitrary slices
    val input = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set[Long]()
    val q = graft.streaming.DocIngest.bloomIngestStream(
      input.toDF().toDF("doc_id", "text"), corpus, expectedRows = 1000) {
      (adm, _) =>
        got.synchronized { got ++= adm.select("doc_id").as[Long].collect() }
    }
    try {
      val slices = batchRows.grouped(math.max(batchRows.length / 3, 1)).toSeq
      slices.foreach { s => input.addData(s.toIndexedSeq); q.processAllAvailable() }
      assert(got.synchronized(got.toSet) === want,
        s"stream/batch divergence: missing ${want.diff(got)}, extra ${got.diff(want)}")
    } finally q.stop()
  }

  test("doc-quality monitor: stream over MemoryStream equals batch form") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // (doc_id, source, text) documents, one per minute from a fixed epoch
    val rows = (0L until 240L).map(i =>
      (i, s"src${i % 3}", s"doc $i with some token payload of id $i"))
    val withTs = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id") * 60))
    val batch = EventStreams.docQualityStats(
      withTs(rows.toDF("doc_id", "source", "text"))).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    val input = MemoryStream[(Long, String, String)]
    val mon = EventStreams.docQualityMonitor(
      withTs(input.toDF().toDF("doc_id", "source", "text")))
    val q = mon.writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("qmon").start()
    try {
      rows.grouped(80).foreach { s => input.addData(s.toIndexedSeq); q.processAllAvailable() }
      val streamed = spark.table("qmon").collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
      assert(streamed === batch)
      assert(batch.nonEmpty && batch.keys.map(_._1).toSet.size === 4) // 4 hours
    } finally q.stop()
  }

  test("streaming as-of attribution: out-of-order purchases attribute before maturity") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    val input = MemoryStream[EventStreams.Event]
    val attrib = EventStreams.asOfAttributionStream(
      input.toDF().withColumn("ts", org.apache.spark.sql.functions.col("ts") * 1000),
      watermark = "60 minutes")
    val q = attrib.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("asof_stream").start()
    try {
      // clicks arrive FIRST in processing time; their purchase comes later
      input.addData(ev(1, 100, 1, "click"), ev(2, 40, 1, "click"))
      q.processAllAvailable()
      // watermark (100-60=40 min) has not passed any click strictly → no
      // premature emission (emitting now would miss the late purchase)
      assert(spark.table("asof_stream").count() === 0)
      // the purchase at minute 60 is processing-late but event-time-on-time
      input.addData(ev(3, 60, 1, "purchase"), ev(4, 90, 2, "click"),
        ev(5, 80, 2, "purchase"))
      q.processAllAvailable()
      // a far-future event advances the watermark; pending clicks mature
      input.addData(ev(6, 400, 99, "view"))
      q.processAllAvailable()
      val out = spark.table("asof_stream").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("purchase_ts")).toMap
      val minNs = 60L * 1000 * 1000 * 1000
      assert(out === Map(1L -> 60 * minNs, 2L -> -1L, 4L -> 80 * minNs))
    } finally q.stop()
  }

  test("streaming as-of attribution ≡ the batch as-of join on shuffled arrival") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val rnd = new scala.util.Random(7)
    val evs = (1 to 240).map { i =>
      val typ = Seq("click", "purchase", "view")(rnd.nextInt(3))
      ev(i.toLong, 10 + rnd.nextInt(600).toLong, 1 + rnd.nextInt(5).toLong, typ)
    }
    val input = MemoryStream[EventStreams.Event]
    val attrib = EventStreams.asOfAttributionStream(
      input.toDF().withColumn("ts", col("ts") * 1000),
      watermark = "30 minutes")
    val q = attrib.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("asof_stream_rnd").start()
    try {
      input.addData(rnd.shuffle(evs): _*)
      q.processAllAvailable()
      input.addData(ev(9999, 5000, 98, "view")) // watermark past everything
      q.processAllAvailable()
      val streamed = spark.table("asof_stream_rnd").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("purchase_ts")).toMap
      val all = evs.toDF().withColumn("ts", col("ts") * 1000)
      val batch = graft.operators.Temporal.asOfJoin(
          all.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts")),
          all.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts")),
          key = "user_id", time = "ts", carry = Map("ts" -> "purchase_ts"))
        .select(col("event_id"), coalesce(col("purchase_ts"), lit(-1L)).as("p"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed === batch,
        s"stream drifted from batch: ${(batch.toSet -- streamed.toSet).take(3)} / " +
          s"${(streamed.toSet -- batch.toSet).take(3)}")
    } finally q.stop()
  }

  test("streaming funnel: out-of-order stage events convert; entries emit once, matured") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[EventStreams.Event]
    val fun = EventStreams.funnelStream(
      input.toDF().withColumn("ts", col("ts") * 1000),
      Seq("view", "click", "purchase"),
      tolerance = 120L * 60 * 1000 * 1000 * 1000, // 120 min in ns
      watermark = "60 minutes")
    val q = fun.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("funnel_stream").start()
    try {
      // the CLICK arrives first in processing time; its view comes in a
      // LATER batch but earlier in event time (still within the watermark:
      // wm = 100-60 = 40 < 50) — buffering must wait, then fold in ts order
      input.addData(ev(1, 100, 1, "click"))
      q.processAllAvailable()
      assert(spark.table("funnel_stream").count() === 0)
      input.addData(ev(2, 50, 1, "view"))
      q.processAllAvailable()
      // advance the watermark far past everything → both stages mature
      input.addData(ev(9, 1000, 99, "view"))
      q.processAllAvailable()
      val minNs = 60L * 1000 * 1000 * 1000
      val out = spark.table("funnel_stream").collect()
        .filter(_.getAs[Long]("user_id") == 1L)
        .map(r => r.getAs[Int]("stage_idx") -> r.getAs[Long]("t_in")).toMap
      assert(out === Map(1 -> 50 * minNs, 2 -> 100 * minNs))
      // no duplicate emission on further watermark advances
      input.addData(ev(10, 2000, 99, "view"))
      q.processAllAvailable()
      assert(spark.table("funnel_stream").collect()
        .count(_.getAs[Long]("user_id") == 1L) === 2)
    } finally q.stop()
  }

  test("streaming funnel ≡ the batch funnel on shuffled arrival") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    val evs = (1 to 300).map { i =>
      val typ = Seq("view", "click", "purchase", "error")(rnd.nextInt(4))
      ev(i.toLong, 10 + rnd.nextInt(600).toLong, 1 + rnd.nextInt(8).toLong, typ)
    }
    val tolNs = 90L * 60 * 1000 * 1000 * 1000 // 90 min
    val input = MemoryStream[EventStreams.Event]
    val fun = EventStreams.funnelStream(
      input.toDF().withColumn("ts", col("ts") * 1000),
      Seq("view", "click", "purchase"), tolNs, watermark = "30 minutes")
    val q = fun.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("funnel_stream_rnd").start()
    try {
      // one shuffled delivery (arrival order ⊥ event order, watermark not
      // advanced mid-stream — batch-equivalence holds only for data the
      // watermark admits, same contract as the as-of test above)
      input.addData(rnd.shuffle(evs): _*)
      q.processAllAvailable()
      input.addData(ev(9999, 5000, 98, "error")) // watermark past everything
      q.processAllAvailable()
      val streamedCounts = spark.table("funnel_stream_rnd").collect()
        .filter(_.getAs[Long]("user_id") != 98L)
        .groupBy(_.getAs[Int]("stage_idx")).view.mapValues(_.length.toLong).toMap
      val batch = graft.operators.Analytics.funnel(
          evs.toDF().withColumn("ts", col("ts") * 1000),
          Seq("view", "click", "purchase"), tolNs)
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
        .filter(_._2 > 0)
      assert(streamedCounts === batch,
        s"stream=$streamedCounts batch=$batch")
    } finally q.stop()
  }

  /** The two codes every persisted-IVF spec below runs under: int8 (the
    * default build) and residual PQ. Search, append and compaction read the
    * code from the stored index, so each spec body is code-agnostic.
    */
  private val ivfCodes = Seq("IVF" -> None, "IVF-PQ" -> Some((16, 32)))

  for ((code, pq) <- ivfCodes; (shape, ratio) <- Seq(
         ": per-batch delta segments compose to the batch append path" -> None,
         " with mid-stream auto-compaction ≡ the batch append path" -> Some(0.01)))
  test(s"streaming $code ingest$shape") {
    // each micro-batch is assigned + encoded into the stored cells (and
    // codebook) as its own delta segment. Codes are per-row under the
    // frozen centroids (and codebook), so micro-batching must not change
    // search results vs one batch append into a twin store. Without a
    // ratio both streamed deltas are still live when the search unions
    // them with the base; with one low enough that the first landed delta
    // exceeds it, the fold runs INSIDE the stream and must not lose or
    // duplicate rows when it races the next micro-batch.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val base = e.filter(col("vec_id") % 10 =!= 0)
    val batch = e.filter(col("vec_id") % 10 === 0)
    val streamDir = java.nio.file.Files.createTempDirectory("ivf-stream-spec").toString
    val batchDir = java.nio.file.Files.createTempDirectory("ivf-batch-spec").toString
    // identical deterministic build (seeded by xxhash64) in both stores
    for (d <- Seq(streamDir, batchDir))
      Similarity.buildIvfIndex(base, d, cells = 12, iters = 3, pq = pq).count()
    def deltaDirs(dir: String) = new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("delta")).map(_.getName)
      .sorted.toSeq
    val input = MemoryStream[(Long, Array[Float])]
    var landed = List.empty[(Long, Long)]
    val q = graft.streaming.VectorIngest.ivfIngestStream(
      input.toDF().toDF("vec_id", "embedding"), streamDir,
      compactRatio = ratio) { (id, n) => landed ::= (id, n) }
    try {
      val rows = batch.select("vec_id", "embedding")
        .as[(Long, Array[Float])].collect()
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1.toSeq: _*); q.processAllAvailable()
      // the 0.01 ratio forces the fold after batch 0 — mid-stream
      if (ratio.isDefined)
        assert(deltaDirs(streamDir).isEmpty,
          s"auto-compaction did not fold batch 0: ${deltaDirs(streamDir).mkString(",")}")
      input.addData(h2.toSeq: _*); q.processAllAvailable()
      assert(landed.map(_._2).sum === rows.length,
        s"delta segments lost vectors: $landed")
      assert(landed.size === 2, s"expected 2 delta segments, saw $landed")
    } finally q.stop()
    if (ratio.isEmpty)
      assert(deltaDirs(streamDir) === Seq("delta_b0", "delta_b1"),
        "both streamed deltas must be live for the search below")
    Similarity.appendToIvfIndex(batch, batchDir).count()
    def pairs(dir: String) =
      Similarity.searchIvfIndex(e, dir, k = 10, nProbe = 9)
        .collect().map(r => (r.getAs[Long]("q_id"),
          r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"))).toSet
    val streamed = pairs(streamDir)
    val batched = pairs(batchDir)
    assert(streamed === batched,
      s"streamed index drifted: missing=${(batched -- streamed).take(3)} " +
        s"extra=${(streamed -- batched).take(3)}")
    // compaction folds whatever is still live into the base store:
    // identical results, no delta directories left behind
    Similarity.compactIvfDeltas(spark, streamDir)
    assert(deltaDirs(streamDir).isEmpty, deltaDirs(streamDir).mkString(","))
    assert(pairs(streamDir) === batched, "compaction changed search results")
  }

  test("streaming IVF ingest is replay-idempotent: a retried micro-batch never duplicates") {
    // Structured Streaming replays a failed foreachBatch under the SAME
    // batchId; the ingest's exactly-once contract is that the replay
    // OVERWRITES its own delta_b<id> segment rather than appending a second
    // copy. Pin it by running the same batch into the same segment twice:
    // vector count and search results must be identical to a single run.
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val base = e.filter(col("vec_id") % 10 =!= 0)
    val batch = e.filter(col("vec_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("ivf-replay-spec").toString
    Similarity.buildIvfIndex(base, dir, cells = 12, iters = 3).count()
    def totalVectors(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(org.apache.spark.sql.functions.sum(col("n_vectors"))).head.getLong(0)
    val first = totalVectors(
      Similarity.appendToIvfIndex(batch, dir, segment = "delta_b0"))
    def pairs() = Similarity.searchIvfIndex(e, dir, k = 10, nProbe = 9)
      .collect().map(r => (r.getAs[Long]("q_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"))).toSet
    val afterFirst = pairs()
    // the "replay": same data, same batch-derived segment name
    val second = totalVectors(
      Similarity.appendToIvfIndex(batch, dir, segment = "delta_b0"))
    assert(second === first, s"replay changed the segment size: $first -> $second")
    assert(totalVectors(spark.read.parquet(s"$dir/delta_b0")
      .groupBy(col("cell")).agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_vectors"))) === first,
      "replayed segment holds duplicated vectors")
    assert(pairs() === afterFirst, "replay drifted search results")
  }

  for ((code, pq) <- ivfCodes)
  test(s"$code compaction crash points leave a consistent, non-duplicating view") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val base = e.filter(col("vec_id") % 10 >= 2)
    val batch = e.filter(col("vec_id") % 10 === 0)
    val batch2 = e.filter(col("vec_id") % 10 === 1)
    val dir = java.nio.file.Files.createTempDirectory("ivf-crash-spec").toString
    Similarity.buildIvfIndex(base, dir, cells = 12, iters = 3, pq = pq).count()
    Similarity.appendToIvfIndex(batch, dir).count()
    def pairs() = Similarity.searchIvfIndex(e, dir, k = 10, nProbe = 9)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"))).toSet
    val baseline = pairs()
    def f(n: String) = new java.io.File(dir, n)

    // crash A: base swapped out to segments_old, commit rename never landed —
    // the search must see segments_old + the live delta, ignore the stale
    // stage (a search reading `segments` directly would throw here)
    assert(f("segments").renameTo(f("segments_old")))
    assert(f("segments_compacting").mkdir())
    assert(pairs() === baseline, "crash-A read drifted")
    Similarity.compactIvfDeltas(spark, dir) // recovers, then completes the fold
    assert(pairs() === baseline, "post-recovery search drifted")
    assert(!f("segments_old").exists && !f("segments_compacting").exists &&
      !f("delta").exists && !f("segments/_FOLDED_DELTAS").exists)

    // crash B: commit landed but delta cleanup crashed — a leftover dir named
    // in the fold manifest must be skipped, never double-counted
    Similarity.appendToIvfIndex(batch, dir).count()
    java.nio.file.Files.write(f("segments/_FOLDED_DELTAS").toPath,
      "delta".getBytes("UTF-8"))
    assert(pairs() === baseline, "crash-B double-counted the folded delta")

    // a fresh append of NEW rows REUSING the folded name scrubs the
    // blacklist entry so its rows are visible (no silent data loss): some
    // top-10 result must now cite a batch2 (vec_id%10==1) neighbor
    Similarity.appendToIvfIndex(batch2, dir).count()
    assert(!f("segments/_FOLDED_DELTAS").exists, "manifest not scrubbed")
    val withNew = pairs()
    assert(withNew.exists(_._2 % 10 === 1), "re-appended rows invisible after scrub")

    // the next compaction folds the live delta and clears every debt
    // artifact, without changing results
    Similarity.compactIvfDeltas(spark, dir)
    assert(pairs() === withNew, "final compaction drifted")
    assert(!f("delta").exists && !f("segments_old").exists &&
      !f("segments/_FOLDED_DELTAS").exists)
  }

  test("streaming funnel survives a checkpoint restart without double-emitting") {
    // The flatMapGroupsWithState funnel keeps (entered, emitted, pending)
    // per user; a restarted query must recover that state from the
    // checkpoint — the recovered `emitted` counter is what prevents stages
    // emitted before the stop from re-emitting, and the recovered `entered`
    // list is what lets a post-restart stage-3 event extend the funnel.
    // Durable parquet sink: rows accumulate across both query incarnations
    // exactly once, so the final file IS the cross-restart emission record.
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ckpt = java.nio.file.Files.createTempDirectory("funnel-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("funnel-out").toString
    val input = MemoryStream[EventStreams.Event]
    val fun = EventStreams.funnelStream(
      input.toDF().withColumn("ts", col("ts") * 1000),
      Seq("view", "click", "purchase"),
      tolerance = 120L * 60 * 1000 * 1000 * 1000, // 120 min in ns
      watermark = "60 minutes")

    // FIRST incarnation: view@50 + click@100 mature (wm driver at 170 →
    // wm 110) and emit stages 1 and 2 for user 1. The wm driver is kept
    // CLOSE so the run-2 purchase@150 is still inside the recovered
    // watermark — flatMapGroupsWithState with EventTimeTimeout drops
    // late input rows, so a post-restart event behind the watermark would
    // test the late-data contract, not state recovery.
    val q1 = fun.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt).option("path", outDir)
      .format("parquet").start()
    try {
      input.addData(ev(1, 50, 1, "view"), ev(2, 100, 1, "click"))
      q1.processAllAvailable()
      input.addData(ev(8, 170, 99, "view")) // watermark driver, stays pending
      q1.processAllAvailable()
    } finally q1.stop()
    val afterRun1 = spark.read.parquet(outDir)
      .filter(col("user_id") === 1L).collect()
      .map(r => r.getAs[Int]("stage_idx")).sorted.toSeq
    assert(afterRun1 === Seq(1, 2), s"run 1 emitted $afterRun1")

    // SECOND incarnation from the same checkpoint: purchase@150 (> wm 110,
    // not late) is inside the tolerance window of the RECOVERED click@100
    // entry; a wm driver at 300 (wm 240) matures it and user 99's pending
    // view@170
    val q2 = fun.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt).option("path", outDir)
      .format("parquet").start()
    try {
      input.addData(ev(3, 150, 1, "purchase"))
      q2.processAllAvailable()
      input.addData(ev(9, 300, 98, "view"))
      q2.processAllAvailable()
    } finally q2.stop()
    val minNs = 60L * 1000 * 1000 * 1000
    val all = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("stage_idx"),
        r.getAs[Long]("t_in")))
    val user1 = all.filter(_._1 == 1L).map(x => x._2 -> x._3).sorted.toSeq
    assert(user1 === Seq(1 -> 50 * minNs, 2 -> 100 * minNs, 3 -> 150 * minNs),
      s"cross-restart emissions for user 1: $user1")
    // exactly once: stages 1-2 were NOT re-emitted by the restarted query
    assert(all.count(_._1 == 1L) === 3)
    assert(all.filter(_._1 == 99L).map(_._2).toSeq === Seq(1),
      "pending pre-restart event lost or duplicated across the restart")
  }

  test("streaming as-of attribution recovers purchase history across a restart") {
    // asOfAttributionStream retains the last matured purchase per user so
    // later clicks still attribute; that retained timestamp lives in the
    // group state and must survive a checkpoint restart — a click fed only
    // AFTER the restart can attribute correctly iff the purchase history
    // was recovered rather than rebuilt from the (empty) post-restart input.
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ckpt = java.nio.file.Files.createTempDirectory("asof-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("asof-out").toString
    val input = MemoryStream[EventStreams.Event]
    val attributed = EventStreams.asOfAttributionStream(
      input.toDF().withColumn("ts", col("ts") * 1000), watermark = "60 minutes")

    val q1 = attributed.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt).option("path", outDir)
      .format("parquet").start()
    try {
      input.addData(ev(1, 50, 1, "purchase"), ev(2, 100, 1, "click"))
      q1.processAllAvailable()
      input.addData(ev(8, 1000, 99, "view")) // wm 940 → click@100 matures
      q1.processAllAvailable()
    } finally q1.stop()
    val minNs = 60L * 1000 * 1000 * 1000
    val run1 = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("purchase_ts")).toMap
    assert(run1 === Map(2L -> 50 * minNs), s"run 1 attributions: $run1")

    val q2 = attributed.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt).option("path", outDir)
      .format("parquet").start()
    try {
      input.addData(ev(3, 1500, 1, "click")) // only attributable via recovered state
      q2.processAllAvailable()
      input.addData(ev(9, 5000, 98, "view")) // wm 4940 → click@1500 matures
      q2.processAllAvailable()
    } finally q2.stop()
    val all = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("purchase_ts")).toMap
    assert(all === Map(2L -> 50 * minNs, 3L -> 50 * minNs),
      s"restart lost the retained purchase history: $all")
  }

  test("sessionizer open-session tail survives a checkpoint restart") {
    // sessionize keeps the open session's EVENT LIST (not a summary) in
    // group state so a later in-gap event can extend it; a restarted query
    // must recover that list from the checkpoint. The pin is stronger than
    // "a session eventually closes": a post-restart in-gap event merges
    // into the recovered tail, so the closed session's n_events/start_ts
    // count events from BOTH incarnations — impossible if the restart
    // rebuilt state from the (empty) post-restart input. Durable parquet
    // sink accumulates emissions across both incarnations exactly once.
    // Timing under the watermark protocol (gap 30 min, watermark 60 min;
    // minutes offset to 1000+ so nothing sits AT the initial epoch-0
    // watermark): the run-1 driver at minute 1096 sets wm = 1036, which
    // flushes user 2's [1005] (1035 < 1036) but keeps user 1's
    // [1000, 1010] (1040 ≥ 1036); the post-restart event at minute 1038 is
    // inside the recovered watermark AND inside the gap of the recovered
    // tail end (1038 ≤ 1010 + 30), so it merges.
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ckpt = java.nio.file.Files.createTempDirectory("sess-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("sess-out").toString
    val input = MemoryStream[Event]
    val ns = us * 1000
    val sessions = EventStreams.sessionize(
      input.toDF().withColumn("ts", col("ts") * 1000),
      gap = 30L * 60 * ns, watermark = "60 minutes")

    // FIRST incarnation: user 1 opens [0, 10] (stays in state); user 2's
    // [5] flushes via the event-time timeout when the driver advances the
    // watermark — proving the sink path works before the restart is in play.
    val q1 = sessions.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt).option("path", outDir)
      .format("parquet").start()
    try {
      input.addData(ev(1, 1000, 1), ev(2, 1010, 1), ev(3, 1005, 2))
      q1.processAllAvailable()
      input.addData(ev(4, 1096, 99)) // watermark driver → wm 1036
      q1.processAllAvailable()
    } finally q1.stop()
    val run1 = spark.read.parquet(outDir).as[SessionSummary].collect()
      .map(x => (x.user_id, x.n_events, x.start_ts, x.end_ts)).toSet
    assert(run1 === Set((2L, 1L, 1005L * 60 * ns, 1005L * 60 * ns)),
      s"run 1 emissions: $run1")

    // SECOND incarnation from the same checkpoint: minute 1038 (> recovered
    // wm 1036, ≤ tail end 1010 + gap 30) extends the RECOVERED [1000, 1010]
    // tail; a far-future driver then matures it and the timeout flushes the
    // three-event session spanning both incarnations.
    val q2 = sessions.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt).option("path", outDir)
      .format("parquet").start()
    try {
      input.addData(ev(5, 1038, 1))
      q2.processAllAvailable()
      input.addData(ev(6, 1200, 98)) // watermark driver → wm 1140
      q2.processAllAvailable()
    } finally q2.stop()
    val all = spark.read.parquet(outDir).as[SessionSummary].collect()
      .filter(x => x.user_id == 1L || x.user_id == 2L)
      .map(x => (x.user_id, x.n_events, x.start_ts, x.end_ts)).toSet
    assert(all === Set(
      (2L, 1L, 1005L * 60 * ns, 1005L * 60 * ns),
      (1L, 3L, 1000L * 60 * ns, 1038L * 60 * ns)),
      s"cross-restart session state lost or double-emitted: $all")
  }

  test("bloom ingest durable state survives restart: dedup history, snapshot fast-path, batch replay") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("bloom-state").toString
    val corpus = Seq((0L, "seed document in the corpus")).toDF("doc_id", "text")

    // FIRST process: snapshot after every admitting batch so the restore
    // path below exercises the bitmap fast-path, not just delta folding
    val s1 = new graft.streaming.DocIngest.BloomIngestState(
      corpus, expectedRows = 1000, compactEvery = 8,
      stateDir = Some(stateDir), snapshotEveryAdmits = 1)
    assert(!s1.restoredFromSnapshot && s1.replayableSeqs.isEmpty)
    val a0 = s1.admitBatch(Seq((10L, "first unique doc"), (11L, "second unique doc"))
      .toDF("doc_id", "text"), Some(0L)).select("doc_id").as[Long].collect().toSet
    assert(a0 === Set(10L, 11L))
    val a1 = s1.admitBatch(Seq((12L, "third unique doc"), (13L, "first unique doc"))
      .toDF("doc_id", "text"), Some(1L)).select("doc_id").as[Long].collect().toSet
    assert(a1 === Set(12L), "in-process cross-batch dup slipped through")

    // SECOND process (restart): restores from the snapshot, replays the
    // retried last batchId verbatim, and still rejects every prior admission
    val s2 = new graft.streaming.DocIngest.BloomIngestState(
      corpus, expectedRows = 1000, compactEvery = 8,
      stateDir = Some(stateDir), snapshotEveryAdmits = 1)
    assert(s2.restoredFromSnapshot, "snapshot not restored — corpus filter rebuilt")
    assert(s2.replayableSeqs === Set(0L, 1L))
    val replay = s2.admitBatch(Seq((99L, "third unique doc")) // content irrelevant on replay
      .toDF("doc_id", "text"), Some(1L)).select("doc_id").as[Long].collect().toSet
    assert(replay === Set(12L), s"retried batch not replayed from disk: $replay")
    val a2 = s2.admitBatch(Seq(
      (20L, "first unique doc"),            // admitted before the "crash"
      (21L, "seed document in the corpus"), // corpus dup
      (22L, "a brand new straggler")
    ).toDF("doc_id", "text"), Some(2L)).select("doc_id").as[Long].collect().toSet
    assert(a2 === Set(22L), s"restart lost admission history: $a2")

    // THIRD process with the filter snapshots REMOVED (crash between delta
    // write and snapshot write at every point): delta folding alone must
    // restore the same history
    val filterDir = new java.io.File(stateDir, "filter")
    filterDir.listFiles().foreach(f => assert(f.delete()))
    val s3 = new graft.streaming.DocIngest.BloomIngestState(
      corpus, expectedRows = 1000, compactEvery = 8,
      stateDir = Some(stateDir), snapshotEveryAdmits = 1)
    assert(!s3.restoredFromSnapshot)
    assert(s3.replayableSeqs === Set(0L, 1L, 2L))
    val a3 = s3.admitBatch(Seq(
      (30L, "a brand new straggler"),  // admitted only in seq 2's delta
      (31L, "genuinely fresh content")
    ).toDF("doc_id", "text"), Some(3L)).select("doc_id").as[Long].collect().toSet
    assert(a3 === Set(31L), s"delta-only restore lost history: $a3")
  }

  test("streaming chunking twin: stateless map-only op runs unchanged on a stream") {
    // chunkDocuments is a generate+project with no aggregation or state, so
    // the SAME code must run under the streaming engine in Append mode with
    // NO watermark — and emit exactly the batch result for the same rows,
    // independent of micro-batch boundaries. This is the contract that lets
    // the RAG splitter sit in the live ingest path.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val chunked = graft.operators.TextAnalysis.chunkDocuments(
      input.toDF().toDF("doc_id", "text"), window = 7, overlap = 3)
    val q = chunked.writeStream.format("memory")
      .queryName("chunk_twin").outputMode("append").start()
    try {
      input.addData((1L, "abcdefghijklm"), (2L, ""))
      q.processAllAvailable()
      input.addData((3L, "abcd"))
      q.processAllAvailable()
      val got = spark.table("chunk_twin")
        .orderBy("doc_id", "chunk_idx").collect().map(_.toSeq)
      val want = graft.operators.TextAnalysis.chunkDocuments(
        Seq((1L, "abcdefghijklm"), (2L, ""), (3L, "abcd")).toDF("doc_id", "text"),
        window = 7, overlap = 3)
        .orderBy("doc_id", "chunk_idx").collect().map(_.toSeq)
      assert(got.toSeq === want.toSeq, "stream ≢ batch for the chunking twin")
    } finally q.stop()
  }

  test("streaming text ingest: per-batch postings deltas; compaction is a pure rewrite") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Retrieval
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = d.filter(col("doc_id") % 10 =!= 0)
    val batch = d.filter(col("doc_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("text-stream-spec").toString + "/idx"
    Retrieval.buildTextIndex(base, dir).count()
    val input = MemoryStream[(Long, String)]
    var landed = List.empty[(Long, Long)]
    val q = graft.streaming.TextIndexIngest.textIngestStream(
      input.toDF().toDF("doc_id", "text"), dir) { (id, n) => landed ::= (id, n) }
    try {
      val rows = batch.select("doc_id", "text").as[(Long, String)].collect()
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1.toSeq: _*); q.processAllAvailable()
      input.addData(h2.toSeq: _*); q.processAllAvailable()
      assert(landed.size === 2, s"expected 2 delta segments, saw $landed")
    } finally q.stop()
    // search over base + the two streamed deltas ≡ the per-call matcher
    // over the full corpus (postings compose associatively, so
    // micro-batching must not matter)
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val phrase = Seq("fast", "table")
    val direct = res(Retrieval.phraseMatches(d, phrase))
    assert(res(Retrieval.searchTextIndex(spark, dir, phrase)) === direct,
      "streamed text index drifted from the per-call matcher")
    // index-backed BM25 ≡ the per-call scorer over base + streamed deltas
    // (tf from posting counts, dl from the stored column, N/avgdl summed
    // across the base's and each delta's stats side files)
    def ranks(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val bmDirect = ranks(Retrieval.bm25TopK(d))
    assert(ranks(Retrieval.bm25SearchTextIndex(spark, dir)) === bmDirect,
      "streamed index-backed BM25 drifted from the per-call scorer")
    // compaction folds the deltas into the base store: identical results,
    // no delta directories left behind (shared DeltaStore protocol — the
    // crash-point coverage lives in the IVF twin tests)
    Retrieval.compactTextIndex(spark, dir)
    val remaining = new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("delta"))
    assert(remaining.isEmpty, remaining.map(_.getName).mkString(","))
    assert(res(Retrieval.searchTextIndex(spark, dir, phrase)) === direct,
      "compaction changed phrase-search results")
    assert(ranks(Retrieval.bm25SearchTextIndex(spark, dir)) === bmDirect,
      "compaction changed BM25 results — stats side file mis-merged?")
    // an append after compaction is discovered by the next search
    val extra = Seq((900001L, "a very fast table appended after compaction"))
      .toDF("doc_id", "text")
    Retrieval.appendToTextIndex(extra, dir).count()
    val after = res(Retrieval.searchTextIndex(spark, dir, phrase))
    assert(after === direct + ((900001L, 1L, 2L)),
      s"post-compaction append not discovered: ${after -- direct}")
    // ...and BM25 sees the appended doc through BOTH its postings and its
    // stats contribution (N and avgdl shift — equality with the per-call
    // scorer over the grown corpus requires the merged+delta stats exact)
    assert(ranks(Retrieval.bm25SearchTextIndex(spark, dir)) ===
      ranks(Retrieval.bm25TopK(d.select("doc_id", "text").unionByName(extra))),
      "post-append BM25 drifted — delta stats not composed")
  }
}
