package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $s:00")

  test("windowed counts with watermark over a memory stream") {
    val input = MemoryStream[(Timestamp, String)]
    val counts = Streaming.windowedEventCounts(
      input.toDF().toDF("ts", "event_type"),
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = counts.writeStream.format("memory").queryName("wc")
      .outputMode("complete").start()
    try {
      input.addData(
        ts("10:01") -> "click", ts("10:03") -> "click",
        ts("10:04") -> "view", ts("10:11") -> "click")
      q.processAllAvailable()
      val rows = spark.table("wc")
        .orderBy("window_start", "event_type").collect()
      assert(rows.map(r => (r.getAs[Timestamp]("window_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("event_count"))).toSeq == Seq(
        ("2024-01-01 10:00:00.0", "click", 2L),
        ("2024-01-01 10:00:00.0", "view", 1L),
        ("2024-01-01 10:10:00.0", "click", 1L)))
    } finally q.stop()
  }

  test("windowedDistinct: per-window unique counts, repeats collapse, exact in coupon regime") {
    val input = MemoryStream[(Timestamp, String, Long)]
    val dc = Streaming.windowedDistinct(
      input.toDF().toDF("ts", "event_type", "user_id"), "user_id",
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = dc.writeStream.format("memory").queryName("wd")
      .outputMode("complete").start()
    try {
      input.addData(
        (ts("10:01"), "click", 1L), (ts("10:03"), "click", 1L), // repeat
        (ts("10:04"), "click", 2L), (ts("10:05"), "view", 1L),
        (ts("10:11"), "click", 1L)) // new window, user 1 counts again
      q.processAllAvailable()
      // sketches merge ACROSS micro-batches: a second batch adds one
      // repeat and one new user to the open first window
      input.addData((ts("10:06"), "click", 2L), (ts("10:07"), "click", 3L))
      q.processAllAvailable()
      val rows = spark.table("wd")
        .orderBy("window_start", "event_type").collect()
        .map(r => (r.getAs[Timestamp]("window_start").toString,
          r.getAs[String]("event_type"), r.getAs[Long]("distinct_est")))
      assert(rows.toSeq === Seq(
        ("2024-01-01 10:00:00.0", "click", 3L),
        ("2024-01-01 10:00:00.0", "view", 1L),
        ("2024-01-01 10:10:00.0", "click", 1L)))
    } finally q.stop()
  }

  test("windowedHeavyHitters emits only keys at/over the threshold per window") {
    val input = MemoryStream[(Timestamp, String)]
    val hot = Streaming.windowedHeavyHitters(
      input.toDF().toDF("ts", "event_type"), minCount = 2L,
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = hot.writeStream.format("memory").queryName("hh")
      .outputMode("complete").start()
    try {
      input.addData(
        ts("10:01") -> "click", ts("10:03") -> "click",
        ts("10:04") -> "view",              // below threshold in 10:00
        ts("10:11") -> "view", ts("10:12") -> "view",
        ts("10:13") -> "click")             // below threshold in 10:10
      q.processAllAvailable()
      val rows = spark.table("hh")
        .orderBy("window_start", "event_type").collect()
      assert(rows.map(r => (r.getAs[Timestamp]("window_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("event_count"))).toSeq == Seq(
        ("2024-01-01 10:00:00.0", "click", 2L),
        ("2024-01-01 10:10:00.0", "view", 2L)))
    } finally q.stop()
  }

  test("streamingRollup folds micro-batches into persisted state == full recompute") {
    import graft.ext.RollupState
    import graft.ops.Ops
    val store = new graft.sources.MemoryStore(spark)
    val keys = Seq("event_type")
    val ms = Seq("v" -> "sum", "v" -> "average", "v" -> "max")
    val state = RollupState(store, "rollup", keys, ms)
    val input = MemoryStream[(String, Long)]
    val stream = input.toDF().toDF("event_type", "v")
    // initialize from an empty first batch (schema only)
    state.create(spark.emptyDataset[(String, Long)].toDF("event_type", "v"))
    val q = Streaming.streamingRollup(stream, state)
    try {
      input.addData(("click", 2L), ("click", 4L), ("view", 10L))
      q.processAllAvailable()
      input.addData(("click", 6L), ("purchase", 1L))
      q.processAllAvailable()
      val all = Seq(("click", 2L), ("click", 4L), ("view", 10L),
        ("click", 6L), ("purchase", 1L)).toDF("event_type", "v")
      assert(state.result().orderBy("event_type").collect().toSeq ===
        Ops.aggregate(keys, ms)(all).orderBy("event_type").collect().toSeq)
    } finally q.stop()
  }

  test("streamingRollupHll: folded distinct sketches match the full recompute") {
    import graft.ext.RollupStateHll
    import graft.ops.Ops
    val store = new graft.sources.MemoryStore(spark)
    val state = RollupStateHll(store, "dhll", Seq("event_type"), Seq("v"))
    val input = MemoryStream[(String, Long)]
    state.create(spark.emptyDataset[(String, Long)].toDF("event_type", "v"))
    val q = Streaming.streamingRollup(
      input.toDF().toDF("event_type", "v"), state)
    try {
      input.addData(("click", 1L), ("click", 2L), ("view", 9L))
      q.processAllAvailable()
      input.addData(("click", 2L), ("click", 3L)) // one repeat, one new
      q.processAllAvailable()
      val all = Seq(("click", 1L), ("click", 2L), ("view", 9L),
        ("click", 2L), ("click", 3L)).toDF("event_type", "v")
      val direct = Ops.finalizeAggregateHll(Seq("event_type"), Seq("v"))(
        Ops.aggregateStateHll(Seq("event_type"), Seq("v"))(all))
      // coupon regime: estimates are the exact distinct counts and the
      // fold identity is exact
      assert(state.result().orderBy("event_type").collect().toSeq ===
        direct.orderBy("event_type").collect().toSeq)
      assert(state.result().orderBy("event_type")
        .select("v_distinct_est").as[Long].collect().toSeq === Seq(3L, 1L))
    } finally q.stop()
  }

  test("streamingRollupTheta: folded set sketches match; re-delivery is idempotent") {
    import graft.ext.RollupStateTheta
    import graft.ops.Ops
    val store = new graft.sources.MemoryStore(spark)
    val state = RollupStateTheta(store, "qtheta", Seq("event_type"), Seq("v"))
    val input = MemoryStream[(String, Long)]
    state.create(spark.emptyDataset[(String, Long)].toDF("event_type", "v"))
    val q = Streaming.streamingRollup(
      input.toDF().toDF("event_type", "v"), state)
    try {
      input.addData(("click", 1L), ("click", 2L), ("view", 9L))
      q.processAllAvailable()
      input.addData(("click", 2L), ("click", 3L)) // one repeat, one new
      q.processAllAvailable()
      assert(state.result().orderBy("event_type")
        .select("v_distinct_est").as[Long].collect().toSeq === Seq(3L, 1L))
      // idempotence: re-folding an already-seen batch changes nothing
      state.fold(Seq(("click", 2L), ("click", 3L)).toDF("event_type", "v"))
      assert(state.result().orderBy("event_type")
        .select("v_distinct_est").as[Long].collect().toSeq === Seq(3L, 1L))
    } finally q.stop()
  }

  test("streamingRollupKll: folded quantile sketches match the full recompute") {
    import graft.ext.RollupStateKll
    import graft.ops.Ops
    val store = new graft.sources.MemoryStore(spark)
    val state = RollupStateKll(store, "qkll", Seq("event_type"), Seq("v"))
    val input = MemoryStream[(String, Long)]
    state.create(spark.emptyDataset[(String, Long)].toDF("event_type", "v"))
    val q = Streaming.streamingRollup(
      input.toDF().toDF("event_type", "v"), state)
    try {
      input.addData(("click", 1L), ("click", 5L), ("view", 9L))
      q.processAllAvailable()
      input.addData(("click", 3L), ("click", 7L))
      q.processAllAvailable()
      val all = Seq(("click", 1L), ("click", 5L), ("view", 9L),
        ("click", 3L), ("click", 7L)).toDF("event_type", "v")
      val direct = Ops.finalizeAggregateKll(
        Seq("event_type"), Seq("v"), Seq(0.5, 1.0))(
        Ops.aggregateStateKll(Seq("event_type"), Seq("v"))(all))
      // exact (never-compacted) regime: folded == direct, and the
      // median is the exact order statistic: click {1,3,5,7} -> ⌈2⌉ = 3
      assert(state.result(Seq(0.5, 1.0)).orderBy("event_type")
        .collect().toSeq === direct.orderBy("event_type").collect().toSeq)
      assert(state.result(Seq(0.5, 1.0)).orderBy("event_type")
        .select("v_p50").as[Double].collect().toSeq === Seq(3.0, 9.0))
    } finally q.stop()
  }

  test("streamingRollupCms: folded frequency sketches match the full recompute") {
    import graft.ext.RollupStateCms
    import graft.ops.Ops
    val store = new graft.sources.MemoryStore(spark)
    val state = RollupStateCms(store, "qcms", Seq("event_type"), Seq("v"))
    val input = MemoryStream[(String, String)]
    state.create(spark.emptyDataset[(String, String)].toDF("event_type", "v"))
    val q = Streaming.streamingRollup(
      input.toDF().toDF("event_type", "v"), state)
    try {
      input.addData(("click", "a"), ("click", "a"), ("view", "b"))
      q.processAllAvailable()
      input.addData(("click", "a"), ("click", "b"))
      q.processAllAvailable()
      val all = Seq(("click", "a"), ("click", "a"), ("view", "b"),
        ("click", "a"), ("click", "b")).toDF("event_type", "v")
      val direct = Ops.finalizeAggregateCms(
        Seq("event_type"), "v", Seq("a", "b"))(
        Ops.aggregateStateCms(Seq("event_type"), Seq("v"))(all))
      // collision-free regime: folded == direct, and each probe reads
      // the exact count (click: a=3 b=1; view: a=0 b=1)
      assert(state.result("v", Seq("a", "b")).orderBy("event_type", "item")
        .collect().toSeq ===
        direct.orderBy("event_type", "item").collect().toSeq)
      assert(state.result("v", Seq("a", "b")).orderBy("event_type", "item")
        .select("v_freq_est").as[Long].collect().toSeq ===
        Seq(3L, 1L, 0L, 1L))
    } finally q.stop()
  }

  test("every rollup kind folds overlapping batches on a ParquetStore == direct state") {
    // On a ParquetStore the merge plan reads the very files the fold
    // overwrites, so the pin before the overwrite is load-bearing here
    // (a MemoryStore fold would pass without it). AQE is off for the
    // folds: with it on, Spark runs the merge's shuffle stage before the
    // overwrite deletes the old files, which would hide a missing pin.
    import org.apache.spark.sql.DataFrame
    import graft.ext.{MergeableState, RollupState, RollupStateCms,
      RollupStateHll, RollupStateKll, RollupStateTheta}
    import graft.ops.Ops
    val keys = Seq("event_type")
    val fs = Seq("v")
    val ms = Seq("v" -> "sum", "v" -> "average", "v" -> "max")
    val ranks = Seq(0.5, 1.0)
    val items = Seq("a", "b", "c")
    val a = Seq(("click", 1L, "a"), ("click", 2L, "b"), ("view", 9L, "a"))
      .toDF("event_type", "v", "s")
    val b = Seq(("click", 2L, "b"), ("click", 3L, "a"), ("buy", 5L, "c"))
      .toDF("event_type", "v", "s") // (click, 2, b) repeats a row of `a`
    val all = a.unionByName(b)
    val aqe = "spark.sql.adaptive.enabled"
    val aqeWas = spark.conf.get(aqe)
    val dir = java.nio.file.Files.createTempDirectory("graft-rollup").toString
    try {
      val store = graft.sources.ParquetStore(spark, dir)
      val add = RollupState(store, "add", keys, ms)
      val hll = RollupStateHll(store, "hll", keys, fs)
      val theta = RollupStateTheta(store, "theta", keys, fs)
      val kll = RollupStateKll(store, "kll", keys, fs)
      val cms = RollupStateCms(store, "cms", keys, Seq("s"))
      val cases = Seq[(MergeableState, () => DataFrame, DataFrame)](
        (add, () => add.result(),
          Ops.finalizeAggregate(keys, ms)(Ops.aggregateState(keys, ms)(all))),
        (hll, () => hll.result(),
          Ops.finalizeAggregateHll(keys, fs)(Ops.aggregateStateHll(keys, fs)(all))),
        (theta, () => theta.result(),
          Ops.finalizeAggregateTheta(keys, fs)(
            Ops.aggregateStateTheta(keys, fs)(all))),
        (kll, () => kll.result(ranks),
          Ops.finalizeAggregateKll(keys, fs, ranks)(
            Ops.aggregateStateKll(keys, fs)(all))),
        (cms, () => cms.result("s", items),
          Ops.finalizeAggregateCms(keys, "s", items)(
            Ops.aggregateStateCms(keys, Seq("s"))(all))))
      def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
      cases.foreach { case (state, result, direct) =>
        state.create(a.limit(0))
        spark.conf.set(aqe, "false")
        try { state.fold(a); state.fold(b) }
        finally spark.conf.set(aqe, aqeWas)
        assert(rows(result()) === rows(direct), state.name)
      }
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("windowedVerification: per-window contract verdicts, batch parity") {
    val rows = Seq(
      // window 09:00: 2/2 pass the v<=100 bar
      (ts("09:01"), 10.0), (ts("09:05"), 50.0),
      // window 09:10: 1/3 pass — the bar (0.5) FAILS there
      (ts("09:11"), 10.0), (ts("09:12"), 500.0), (ts("09:14"), 900.0))
    val input = MemoryStream[(Timestamp, Double)]
    val suite = Streaming.windowedVerification(
      input.toDF().toDF("ts", "v"),
      rowChecks = Seq(("v_small",
        org.apache.spark.sql.functions.col("v") <= 100.0, 0.5)))
    val q = suite.writeStream.format("memory").queryName("wvs")
      .outputMode("complete").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("wvs").orderBy("window_start")
        .collect().map(r => (r.getLong(3), r.getBoolean(6))).toSeq
      assert(got === Seq((2L, true), (1L, false)))
      // batch parity: identical logical plan on a static frame
      val batch = Streaming.windowedVerification(
        rows.toDF("ts", "v"),
        rowChecks = Seq(("v_small",
        org.apache.spark.sql.functions.col("v") <= 100.0, 0.5)))
        .orderBy("window_start")
        .collect().map(r => (r.getLong(3), r.getBoolean(6))).toSeq
      assert(batch === got)
    } finally q.stop()
  }

  test("streamIntervalJoin: stream-stream matches within the bound, batch parity") {
    val imps = MemoryStream[(Long, String, Timestamp)]
    val clicks = MemoryStream[(Long, String, Timestamp)]
    val joined = Streaming.streamIntervalJoin(
      imps.toDF().toDF("imp_id", "ad", "imp_ts"),
      clicks.toDF().toDF("click_id", "ad", "click_ts"),
      key = "ad", leftTs = "imp_ts", rightTs = "click_ts",
      maxDelay = "10 minutes", watermarkDelay = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      imps.addData((1L, "a", ts("09:00")), (2L, "b", ts("09:00")))
      clicks.addData(
        (10L, "a", ts("09:05")), // within 10 min of imp 1 -> match
        (11L, "a", ts("09:20")), // beyond the bound -> no match
        (12L, "c", ts("09:01"))) // no impression for ad c -> no match
      q.processAllAvailable()
      val rows = spark.table("ssj").select("imp_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows === Set(1L -> 10L))
      // the exact boundary (rightTs == leftTs + maxDelay) is INCLUDED
      clicks.addData((13L, "b", ts("09:10")))
      q.processAllAvailable()
      assert(spark.table("ssj").count() === 2)
      // batch parity: the same code path on static frames
      val bImps = Seq((1L, "a", ts("09:00")), (2L, "b", ts("09:00")))
        .toDF("imp_id", "ad", "imp_ts")
      val bClicks = Seq((10L, "a", ts("09:05")), (11L, "a", ts("09:20")),
        (12L, "c", ts("09:01")), (13L, "b", ts("09:10")))
        .toDF("click_id", "ad", "click_ts")
      val batch = Streaming.streamIntervalJoin(bImps, bClicks,
        "ad", "imp_ts", "click_ts", "10 minutes", "5 minutes")
        .select("imp_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch === Set(1L -> 10L, 2L -> 13L))
    } finally q.stop()
  }

  test("session windows close after the gap") {
    val input = MemoryStream[(Timestamp, String)]
    val sessions = Streaming.sessionCounts(
      input.toDF().toDF("ts", "user_id"),
      gap = "10 minutes", watermarkDelay = "5 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("complete").start()
    try {
      // u1: two events 5 min apart (one session), then one 30 min later
      input.addData(
        ts("09:00") -> "u1", ts("09:05") -> "u1", ts("09:35") -> "u1",
        ts("09:00") -> "u2")
      q.processAllAvailable()
      val rows = spark.table("sess").orderBy("session_start", "user_id").collect()
      assert(rows.length == 3)
      val u1 = rows.filter(_.getAs[String]("user_id") == "u1")
      assert(u1.map(_.getAs[Long]("event_count")).toSeq == Seq(2L, 1L))
      // session end = last event + gap
      assert(u1.head.getAs[Timestamp]("session_end").toString ==
        "2024-01-01 09:15:00.0")
    } finally q.stop()
  }

  test("runningUserTotals carries custom state across micro-batches") {
    import graft.streaming.{UserEvent, UserTotals}
    val input = MemoryStream[UserEvent]
    val totals = Streaming.runningUserTotals(input.toDS())
    val q = totals.writeStream.format("memory").queryName("totals")
      .outputMode("update").start()
    try {
      input.addData(UserEvent(1L, 2.0), UserEvent(1L, 3.0), UserEvent(2L, 1.0))
      q.processAllAvailable()
      input.addData(UserEvent(1L, 5.0)) // second batch: state must accumulate
      q.processAllAvailable()
      val last = spark.table("totals")
        .groupBy("user_id").agg(org.apache.spark.sql.functions.max("events").as("events"),
          org.apache.spark.sql.functions.max("value_sum").as("value_sum"))
        .as[UserTotals].collect().sortBy(_.user_id)
      assert(last.toSeq == Seq(UserTotals(1L, 3L, 10.0), UserTotals(2L, 1L, 1.0)))
    } finally q.stop()
  }

  test("streamingScd2Current: versions close across micro-batches; repeats compress; late rows drop") {
    import graft.streaming.{DimChange, DimVersion}
    def t(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[DimChange]
    val versions = Streaming.streamingScd2Current(input.toDS())
    val q = versions.writeStream.format("memory").queryName("scd2")
      .outputMode("update").start()
    try {
      input.addData(
        DimChange(1L, t("2024-01-01 00:00:00"), "A"),
        DimChange(1L, t("2024-01-01 01:00:00"), "A"),  // compressed
        DimChange(2L, t("2024-01-01 00:00:00"), "X"))
      q.processAllAvailable()
      input.addData(
        DimChange(1L, t("2024-01-01 02:00:00"), "B"),  // closes A, opens B
        DimChange(2L, t("2023-12-31 00:00:00"), "Y"))  // LATE -> dropped
      q.processAllAvailable()
      val rows = spark.table("scd2").as[DimVersion].collect().toSeq
      // emissions across both batches: A-open, X-open, A-closed, B-open
      assert(rows.toSet === Set(
        DimVersion(1L, "A", t("2024-01-01 00:00:00"), None, is_current = true),
        DimVersion(2L, "X", t("2024-01-01 00:00:00"), None, is_current = true),
        DimVersion(1L, "A", t("2024-01-01 00:00:00"),
          Some(t("2024-01-01 02:00:00")), is_current = false),
        DimVersion(1L, "B", t("2024-01-01 02:00:00"), None, is_current = true)))
      // upsert-by-(key, valid_from) convergence: latest emission per key
      // equals the batch operator's history on the kept (non-late) rows
      val batch = graft.ops.TemporalOps.scd2History(
        "key", "ts", Seq("attr"), tieBreak = "attr")(
        Seq((1L, t("2024-01-01 00:00:00"), "A"),
          (1L, t("2024-01-01 01:00:00"), "A"),
          (1L, t("2024-01-01 02:00:00"), "B"),
          (2L, t("2024-01-01 00:00:00"), "X")).toDF("key", "ts", "attr"))
        .orderBy("key", "valid_from")
        .select("key", "attr", "valid_from", "valid_to", "is_current")
        .as[(Long, String, Timestamp, Option[Timestamp], Long)].collect()
      // (a closed version is always the LATER emission for its
      // (key, valid_from), so it wins the upsert — order-independent)
      val upserted = rows.groupBy(v => (v.key, v.valid_from))
        .map(g => g._2.find(_.valid_to.isDefined).getOrElse(g._2.head))
        .toSeq.sortBy(v => (v.key, v.valid_from.getTime))
        .map(v => (v.key, v.attr, v.valid_from, v.valid_to,
          if (v.is_current) 1L else 0L))
      assert(upserted.toArray === batch)
    } finally q.stop()
  }

  test("runningUserTotals on a batch dataset equals a plain groupBy") {
    import graft.streaming.{UserEvent, UserTotals}
    val ds = Seq(UserEvent(1L, 2.0), UserEvent(1L, 3.0), UserEvent(2L, 1.0)).toDS()
    val out = Streaming.runningUserTotals(ds).collect().sortBy(_.user_id).toSeq
    assert(out == Seq(UserTotals(1L, 2L, 5.0), UserTotals(2L, 1L, 1.0)))
  }

  test("streamingDedup drops in-stream duplicates with bounded state") {
    val input = MemoryStream[(Timestamp, Long, String)]
    val deduped = Streaming.streamingDedup(
      input.toDF().toDF("ts", "user_id", "event_type"),
      keys = Seq("user_id", "event_type"), watermarkDelay = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dd")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("10:00"), 1L, "click"), (ts("10:00"), 1L, "click"),
        // retransmission with a FRESH timestamp — must still be dropped
        (ts("10:02"), 1L, "click"),
        (ts("10:01"), 1L, "view"))
      q.processAllAvailable()
      assert(spark.table("dd").count() == 2)
    } finally q.stop()
  }

  test("streamingIncrementalDedup drops indexed content and in-stream repeats") {
    val seen = Seq("already ingested document")
      .toDF("t").select(graft.ext.TextOps.fingerprint($"t").as("fp"))
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = Streaming.streamingIncrementalDedup(
      input.toDF().toDF("ts", "doc_id", "text"),
      textField = "text", seen = seen, watermarkDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("sid")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("10:00"), 1L, "already ingested document"), // in the index
        (ts("10:01"), 2L, "fresh content one"),
        (ts("10:02"), 3L, "fresh content one"),         // in-stream repeat
        (ts("10:03"), 4L, "fresh content two"))
      q.processAllAvailable()
      assert(spark.table("sid").select("doc_id").as[Long].collect().sorted
        .toSeq == Seq(2L, 4L))
    } finally q.stop()
  }

  test("streamingIncrementalNearDup drops band collisions with the index and exact-signature repeats") {
    // the index holds one doc; a NEAR-dup of it (one word changed out
    // of many) shares band buckets and is dropped; unrelated text
    // survives; an identical-text in-stream repeat (same signature)
    // is dropped with watermark-bounded state
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "the dog wakes up to chase the fox across the field of tall grass"
    val near = base.replace("tall", "short")
    val index = graft.ext.Dedup.minhashIndexRows("doc_id", "text")(
      Seq((100L, base)).toDF("doc_id", "text"))
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = Streaming.streamingIncrementalNearDup(
      input.toDF().toDF("ts", "doc_id", "text"),
      textField = "text", index = index, watermarkDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("sind")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("10:00"), 1L, near),                 // near-dup of the index
        (ts("10:01"), 2L, "totally new words here nothing shared at all"),
        (ts("10:02"), 3L, "totally new words here nothing shared at all"),
        (ts("10:03"), 4L, "other novel content with its own vocabulary"))
      q.processAllAvailable()
      assert(spark.table("sind").select("doc_id").as[Long].collect().sorted
        .toSeq == Seq(2L, 4L))
      // output carries the original columns only — no helper columns
      assert(spark.table("sind").columns.toSeq == Seq("ts", "doc_id", "text"))
    } finally q.stop()
  }

  test("streamingIncrementalNearDup useOph=true gates against an OPH-family index") {
    // same scenario as the classic test, but index AND stream signatures
    // are one-permutation hashing — the families must match end to end
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "the dog wakes up to chase the fox across the field of tall grass"
    val near = base.replace("tall", "short")
    val index = graft.ext.Dedup.minhashIndexRows("doc_id", "text",
      useOph = true)(Seq((100L, base)).toDF("doc_id", "text"))
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = Streaming.streamingIncrementalNearDup(
      input.toDF().toDF("ts", "doc_id", "text"),
      textField = "text", index = index, watermarkDelay = "10 minutes",
      useOph = true)
    val q = out.writeStream.format("memory").queryName("sindo")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("10:00"), 1L, near),                 // near-dup of the index
        (ts("10:01"), 2L, "totally new words here nothing shared at all"),
        (ts("10:02"), 3L, "totally new words here nothing shared at all"),
        (ts("10:03"), 4L, "other novel content with its own vocabulary"))
      q.processAllAvailable()
      assert(spark.table("sindo").select("doc_id").as[Long].collect().sorted
        .toSeq == Seq(2L, 4L))
    } finally q.stop()
  }

  test("streamingIncrementalPerceptualDedup verifies exactly vs the index and drops hash repeats") {
    import graft.ext.BinaryOps
    import org.apache.spark.sql.functions._
    val a = ("aa" + "zz") * 62
    val near = a.updated(100, 'z').updated(101, 'a') // in-radius copy
    // band-mate: flip samples 20-27 only — band 0 (bits 0-14) still
    // matches a's hash but Hamming = 8 > 3, so the EXACT residual
    // verify must let it through (a candidate-only criterion, like the
    // MinHash streaming form's, would have dropped it)
    val ab = a.toCharArray
    for (k <- 20 until 28) {
      val p = k * 248 / 61
      ab(p) = if (ab(p) == 'a') 'z' else 'a'
    }
    val bandMate = new String(ab)
    val fresh = ("zz" + "aa") * 62
    def blob(t: String) = BinaryOps.toBlob(lit(t))
    // self-check the fixture geometry before streaming with it
    val g = Seq(1).toDF("x").select(
      bit_count(BinaryOps.aHash60(blob(a))
        .bitwiseXOR(BinaryOps.aHash60(blob(bandMate)))).as("d"),
      (BinaryOps.aHash60(blob(a)).bitwiseAND(lit(32767L)) ===
        BinaryOps.aHash60(blob(bandMate)).bitwiseAND(lit(32767L))).as("b0"))
      .head()
    assert(g.getInt(0) === 8 && g.getBoolean(1))
    val index = BinaryOps.phashIndexRows("id", "blob")(
      Seq(100L -> a).toDF("id", "t")
        .select($"id", BinaryOps.toBlob($"t").as("blob")))
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = Streaming.streamingIncrementalPerceptualDedup(
      input.toDF().toDF("ts", "id", "t")
        .select($"ts", $"id", BinaryOps.toBlob($"t").as("blob")),
      blobField = "blob", index = index, watermarkDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("sipd")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("10:00"), 1L, near),     // within Hamming 3 of the index
        (ts("10:01"), 2L, bandMate), // band collision, distance 8
        (ts("10:02"), 3L, fresh),    // novel
        (ts("10:03"), 4L, fresh))    // exact in-stream repeat
      q.processAllAvailable()
      assert(spark.table("sipd").select("id").as[Long].collect().sorted
        .toSeq == Seq(2L, 3L))
      assert(spark.table("sipd").columns.toSeq == Seq("ts", "id", "blob"))
    } finally q.stop()
  }

  test("streamingIncrementalEmbeddingDedup verifies cosine exactly vs the code index") {
    import graft.ext.{Dedup, Similarity}
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(23)
    val v0 = Array.fill(64)((rnd.nextFloat() - 0.5f) * 2f)
    val near = v0.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f)
    // find a vector SHARING v0's sign-LSH bucket whose quantized cosine
    // is BELOW threshold: it must survive — pinning that the residual
    // verify (not mere bucket collision) decides the drop
    val probeRows = (0 until 300).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextFloat() - 0.5f) * 2f)))
    val probes = probeRows.toDF("id", "v")
      .withColumn("c", Similarity.quantizeInt8($"v"))
      .withColumn("bk", Similarity.lshBucket($"c", 6, 64))
    val ref = Seq(0).toDF("x")
      .select(Similarity.lshBucket(
        Similarity.quantizeInt8(typedLit(v0.toSeq)), 6, 64).as("bk0"))
      .as[String].head()
    val mateId = probes
      .withColumn("cos", Similarity.quantizedCosine($"c",
        Similarity.quantizeInt8(typedLit(v0.toSeq))))
      .filter($"bk" === ref && $"cos" < 0.5).select("id")
      .as[Long].head()
    val bucketMate = probeRows(mateId.toInt)._2
    val fresh = v0.map(-_)  // opposite bucket, survives trivially
    val index = Dedup.embeddingIndexRows("id", "v")(
      Seq((100L, v0)).toDF("id", "v"))
    val input = MemoryStream[(Timestamp, Long, Array[Float])]
    val out = Streaming.streamingIncrementalEmbeddingDedup(
      input.toDF().toDF("ts", "id", "v"), vecField = "v",
      index = index, threshold = 0.9, watermarkDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("sied")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("10:00"), 1L, near),       // above-threshold index neighbor
        (ts("10:01"), 2L, bucketMate), // bucket collision, low cosine
        (ts("10:02"), 3L, fresh),      // novel
        (ts("10:03"), 4L, fresh))      // exact in-stream repeat
      q.processAllAvailable()
      assert(spark.table("sied").select("id").as[Long].collect().sorted
        .toSeq == Seq(2L, 3L))
      assert(spark.table("sied").columns.toSeq == Seq("ts", "id", "v"))
    } finally q.stop()
  }

  test("streamingIncrementalEmbeddingDedup runs at dim 128 (wide-rung parity)") {
    // same semantics as the 64-d form, at the dimensionality the wide
    // ANN rung feeds: index near-dup drops, novel survives, exact
    // in-stream repeat drops within the watermark
    import graft.ext.Dedup
    val rnd = new scala.util.Random(29)
    val v0 = Array.fill(128)((rnd.nextFloat() - 0.5f) * 2f)
    val near = v0.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f)
    val fresh = v0.map(-_)
    val index = Dedup.embeddingIndexRows("id", "v")(
      Seq((100L, v0)).toDF("id", "v"))
    val input = MemoryStream[(Timestamp, Long, Array[Float])]
    val out = Streaming.streamingIncrementalEmbeddingDedup(
      input.toDF().toDF("ts", "id", "v"), vecField = "v",
      index = index, threshold = 0.9, watermarkDelay = "10 minutes",
      dim = 128)
    val q = out.writeStream.format("memory").queryName("sied128")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("10:00"), 1L, near),  // above-threshold index neighbor
        (ts("10:01"), 2L, fresh), // novel
        (ts("10:02"), 3L, fresh)) // exact in-stream repeat
      q.processAllAvailable()
      assert(spark.table("sied128").select("id").as[Long].collect().sorted
        .toSeq == Seq(2L))
    } finally q.stop()
  }

  test("streamingContainmentGate drops stream docs mostly quoted from the stored gram index") {
    import graft.ext.Dedup
    val refText = "the quick brown fox jumps over the lazy dog while the " +
      "sphinx of black quartz judges a vow about distributed shuffles"
    val refGrams = Dedup.gramIndexRows("text", n = 8)(
      Seq(Tuple1(refText)).toDF("text")).localCheckpoint()
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = Streaming.streamingContainmentGate(
      input.toDF().toDF("ts", "doc_id", "text"),
      idField = "doc_id", textField = "text", refGrams = refGrams,
      n = 8, threshold = 0.5, watermarkDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("scg")
      .outputMode("append").start()
    try {
      input.addData(
        // verbatim quote of the reference's middle: every 8-gram is in
        // the index, containment 1.0 -> dropped
        (ts("10:00"), 1L, "fox jumps over the lazy dog while the sphinx"),
        // novel text sharing no 8-gram -> survives, containment 0
        (ts("10:01"), 2L, "completely unrelated sentences about parquet row groups"),
        // shorter than n: zero grams -> survives, containment 0
        (ts("10:02"), 3L, "tiny"))
      q.processAllAvailable()
      // advance the watermark past the documents' event times so the
      // append-mode aggregation finalizes their groups
      input.addData((ts("11:00"), 99L, "watermark nudge"))
      q.processAllAvailable()
      val got = spark.table("scg")
        .select($"doc_id", $"containment").as[(Long, Double)].collect().toMap
      assert(got.keySet == Set(2L, 3L))
      assert(got(2L) === 0.0 && got(3L) === 0.0)
      // batch parity: the same gate on a batch frame (watermark a no-op)
      val batch = Seq(
        (ts("10:00"), 1L, "fox jumps over the lazy dog while the sphinx"),
        (ts("10:01"), 2L, "completely unrelated sentences about parquet row groups"),
        (ts("10:02"), 3L, "tiny")).toDF("ts", "doc_id", "text")
      val b = Streaming.streamingContainmentGate(batch, "doc_id", "text",
        refGrams, n = 8, threshold = 0.5)
        .select($"doc_id", $"containment").as[(Long, Double)].collect().toMap
      assert(b == got)
    } finally q.stop()
  }

  test("windowed counts build the identical plan on a batch frame") {
    val batch = Seq(
      ts("10:01") -> "click", ts("10:03") -> "click", ts("10:11") -> "view")
      .toDF("ts", "event_type")
    val out = Streaming.windowedEventCounts(
      batch, windowLength = "10 minutes", watermarkDelay = "5 minutes")
      .orderBy("window_start", "event_type").collect()
    assert(out.map(_.getAs[Long]("event_count")).toSeq == Seq(2L, 1L))
  }

  test("the stateless cleaning surface runs unchanged on a stream") {
    // chunking, quality scoring, and PII scrubbing are pure projections,
    // so the SAME operator calls lift to Structured Streaming with no
    // code changes — the property that makes the batch cleaning chain
    // reusable for live ingest.
    import graft.ext.TextOps
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Long, String)]
    val cleaned = TextOps.chunkTexts("doc_id", "text", chunkTokens = 2,
      stride = 2)(
      input.toDF().toDF("doc_id", "text")
        .withColumn("text", TextOps.scrubPii(col("text")))
        .withColumn("quality", TextOps.qualityScore(col("text"))))
    val q = cleaned.writeStream.format("memory").queryName("clean")
      .outputMode("append").start()
    try {
      input.addData(1L -> "contact bob@corp.example.org for the details",
        2L -> "a b c")
      q.processAllAvailable()
      val rows = spark.table("clean")
        .select("doc_id", "chunk_idx", "chunk_text")
        .as[(Long, Long, String)].collect().sortBy(r => (r._1, r._2))
      // scrub ran before chunking: the email never reaches a chunk
      assert(rows.filter(_._1 == 1L).map(_._3).mkString(" ")
        === "contact <EMAIL> for the details")
      assert(rows.filter(_._1 == 2L).map(_._3).toSeq === Seq("a b", "c"))
    } finally q.stop()
  }

  test("robotsFilter lifts to a stream: static rules gate a live frontier") {
    // the rules table is batch state (fetched robots bodies); in
    // broadcastRules mode the verdict is a pure per-row fold against
    // ONE broadcast rule row — zero shuffle, no window, so the SAME
    // call lifts to a stream (the join+window batch form cannot: a
    // row_number window is rejected on streams). keepDenied=false
    // drops denied URLs on the fly.
    import graft.ext.TextOps
    val rules = Seq(("h1", "/private", false), ("h1", "/private/ok", true))
      .toDF("host", "prefix", "allow")
    val input = MemoryStream[(Long, String)]
    val gated = TextOps.robotsFilter("id", "url", rules,
      broadcastRules = true)(input.toDF().toDF("id", "url"))
    val q = gated.writeStream.format("memory").queryName("robots")
      .outputMode("append").start()
    try {
      input.addData(1L -> "https://h1/private/ok/x",
        2L -> "https://h1/private/no", 3L -> "https://h1/open")
      q.processAllAvailable()
      assert(spark.table("robots").select("id").as[Long].collect().sorted
        .toSeq === Seq(1L, 3L))
    } finally q.stop()
  }

  test("centroid routing lifts to a stream: one broadcast row, zero state") {
    // centroidAssign is a pure per-row argmax fold against ONE
    // broadcast row of centroids — no shuffle, no state — so live
    // ingest can route every arriving vector to its topic/cell with
    // the IDENTICAL batch operator call (the stream side of IVF's
    // routing step).
    import graft.ext.Similarity
    import org.apache.spark.sql.functions._
    val cents = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("cid", "center")
    val input = MemoryStream[(Long, Array[Float])]
    val routed = Similarity.centroidAssign("v", cents, "cid", "center")(
      input.toDF().toDF("id", "v"))
    val q = routed.writeStream.format("memory").queryName("routed")
      .outputMode("append").start()
    try {
      input.addData(
        10L -> Array(0.9f, 0.1f, 0.0f, 0.0f),
        11L -> Array(0.0f, 0.1f, 0.9f, 0.0f))
      q.processAllAvailable()
      val got = spark.table("routed").select("id", "centroid_label")
        .as[(Long, Long)].collect().toMap
      assert(got === Map(10L -> 0L, 11L -> 1L))
    } finally q.stop()
  }

  test("gopher gating, truncation, and Bernoulli sampling lift to a stream") {
    // the round-9 stateless ops are pure projections/filters too — the
    // same calls run per micro-batch with no state store
    import graft.ext.TextOps
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Long, String)]
    val gated = TextOps.truncateTokens("text", maxTokens = 3)(
      input.toDF().toDF("doc_id", "text")
        .filter(TextOps.hashBernoulli(col("doc_id"), lit(1.0))))
    val q = gated.writeStream.format("memory").queryName("gated")
      .outputMode("append").start()
    try {
      input.addData(1L -> "a b c d e", 2L -> "x y")
      q.processAllAvailable()
      val rows = spark.table("gated")
        .select("doc_id", "n_tokens", "text_trunc")
        .as[(Long, Long, String)].collect().sortBy(_._1)
      assert(rows.toSeq === Seq((1L, 5L, "a b c"), (2L, 2L, "x y")))
      // gopherRules streams too (projection only); smoke the plan lifts
      val g = TextOps.gopherRules("doc_id", "text")(
        input.toDF().toDF("doc_id", "text"))
      assert(g.isStreaming)
    } finally q.stop()
  }

  test("windowedCategoryDrift: shares vs static baseline per window, __other__ pooling") {
    // baseline: en .5, de .25, fr .25 — fr is NOT an explicit value, so
    // it pools under __other__ on the reference side too
    val reference = Seq("en", "en", "de", "fr").map(Tuple1(_)).toDF("lang")
    val input = MemoryStream[(Timestamp, String)]
    val drift = Streaming.windowedCategoryDrift(
      input.toDF().toDF("ts", "lang"), "lang", reference,
      values = Seq("en", "de"),
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = drift.writeStream.format("memory").queryName("wcd")
      .outputMode("complete").start()
    try {
      // window 10:00 — en ¾, de 0, other ¼ (NULL pools with fr)
      input.addData(ts("10:01") -> "en", ts("10:02") -> "en",
        ts("10:03") -> "en", ts("10:04") -> null.asInstanceOf[String])
      q.processAllAvailable()
      val rows = spark.table("wcd")
        .orderBy("window_start", "value").collect()
      assert(rows.length == 3)
      val byValue = rows.map(r => r.getString(1) ->
        (r.getAs[Long]("n_window"), r.getAs[Double]("share_window"),
          r.getAs[Double]("share_ref"), r.getAs[Double]("delta"))).toMap
      assert(byValue("en") == (3L, 0.75, 0.5, 0.25))
      assert(byValue("de") == (0L, 0.0, 0.25, -0.25))
      assert(byValue("__other__") == (1L, 0.25, 0.25, 0.0))
      // chi2 mirrors the batch probe's formula exactly
      val en = rows.find(_.getString(1) == "en").get
      assert(en.getAs[Double]("chi2") == 0.25 * 0.25 / 0.5)
    } finally q.stop()
  }

  test("windowedCategoryDrift: identical plan on a batch frame; zero-baseline chi2 NULL") {
    val reference = Seq("en").map(Tuple1(_)).toDF("lang")
    val batch = Seq(ts("10:01") -> "en", ts("10:02") -> "de")
      .toDF("ts", "lang")
    val out = Streaming.windowedCategoryDrift(
      batch, "lang", reference, values = Seq("en", "de"),
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
      .orderBy("value").collect()
    // de never appears in the baseline: share_ref 0 -> chi2 NULL, but
    // the drift is visible through share_window
    val de = out.find(_.getString(1) == "de").get
    assert(de.getAs[Double]("share_ref") == 0.0 &&
      de.isNullAt(de.fieldIndex("chi2")) &&
      de.getAs[Double]("share_window") == 0.5)
    val other = out.find(_.getString(1) == "__other__").get
    assert(other.getAs[Long]("n_window") == 0L &&
      other.getAs[Double]("share_ref") == 0.0)
  }

  test("windowedNumericDrift: per-window binned KS vs static reference; batch parity") {
    import org.apache.spark.sql.functions.col
    // reference: uniform over 4 bins of [0, 8)
    val reference = Seq(1.0, 3.0, 5.0, 7.0).map(Tuple1(_)).toDF("v")
    val input = MemoryStream[(Timestamp, Double)]
    val out = Streaming.windowedNumericDrift(
      input.toDF().toDF("ts", "v"), "v", reference,
      lo = 0.0, hi = 8.0, bins = 4,
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("wnd")
      .outputMode("append").start()
    try {
      input.addData(
        // window 10:00: all mass in the TOP bin (incl. a clamped 99.0)
        ts("10:01") -> 6.5, ts("10:02") -> 7.5, ts("10:03") -> 99.0,
        // window 10:10: matches the reference exactly
        ts("10:11") -> 1.0, ts("10:12") -> 3.0,
        ts("10:13") -> 5.0, ts("10:14") -> 7.0,
        // advance the watermark past 10:05 so the first window closes
        ts("10:21") -> 0.0)
      q.processAllAvailable()
      // second batch: advance past 10:15 so the 10:10 window closes too
      input.addData(ts("10:31") -> 0.0)
      q.processAllAvailable()
      val rows = spark.table("wnd")
        .orderBy("window_start", "bin").collect()
      val w1 = rows.filter(_.getAs[Timestamp]("window_start") == ts("10:00"))
      // window CDF (0,0,0,1) vs ref (0.25,0.5,0.75,1) -> KS = 0.75
      assert(w1.map(_.getLong(2)).toSeq === Seq(0L, 0L, 0L, 3L))
      assert(w1.map(_.getDouble(6)).distinct.toSeq === Seq(0.75))
      val w2 = rows.filter(_.getAs[Timestamp]("window_start") == ts("10:10"))
      assert(w2.map(_.getDouble(6)).distinct.toSeq === Seq(0.0)) // no drift
    } finally q.stop()
    // identical plan on a batch frame, and the per-bin ECDF/KS numbers
    // agree with the BATCH probe on the same two frames
    val batch = Seq(ts("10:01") -> 6.5, ts("10:02") -> 7.5,
      ts("10:03") -> 99.0).toDF("ts", "v")
    val viaStreamOp = Streaming.windowedNumericDrift(
      batch, "v", reference, lo = 0.0, hi = 8.0, bins = 4,
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
      .orderBy("bin")
      .select("bin", "n_window", "cdf_window", "cdf_ref", "ks_stat")
      .collect()
    val viaBatchProbe = graft.probes.Probes.numericDrift(
      "v", lo = 0.0, hi = 8.0, bins = 4)(reference, batch)
      .orderBy("bin")
      .select("bin", "n_after", "cdf_after", "cdf_before", "ks_stat")
      .collect()
    assert(viaStreamOp.map(_.toSeq).toSeq ===
      viaBatchProbe.map(_.toSeq).toSeq)
  }

  test("windowedSignTest: shared counters/z dag, gate, batch parity") {
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Timestamp, Double, Double)]
    val out = Streaming.windowedSignTest(
      input.toDF().toDF("ts", "a", "b"), col("a"), col("b"),
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("wst")
      .outputMode("append").start()
    try {
      input.addData(
        // window 10:00: diffs (+, +, +, -, 0) -> z = 2/sqrt(4) = 1
        (ts("10:01"), 1.0, 0.0), (ts("10:02"), 2.0, 0.0),
        (ts("10:03"), 3.0, 0.0), (ts("10:04"), 0.0, 4.0),
        (ts("10:05"), 5.0, 5.0),
        (ts("10:21"), 0.0, 0.0))
      q.processAllAvailable()
      input.addData((ts("10:31"), 0.0, 0.0))
      q.processAllAvailable()
      val w1 = spark.table("wst").collect()
        .find(_.getAs[Timestamp]("window_start") == ts("10:00")).get
      assert(w1.getAs[Long]("n_pairs") === 5L &&
        w1.getAs[Long]("n_zero") === 1L &&
        w1.getAs[Long]("n_pos") === 3L && w1.getAs[Long]("n_neg") === 1L)
      assert(w1.getAs[Double]("z") === 1.0 &&
        !w1.getAs[Boolean]("significant"))
    } finally q.stop()
    // batch parity: the same function on a batch frame, row for row,
    // and a window with enough one-sided evidence fires the gate
    val rows = Seq((ts("10:01"), 1.0, 0.0), (ts("10:02"), 2.0, 0.0),
      (ts("10:03"), 3.0, 0.0), (ts("10:04"), 0.0, 4.0),
      (ts("10:05"), 5.0, 5.0))
    val viaBatch = Streaming.windowedSignTest(
      rows.toDF("ts", "a", "b"), col("a"), col("b"),
      windowLength = "10 minutes").collect().toSeq.map(_.toSeq)
    val viaStream = spark.table("wst")
      .filter(col("window_start") === ts("10:00"))
      .collect().toSeq.map(_.toSeq)
    assert(viaStream === viaBatch)
    val fired = Streaming.windowedSignTest(
      (1 to 9).map(i => (ts(f"10:0${i % 10}"), i.toDouble, 0.0))
        .toDF("ts", "a", "b"), col("a"), col("b"),
      windowLength = "10 minutes").head()
    assert(fired.getAs[Double]("z") === 3.0 &&
      fired.getAs[Boolean]("significant"))
    // the batch z equals Probes.signTest's on the same pairs
    val batchOp = graft.probes.Probes.signTest(col("a"), col("b"))(
      rows.toDF("ts", "a", "b")).head()
    assert(batchOp.getAs[Double]("z") === 1.0)
  }

  test("windowedSignMatrix: pairwise sign z, block drop reported, signTest parity") {
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Timestamp, Double, Double, Double)]
    val out = Streaming.windowedSignMatrix(
      input.toDF().toDF("ts", "a", "b", "c"),
      Seq("a" -> col("a"), "b" -> col("b"), "c" -> col("c")),
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("wsm")
      .outputMode("append").start()
    try {
      input.addData(
        // a vs b diffs (+ + + - 0) — the signTest hand case, z = 1;
        // a vs c diffs (0 0 + 0 0) -> z = 1/sqrt(1) = 1, n_zero = 4;
        // b vs c diffs (- - 0 + 0) -> z = -1/sqrt(3)
        (ts("10:01"), 1.0, 0.0, 1.0), (ts("10:02"), 2.0, 0.0, 2.0),
        (ts("10:03"), 3.0, 0.0, 0.0), (ts("10:04"), 0.0, 4.0, 0.0),
        (ts("10:05"), 5.0, 5.0, 5.0),
        (ts("10:21"), 0.0, 0.0, 0.0))
      q.processAllAvailable()
      val m = spark.table("wsm").collect()
        .filter(_.getAs[Timestamp]("window_start") == ts("10:00"))
        .map(r => (r.getAs[String]("treatment_a"),
          r.getAs[String]("treatment_b")) -> r).toMap
      assert(m.size === 3)
      val ab = m(("a", "b"))
      assert(ab.getAs[Long]("n_blocks") === 5L &&
        ab.getAs[Long]("n_dropped") === 0L)
      assert(ab.getAs[Long]("n_pos") === 3L &&
        ab.getAs[Long]("n_neg") === 1L && ab.getAs[Double]("z") === 1.0)
      assert(!ab.getAs[Boolean]("significant"))
      val ac = m(("a", "c"))
      assert(ac.getAs[Long]("n_zero") === 4L &&
        ac.getAs[Double]("z") === 1.0)
      val bc = m(("b", "c"))
      assert(bc.getAs[Long]("n_pos") === 1L &&
        bc.getAs[Long]("n_neg") === 2L)
      assert(bc.getAs[Double]("z") === -1.0 / math.sqrt(3.0))
    } finally q.stop()
    // batch parity row-for-row, and each pair's z equals
    // Probes.signTest on the same two columns (shared signZOf dag)
    val rows = Seq((ts("10:01"), 1.0, 0.0, 1.0),
      (ts("10:02"), 2.0, 0.0, 2.0), (ts("10:03"), 3.0, 0.0, 0.0),
      (ts("10:04"), 0.0, 4.0, 0.0), (ts("10:05"), 5.0, 5.0, 5.0))
    val viaBatch = Streaming.windowedSignMatrix(
      rows.toDF("ts", "a", "b", "c"),
      Seq("a" -> col("a"), "b" -> col("b"), "c" -> col("c")),
      windowLength = "10 minutes")
      .orderBy("treatment_a", "treatment_b").collect().toSeq
    val viaStream = spark.table("wsm")
      .filter(col("window_start") === ts("10:00"))
      .orderBy("treatment_a", "treatment_b").collect().toSeq
    assert(viaStream.map(_.toSeq) === viaBatch.map(_.toSeq))
    val st = graft.probes.Probes.signTest(col("a"), col("b"))(
      rows.toDF("ts", "a", "b", "c")).head()
    assert(st.getAs[Double]("z") === viaBatch.head.getAs[Double]("z"))
    // a row with ANY NULL or NaN treatment drops from EVERY pair and
    // is REPORTED — the k-wise complete-block contract (unguarded, a
    // NaN difference would sort above every value and count as a win
    // for the earlier-listed arm)
    val withNull = Seq(
      (ts("10:01"), Some(1.0), Some(0.0), Some(1.0)),
      (ts("10:02"), Some(2.0), Some(0.0), None),
      (ts("10:03"), Some(Double.NaN), Some(0.0), Some(1.0)))
      .toDF("ts", "a", "b", "c")
    val nd = Streaming.windowedSignMatrix(withNull,
      Seq("a" -> col("a"), "b" -> col("b"), "c" -> col("c")),
      windowLength = "10 minutes").collect()
    assert(nd.forall(r => r.getAs[Long]("n_blocks") === 1L &&
      r.getAs[Long]("n_dropped") === 2L))
    val ndAb = nd.find(r => r.getAs[String]("treatment_a") == "a" &&
      r.getAs[String]("treatment_b") == "b").get
    assert(ndAb.getAs[Long]("n_pos") === 1L) // only the complete block
    // contracts stay loud
    intercept[IllegalArgumentException](Streaming.windowedSignMatrix(
      rows.toDF("ts", "a", "b", "c"), Seq("a" -> col("a"))))
    intercept[IllegalArgumentException](Streaming.windowedSignMatrix(
      rows.toDF("ts", "a", "b", "c"),
      Seq("a" -> col("a"), "a" -> col("b"))))
  }

  test("windowedHazardGate: hand buckets, spike alarm, drop accounting, batch parity") {
    import org.apache.spark.sql.functions.col
    val ref = Seq(0.5, 0.5, 0.25)
    val input = MemoryStream[(Timestamp, Double, Boolean)]
    val out = Streaming.windowedHazardGate(
      input.toDF().toDF("ts", "dur", "cen"), col("dur"), col("cen"),
      refHazard = ref, bucketWidth = 1.0,
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("whg")
      .outputMode("append").start()
    try {
      input.addData(
        // window 10:00 (quiet): deaths at 0.5/1.5/2.5, censored at
        // 1.5 (leaves the risk set without dying) and 5.0 (outlives
        // the declared horizon - at risk everywhere, judged nowhere)
        (ts("10:01"), 0.5, false), (ts("10:02"), 1.5, false),
        (ts("10:03"), 1.5, true), (ts("10:04"), 2.5, false),
        (ts("10:05"), 5.0, true),
        // window 10:20 (early-churn spike): every subject dies in
        // bucket 0 -> z_0 = (4 - 2)/sqrt(1) = 2 > 1.96
        (ts("10:21"), 0.2, false), (ts("10:22"), 0.3, false),
        (ts("10:23"), 0.4, false), (ts("10:24"), 0.5, false),
        (ts("10:41"), 0.1, false))
      q.processAllAvailable()
      val w1 = spark.table("whg").collect()
        .filter(_.getAs[Timestamp]("window_start") == ts("10:00"))
        .map(r => r.getAs[Long]("bucket") -> r).toMap
      assert(w1.size === 3)
      assert(w1(0L).getAs[Long]("n_window") === 5L &&
        w1(0L).getAs[Long]("n_dropped") === 0L)
      // bucket 0: d=1 of n=5 at risk vs r=0.5
      assert(w1(0L).getAs[Long]("deaths") === 1L &&
        w1(0L).getAs[Long]("at_risk") === 5L &&
        w1(0L).getAs[Double]("hazard") === 0.2)
      assert(w1(0L).getAs[Double]("z") ===
        (1.0 - 5.0 * 0.5) / math.sqrt(5.0 * 0.5 * 0.5))
      // bucket 1: the censored 1.5 counts at risk but not as a death
      assert(w1(1L).getAs[Long]("deaths") === 1L &&
        w1(1L).getAs[Long]("at_risk") === 4L)
      assert(w1(1L).getAs[Double]("z") === -1.0)
      // bucket 2: d=1 of n=2 vs r=0.25
      assert(w1(2L).getAs[Long]("at_risk") === 2L &&
        w1(2L).getAs[Double]("z") ===
          (1.0 - 2.0 * 0.25) / math.sqrt(2.0 * 0.25 * 0.75))
      assert(w1(0L).getAs[Double]("max_abs_z") ===
        math.abs((1.0 - 2.5) / math.sqrt(1.25)))
      assert(!w1(0L).getAs[Boolean]("drift"))
      // the spike window alarms
      val w2 = spark.table("whg").collect()
        .filter(_.getAs[Timestamp]("window_start") == ts("10:20"))
        .map(r => r.getAs[Long]("bucket") -> r).toMap
      assert(w2(0L).getAs[Double]("z") === 2.0 &&
        w2(0L).getAs[Boolean]("drift"))
      // its empty later buckets read honest NULLs
      assert(w2(1L).getAs[Long]("at_risk") === 0L &&
        w2(1L).isNullAt(w2(1L).fieldIndex("hazard")) &&
        w2(1L).isNullAt(w2(1L).fieldIndex("z")))
    } finally q.stop()
    // batch parity: the same function on a batch frame, row for row
    val rows = Seq((ts("10:01"), 0.5, false), (ts("10:02"), 1.5, false),
      (ts("10:03"), 1.5, true), (ts("10:04"), 2.5, false),
      (ts("10:05"), 5.0, true))
    val viaBatch = Streaming.windowedHazardGate(
      rows.toDF("ts", "dur", "cen"), col("dur"), col("cen"),
      ref, bucketWidth = 1.0, windowLength = "10 minutes")
      .orderBy("bucket").collect().toSeq
    val viaStream = spark.table("whg")
      .filter(col("window_start") === ts("10:00"))
      .orderBy("bucket").collect().toSeq
    assert(viaStream.map(_.toSeq) === viaBatch.map(_.toSeq))
    // NULL/NaN/negative durations and NULL flags drop and are
    // REPORTED; they never enter a risk set
    val withNull = Seq(
      (ts("10:01"), Some(0.5), Some(false)),
      (ts("10:02"), Some(Double.NaN), Some(false)),
      (ts("10:03"), Some(-1.0), Some(false)),
      (ts("10:04"), Some(3.0), Option.empty[Boolean]),
      (ts("10:05"), Option.empty[Double], Some(true)))
      .toDF("ts", "dur", "cen")
    val nd = Streaming.windowedHazardGate(withNull, col("dur"),
      col("cen"), ref, bucketWidth = 1.0,
      windowLength = "10 minutes").orderBy("bucket").collect()
    assert(nd.forall(r => r.getAs[Long]("n_window") === 1L &&
      r.getAs[Long]("n_dropped") === 4L))
    assert(nd.head.getAs[Long]("at_risk") === 1L)
    // a reference rate of 0 has no calibrated gate: NULL z there even
    // with deaths; the live buckets still drive max_abs_z
    val degen = Streaming.windowedHazardGate(
      rows.toDF("ts", "dur", "cen"), col("dur"), col("cen"),
      Seq(0.0, 0.5), bucketWidth = 1.0, windowLength = "10 minutes")
      .orderBy("bucket").collect()
    assert(degen(0).isNullAt(degen(0).fieldIndex("z")) &&
      degen(0).getAs[Long]("deaths") === 1L)
    assert(!degen(0).isNullAt(degen(0).fieldIndex("max_abs_z")))
    // bonferroni = true inflates ONLY the drift gate to zCrit·√m
    // (m = live-gated buckets): the spike window's max|z| = 2.0
    // clears 1.96 but not 1.96·√3 ≈ 3.39 — family-wise quiet, and
    // the emitted per-bucket z's are untouched
    val spike = Seq((ts("10:21"), 0.2, false), (ts("10:22"), 0.3, false),
      (ts("10:23"), 0.4, false), (ts("10:24"), 0.5, false))
    val bonf = Streaming.windowedHazardGate(
      spike.toDF("ts", "dur", "cen"), col("dur"), col("cen"),
      ref, bucketWidth = 1.0, bonferroni = true,
      windowLength = "10 minutes").orderBy("bucket").collect()
    assert(bonf(0).getAs[Double]("z") === 2.0 &&
      !bonf(0).getAs[Boolean]("drift"))
    // a spike past the family gate still alarms: 16 deaths in bucket
    // 0 of 16 at risk vs r = 0.5 -> z = 4 > 1.96·√3
    val spike16 = (1 to 16).map(i =>
      (ts(f"10:${20 + i % 9}%02d"), 0.1 + (i % 5) * 0.01, false))
    val bonf16 = Streaming.windowedHazardGate(
      spike16.toDF("ts", "dur", "cen"), col("dur"), col("cen"),
      ref, bucketWidth = 1.0, bonferroni = true,
      windowLength = "1 hour").orderBy("bucket").collect()
    assert(bonf16(0).getAs[Double]("z") === 4.0 &&
      bonf16(0).getAs[Boolean]("drift"))
    // dead-reference buckets don't count toward the family: with one
    // live bucket the bonferroni gate IS the single-test 1.96, so
    // the same |z| = 2 that stayed family-quiet above now alarms
    val lateSpike = Seq((ts("10:21"), 1.2, false),
      (ts("10:22"), 1.3, false), (ts("10:23"), 1.4, false),
      (ts("10:24"), 1.5, false))
    val oneLive = Streaming.windowedHazardGate(
      lateSpike.toDF("ts", "dur", "cen"), col("dur"), col("cen"),
      Seq(0.0, 0.5), bucketWidth = 1.0, bonferroni = true,
      windowLength = "10 minutes").orderBy("bucket").collect()
    assert(oneLive(1).getAs[Double]("z") === 2.0 &&
      oneLive(1).getAs[Boolean]("drift"))
    // contracts stay loud
    intercept[IllegalArgumentException](Streaming.windowedHazardGate(
      rows.toDF("ts", "dur", "cen"), col("dur"), col("cen"),
      Seq(0.5), bucketWidth = 1.0))
    intercept[IllegalArgumentException](Streaming.windowedHazardGate(
      rows.toDF("ts", "dur", "cen"), col("dur"), col("cen"),
      Seq(0.5, 1.5), bucketWidth = 1.0))
    intercept[IllegalArgumentException](Streaming.windowedHazardGate(
      rows.toDF("ts", "dur", "cen"), col("dur"), col("cen"),
      ref, bucketWidth = 0.0))
  }

  test("windowedAnovaGate: per-window F gate, exact oneWayAnova parity") {
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Timestamp, Int, Double)]
    val out = Streaming.windowedAnovaGate(
      input.toDF().toDF("ts", "v", "x"), col("v"), col("x"),
      variantValues = Seq("0", "1", "2"), fCrit = 3.0,
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("wag")
      .outputMode("append").start()
    try {
      input.addData(
        // window 10:00: arm0 = {1,2,3}, arm1 = {4,5,6} — the
        // oneWayAnova hand case, F = 13.5; the v=7 row is outside the
        // declared vocabulary and DROPS
        (ts("10:01"), 0, 1.0), (ts("10:02"), 0, 2.0),
        (ts("10:03"), 0, 3.0), (ts("10:04"), 1, 4.0),
        (ts("10:05"), 1, 5.0), (ts("10:06"), 1, 6.0),
        (ts("10:07"), 7, 100.0),
        (ts("10:21"), 0, 0.0))
      q.processAllAvailable()
      input.addData((ts("10:41"), 0, 0.0))
      q.processAllAvailable()
      val w1 = spark.table("wag").collect()
        .find(_.getAs[Timestamp]("window_start") == ts("10:00")).get
      assert(w1.getAs[Long]("n") === 6L && w1.getAs[Long]("k") === 2L)
      assert(math.abs(w1.getAs[Double]("f") - 13.5) < 1e-6)
      assert(w1.getAs[Boolean]("significant"))
      // a one-arm window: k = 1 -> NULL F, gate stays quiet
      val w2 = spark.table("wag").collect()
        .find(_.getAs[Timestamp]("window_start") == ts("10:20")).get
      assert(w2.getAs[Long]("k") === 1L &&
        w2.isNullAt(w2.fieldIndex("f")) &&
        !w2.getAs[Boolean]("significant"))
    } finally q.stop()
    // batch parity: the same function on a batch frame, row for row
    val rows = Seq((ts("10:01"), 0, 1.0), (ts("10:02"), 0, 2.0),
      (ts("10:03"), 0, 3.0), (ts("10:04"), 1, 4.0),
      (ts("10:05"), 1, 5.0), (ts("10:06"), 1, 6.0),
      (ts("10:07"), 7, 100.0))
    val viaBatch = Streaming.windowedAnovaGate(
      rows.toDF("ts", "v", "x"), col("v"), col("x"),
      Seq("0", "1", "2"), fCrit = 3.0, windowLength = "10 minutes")
      .collect().toSeq
    val viaStream = spark.table("wag")
      .filter(col("window_start") === ts("10:00"))
      .collect().toSeq
    assert(viaStream.map(_.toSeq) === viaBatch.map(_.toSeq))
    // the per-window F/eta² equal Probes.oneWayAnova EXACTLY: sorted
    // vocabulary -> the pivoted fold sequence is the batch op's
    // variant-pinned fold (empty variants are exact +0.0 no-ops)
    val batchOp = graft.probes.Probes.oneWayAnova(col("v"), col("x"))(
      rows.filter(r => r._2 <= 2).toDF("ts", "v", "x")).head()
    assert(batchOp.getAs[Double]("f") ===
      viaBatch.head.getAs[Double]("f"))
    assert(batchOp.getAs[Double]("eta_sq") ===
      viaBatch.head.getAs[Double]("eta_sq"))
    // declared-vocabulary contracts stay loud
    intercept[IllegalArgumentException](Streaming.windowedAnovaGate(
      rows.toDF("ts", "v", "x"), col("v"), col("x"),
      (0 to 32).map(_.toString)))
    intercept[IllegalArgumentException](Streaming.windowedAnovaGate(
      rows.toDF("ts", "v", "x"), col("v"), col("x"),
      Seq("0", "0")))
  }

  test("windowedValueDrift: exact KS/TVD vs stored histogram, gate, batch parity") {
    import org.apache.spark.sql.functions.col
    val refHist = Seq(1L, 1L, 1L, 1L) // balanced 4-bin reference over [0, 8)
    val input = MemoryStream[(Timestamp, Double)]
    val out = Streaming.windowedValueDrift(
      input.toDF().toDF("ts", "v"), "v", refHist, lo = 0.0, hi = 8.0,
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("wvd")
      .outputMode("append").start()
    try {
      input.addData(
        // window 10:00: all mass in the TOP bin (incl. a clamped 99.0)
        ts("10:01") -> 6.5, ts("10:02") -> 7.5, ts("10:03") -> 99.0,
        // window 10:10: matches the reference exactly
        ts("10:11") -> 1.0, ts("10:12") -> 3.0,
        ts("10:13") -> 5.0, ts("10:14") -> 7.0,
        ts("10:21") -> 0.0)
      q.processAllAvailable()
      input.addData(ts("10:31") -> 0.0)
      q.processAllAvailable()
      val rows = spark.table("wvd").collect()
      val w1 = rows.find(_.getAs[Timestamp]("window_start") == ts("10:00")).get
      // counts (0,0,0,3), N_w=3 vs ref (1,1,1,1), N_r=4:
      // ksNum = max(3,6,9,0) = 9 -> ks = 9/12; tvdNum = 3+3+3+9 = 18
      // -> tvd = 18/24 — exact integer numerators, one division each
      assert(w1.getAs[Long]("n_window") === 3L)
      assert(w1.getAs[Double]("ks_stat") === 0.75)
      assert(w1.getAs[Double]("tvd") === 0.75)
      // the gate is honest about tiny evidence: threshold
      // 1.358·sqrt(7/12) > 0.75, so 3-vs-4 points cannot alarm
      assert(w1.getAs[Double]("threshold") ===
        1.358 * math.sqrt(7.0 / 12.0))
      assert(!w1.getAs[Boolean]("drift"))
      val w2 = rows.find(_.getAs[Timestamp]("window_start") == ts("10:10")).get
      assert(w2.getAs[Double]("ks_stat") === 0.0 &&
        w2.getAs[Double]("tvd") === 0.0 && !w2.getAs[Boolean]("drift"))
    } finally q.stop()
    // with real evidence the gate FIRES: 100 top-bin values vs a
    // balanced 100-count reference (same ks = 0.75, threshold 0.192)
    val many = (1 to 100).map(i => ts(f"10:${i % 10}%02d") -> 7.0)
      .toDF("ts", "v")
    val fired = Streaming.windowedValueDrift(many, "v",
      Seq(25L, 25L, 25L, 25L), lo = 0.0, hi = 8.0,
      windowLength = "10 minutes").head()
    assert(fired.getAs[Double]("ks_stat") === 0.75 &&
      fired.getAs[Boolean]("drift"))
    // identical plan on a batch frame: the stream's closed windows
    // equal the batch run on the same events, row for row
    val batch = Seq(ts("10:01") -> 6.5, ts("10:02") -> 7.5,
      ts("10:03") -> 99.0, ts("10:11") -> 1.0, ts("10:12") -> 3.0,
      ts("10:13") -> 5.0, ts("10:14") -> 7.0).toDF("ts", "v")
    val viaBatch = Streaming.windowedValueDrift(batch, "v", refHist,
      lo = 0.0, hi = 8.0, windowLength = "10 minutes")
      .orderBy("window_start").collect().toSeq.map(_.toSeq)
    val viaStream = spark.table("wvd").orderBy("window_start")
      .collect().toSeq.map(_.toSeq)
    assert(viaStream === viaBatch)
    // contract guards
    intercept[IllegalArgumentException](Streaming.windowedValueDrift(
      batch, "v", Seq(1L), lo = 0.0, hi = 8.0))
    intercept[IllegalArgumentException](Streaming.windowedValueDrift(
      batch, "v", Seq(0L, 0L), lo = 0.0, hi = 8.0))
  }

  test("spanCorrupt and fimTransform lift to streams (stateless projections)") {
    import graft.ext.TextOps
    val rows = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three"), (3L, "solo"))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val sc = TextOps.spanCorrupt("doc_id", "text", maskProb = 0.4)(stream)
    val fim = TextOps.fimTransform("doc_id", "text", fimRate = 0.6)(stream)
    val q1 = sc.writeStream.format("memory").queryName("sc_s")
      .outputMode("append").start()
    val q2 = fim.writeStream.format("memory").queryName("fim_s")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      val batch = rows.toDF("doc_id", "text")
      assert(spark.table("sc_s").orderBy("doc_id").collect().toSeq ===
        TextOps.spanCorrupt("doc_id", "text", maskProb = 0.4)(batch)
          .orderBy("doc_id").collect().toSeq)
      assert(spark.table("fim_s").orderBy("doc_id").collect().toSeq ===
        TextOps.fimTransform("doc_id", "text", fimRate = 0.6)(batch)
          .orderBy("doc_id").collect().toSeq)
    } finally { q1.stop(); q2.stop() }
  }

  test("applyLineFilter lifts to streams (the serving form of dedupLines)") {
    import graft.ext.TextOps
    val rows = Seq((1L, "nav\nkeep one\nnav"), (2L, "keep two"), (3L, null: String))
    val input = MemoryStream[(Long, String)]
    val filtered = TextOps.applyLineFilter("doc_id", "text", Seq("nav"))(
      input.toDF().toDF("doc_id", "text"))
    val q = filtered.writeStream.format("memory").queryName("alf_s")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val batch = rows.toDF("doc_id", "text")
      assert(spark.table("alf_s").orderBy("doc_id").collect().toSeq ===
        TextOps.applyLineFilter("doc_id", "text", Seq("nav"))(batch)
          .orderBy("doc_id").collect().toSeq)
      assert(spark.table("alf_s")
        .agg(org.apache.spark.sql.functions.sum("n_removed"))
        .head.getLong(0) === 2L)
    } finally q.stop()
  }

  test("streamingIvfPqServe answers micro-batch queries == batch ivfPqTopK; MMR post composes") {
    import graft.ext.Similarity
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.Row
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val cents = Similarity.standinCentroids(
      corpus, "vec_id", "embedding", 8).localCheckpoint()
    // the STORED index: precomputed (item_id, cell, codes) rows — the
    // serving path must answer from codes, not re-encode the corpus
    val index = Similarity.ivfPqIndexRows(
      corpus, "vec_id", "embedding", cents, cents, m = 8)
      .localCheckpoint()
    val queryRows = Seq(
      3L -> corpus.filter(col("vec_id") === 3L),
      7L -> corpus.filter(col("vec_id") === 7L))
      .map { case (id, df) =>
        id -> df.select("embedding").as[Array[Float]].head() }
    val collected = scala.collection.mutable.ArrayBuffer.empty[Row]
    val mmrCollected = scala.collection.mutable.ArrayBuffer.empty[Row]
    def mmrPost(pool: org.apache.spark.sql.DataFrame) =
      Similarity.mmrRerank(pool, corpus, "vec_id", "embedding",
        k = 2, lambda = 0.7)
    val input = MemoryStream[(Long, Array[Float])]
    val stream = input.toDF().toDF("qid", "qv")
    val q1 = Streaming.streamingIvfPqServe(
      stream, "qid", "qv", corpus, "vec_id", "embedding",
      cents, nprobe = 2, cents, m = 8, k = 3, rerank = 10,
      index = Some(index))(
      (res, _) => collected.synchronized { collected ++= res.collect() })
    val q2 = Streaming.streamingIvfPqServe(
      stream, "qid", "qv", corpus, "vec_id", "embedding",
      cents, nprobe = 2, cents, m = 8, k = 3, rerank = 10,
      index = Some(index), post = mmrPost)(
      (res, _) => mmrCollected.synchronized { mmrCollected ++= res.collect() })
    try {
      input.addData(queryRows.head)
      q1.processAllAvailable(); q2.processAllAvailable()
      input.addData(queryRows(1)) // second micro-batch: a later request
      q1.processAllAvailable(); q2.processAllAvailable()
    } finally { q1.stop(); q2.stop() }
    val batchQueries = queryRows.toDF("qid", "qv")
    val expect = Similarity.ivfPqTopK(
      corpus, "vec_id", "embedding", batchQueries, "qid", "qv",
      cents, nprobe = 2, cents, m = 8, k = 3, rerank = 10,
      excludeSelf = false, index = Some(index))
    def key(r: Row) = (r.getLong(0), r.getInt(r.fieldIndex("rank")))
    assert(collected.sortBy(key).toSeq ===
      expect.collect().toSeq.sortBy(key))
    // diversified serving: identical pool, MMR pass applied per batch
    assert(mmrCollected.sortBy(key).toSeq ===
      mmrPost(expect).collect().toSeq.sortBy(key))
  }

  test("streamingBm25Serve answers micro-batch queries == batch bm25BatchTopK; RRF post fuses the dense leg") {
    import graft.ext.{Similarity, TextOps}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.Row
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // the STORED lexical index triad: postings + term df + constants —
    // serving must answer from these, never re-reading corpus text
    val index = TextOps.bm25IndexRows("doc_id", "text")(corpus)
      .localCheckpoint()
    val termDf = TextOps.bm25TermDf(index).localCheckpoint()
    val stats = TextOps.bm25Stats(index).localCheckpoint()
    val queryRows = Seq(
      (0L, Seq("spark", "stream")),
      (1L, Seq("vector", "merge", "window")))
    val collected = scala.collection.mutable.ArrayBuffer.empty[Row]
    val fusedCollected = scala.collection.mutable.ArrayBuffer.empty[Row]
    // the dense leg for the hybrid story: a fixed ranker keyed like the
    // lexical output — rrfFuse is rank-only, so any (query_id, item_id,
    // rank) frame composes
    val denseLeg = Seq((0L, 42L, 1), (0L, 7L, 2), (1L, 7L, 1))
      .toDF("query_id", "item_id", "rank").localCheckpoint()
    // fuse only the dense answers for THIS batch's queries (fusion is
    // per-query independent, so per-batch fusion == whole-run fusion)
    def rrfPost(lex: org.apache.spark.sql.DataFrame) =
      Similarity.rrfFuse(
        lex.select(col("query_id"), col("doc_id").as("item_id"),
          col("rank")),
        denseLeg.join(lex.select("query_id").distinct(), "query_id"),
        k0 = 60, topK = 5)
    val input = MemoryStream[(Long, Seq[String])]
    val stream = input.toDF().toDF("qid", "terms")
    val q1 = Streaming.streamingBm25Serve(
      stream, "qid", "terms", index, termDf, stats, k = 10)(
      (res, _) => collected.synchronized { collected ++= res.collect() })
    val q2 = Streaming.streamingBm25Serve(
      stream, "qid", "terms", index, termDf, stats, k = 10,
      post = rrfPost)(
      (res, _) => fusedCollected.synchronized {
        fusedCollected ++= res.collect() })
    try {
      input.addData(queryRows.head)
      q1.processAllAvailable(); q2.processAllAvailable()
      input.addData(queryRows(1)) // a later serving request
      q1.processAllAvailable(); q2.processAllAvailable()
    } finally { q1.stop(); q2.stop() }
    val batchQueries = queryRows.toDF("qid", "terms")
    // bit-for-bit parity with the LIVE-corpus batch operator: the
    // stored-index serve and the corpus scan share one scoring core
    val expect = TextOps.bm25BatchTopK("doc_id", "text",
      batchQueries, "qid", "terms", k = 10)(corpus)
    def key(r: Row) = (r.getLong(0), r.getInt(r.fieldIndex("rank")))
    assert(collected.sortBy(key).toSeq ===
      expect.collect().toSeq.sortBy(key))
    assert(collected.nonEmpty)
    // hybrid serving: per-batch RRF fusion equals fusing the batch run
    assert(fusedCollected.sortBy(key).toSeq ===
      rrfPost(expect).collect().toSeq.sortBy(key))
  }

  test("ohlcBuckets lifts to a stream: min_by/max_by aggregate in complete mode") {
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Timestamp, String, Double, Long)]
    val ohlc = graft.ops.TemporalOps.ohlcBuckets("ts", "v", "10 minutes",
      keys = Seq("k"), tieBreak = Seq("i"))(
      input.toDF().toDF("ts", "k", "v", "i"))
    val q = ohlc.writeStream.format("memory").queryName("sohlc")
      .outputMode("complete").start()
    try {
      input.addData((ts("10:01"), "a", 5.0, 1L), (ts("10:02"), "a", 9.0, 2L))
      q.processAllAvailable()
      input.addData((ts("10:03"), "a", 2.0, 3L)) // close updates per batch
      q.processAllAvailable()
      val r = spark.table("sohlc").head()
      assert(r.getDouble(2) === 5.0 && r.getDouble(3) === 9.0 &&
        r.getDouble(4) === 2.0 && r.getDouble(5) === 2.0 &&
        r.getLong(6) === 3L)
    } finally q.stop()
  }

  test("windowedCalibration: per-window rows == batch scoreCalibration; batch plan runs") {
    import org.apache.spark.sql.functions._
    val events = Seq(
      (ts("10:01"), 0.1, false), (ts("10:02"), 0.3, false),
      (ts("10:03"), 0.4, true), (ts("10:04"), 0.6, true),
      (ts("10:05"), 1.0, true),
      // second window, different mix
      (ts("10:11"), 0.2, true), (ts("10:12"), 0.9, true))
    val input = MemoryStream[(Timestamp, Double, Boolean)]
    val cal = Streaming.windowedCalibration(
      input.toDF().toDF("ts", "s", "y"), col("s"), col("y"), bins = 2,
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = cal.writeStream.format("memory").queryName("wcal")
      .outputMode("complete").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      val rows = spark.table("wcal").collect()
      // parity: each window's (bin, n, mean, rate, gap, ece) equals the
      // batch probe on that window's slice — bit-for-bit
      Seq("10:00" -> events.take(5), "10:10" -> events.drop(5))
        .foreach { case (w0, slice) =>
          val got = rows
            .filter(_.getTimestamp(0) == ts(w0))
            .map(r => r.getInt(2) -> (r.getLong(3), r.getDouble(4),
              r.getDouble(5), r.getDouble(6), r.getDouble(7))).toMap
          val want = graft.probes.Probes.scoreCalibration(
            col("s"), col("y"), bins = 2)(
            slice.toDF("ts", "s", "y")).collect()
            .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2),
              r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
          assert(got === want, s"window $w0")
        }
    } finally q.stop()
    // the same plan runs on a batch frame
    val batchOut = Streaming.windowedCalibration(
      events.toDF("ts", "s", "y"), col("s"), col("y"), bins = 2,
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
      .collect()
    assert(batchOut.length === 4) // both bins occupied in each window
  }

  test("streaming conversation assembly: gap-closed sessions emit once, matching batch") {
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Timestamp, String, String, String)]
    val out = Streaming.streamingConversationAssemble(
      input.toDF().toDF("ts", "user_id", "role", "content"),
      gap = "10 minutes", watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("convasm")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("09:00"), "u1", "system", "be brief"),
        (ts("09:01"), "u1", "user", "hi"),
        (ts("09:02"), "u1", "assistant", "hello there"))
      q.processAllAvailable()
      // two flush rounds: the watermark a batch USES trails the data a
      // batch SEES by one trigger
      input.addData((ts("11:00"), "u2", "user", "later"))
      q.processAllAvailable()
      input.addData((ts("11:30"), "u2", "user", "more"))
      q.processAllAvailable()
      // closed: u1's 09:00-09:12 and u2's 11:00-11:10 (the post-batch
      // no-data trigger sees watermark 11:25); u2's 11:30 session stays
      // open — emitted once each, never re-emitted
      val rows = spark.table("convasm").orderBy("session_start").collect()
      assert(rows.map(r => (r.getAs[String]("user_id"),
        r.getAs[Long]("n_turns"))).toSeq === Seq("u1" -> 3L, "u2" -> 1L))
      val r = rows.head
      assert(r.getAs[String]("user_id") === "u1")
      assert(r.getAs[Long]("n_turns") === 3L)
      val text = r.getAs[String]("text")
      assert(text ===
        "<|system|>\nbe brief\n<|user|>\nhi\n<|assistant|>\nhello there\n")
      val Array(a, b) = r.getAs[String]("loss_spans").split(":")
      assert(text.substring(a.toInt, b.toInt) === "hello there")
      // batch parity: the SAME op over the same rows as a batch frame
      val batch = Seq(
        (ts("09:00"), "u1", "system", "be brief"),
        (ts("09:01"), "u1", "user", "hi"),
        (ts("09:02"), "u1", "assistant", "hello there"),
        (ts("11:00"), "u2", "user", "later"),
        (ts("11:30"), "u2", "user", "more"))
        .toDF("ts", "user_id", "role", "content")
      val bu1 = Streaming.streamingConversationAssemble(
        batch, gap = "10 minutes")
        .filter(col("user_id") === "u1").collect().head
      assert(bu1.toSeq === r.toSeq)
    } finally q.stop()
  }

  test("streamingCusum carries (sp, sn) across micro-batches, matching batch") {
    import graft.streaming.{CusumEvent, CusumStat}
    val input = MemoryStream[CusumEvent]
    val out = Streaming.streamingCusum(input.toDS(),
      target = 10.0, slack = 1.0, threshold = 9.0)
    val q = out.writeStream.format("memory").queryName("cusum")
      .outputMode("append").start()
    try {
      // same fixture as the batch spec: 10,16 | 16,2 split across batches
      input.addData(
        CusumEvent(1L, ts("09:00"), 1L, 10.0),
        CusumEvent(1L, ts("09:01"), 2L, 16.0))
      q.processAllAvailable()
      input.addData(
        CusumEvent(1L, ts("09:02"), 3L, 16.0),
        CusumEvent(1L, ts("09:03"), 4L, 2.0))
      q.processAllAvailable()
      val got = spark.table("cusum").orderBy("tie")
        .as[CusumStat].collect().toSeq
      assert(got.map(_.cusum_pos) === Seq(0.0, 5.0, 10.0, 1.0))
      assert(got.map(_.cusum_neg) === Seq(0.0, 0.0, 0.0, 7.0))
      assert(got.map(_.shift_flag) === Seq(false, false, true, false))
      // batch parity: the exact WindowOps fold on the same rows
      val batch = Seq(
        (1L, ts("09:00"), 1L, 10.0), (1L, ts("09:01"), 2L, 16.0),
        (1L, ts("09:02"), 3L, 16.0), (1L, ts("09:03"), 4L, 2.0))
        .toDF("k", "t", "tb", "v")
      val want = graft.ops.WindowOps.cusumShift("k", "t", "v",
        10.0, 1.0, 9.0, "tb")(batch)
        .orderBy("tb").select("cusum_pos", "cusum_neg", "shift_flag")
        .as[(Double, Double, Boolean)].collect().toSeq
      assert(got.map(s => (s.cusum_pos, s.cusum_neg, s.shift_flag)) === want)
    } finally q.stop()
  }

  test("streamingHolt carries (level, trend) across micro-batches, matching batch") {
    import graft.streaming.{CusumEvent, HoltStat}
    val input = MemoryStream[CusumEvent]
    val out = Streaming.streamingHolt(input.toDS(), alpha = 0.5, beta = 0.5)
    val q = out.writeStream.format("memory").queryName("holt")
      .outputMode("append").start()
    try {
      input.addData(
        CusumEvent(1L, ts("09:00"), 1L, 10.0),
        CusumEvent(1L, ts("09:01"), 2L, 20.0))
      q.processAllAvailable()
      input.addData(CusumEvent(1L, ts("09:02"), 3L, 30.0))
      q.processAllAvailable()
      val got = spark.table("holt").orderBy("tie")
        .as[HoltStat].collect().toSeq
      // the batch spec's hand-rolled halves: (10,0) (15,2.5) (23.75,5.625)
      assert(got.map(_.level) === Seq(10.0, 15.0, 23.75))
      assert(got.map(_.trend) === Seq(0.0, 2.5, 5.625))
      assert(got.map(_.forecast) === Seq(10.0, 17.5, 29.375))
      // batch parity: the exact WindowOps fold on the same rows
      val batch = Seq(
        (1L, ts("09:00"), 1L, 10.0), (1L, ts("09:01"), 2L, 20.0),
        (1L, ts("09:02"), 3L, 30.0)).toDF("k", "t", "tb", "v")
      val want = graft.ops.WindowOps.holtSmooth("k", "t", "v",
        alpha = 0.5, beta = 0.5, tieBreak = "tb")(batch)
        .orderBy("tb").select("level", "trend", "forecast")
        .as[(Double, Double, Double)].collect().toSeq
      assert(got.map(s => (s.level, s.trend, s.forecast)) === want)
    } finally q.stop()
    // DAMPED parity: the streaming twin's phi lands in the same dag
    // positions as the batch op's (hand halves: phi = beta = alpha = .5
    // gives (4,0,4) (6,1,6.5) (7.25,0.875,7.6875) on values 4,8,8)
    val input2 = MemoryStream[CusumEvent]
    val out2 = Streaming.streamingHolt(input2.toDS(), alpha = 0.5,
      beta = 0.5, phi = 0.5)
    val q2 = out2.writeStream.format("memory").queryName("holt_d")
      .outputMode("append").start()
    try {
      input2.addData(
        CusumEvent(1L, ts("09:00"), 1L, 4.0),
        CusumEvent(1L, ts("09:01"), 2L, 8.0))
      q2.processAllAvailable()
      input2.addData(CusumEvent(1L, ts("09:02"), 3L, 8.0))
      q2.processAllAvailable()
      val gotD = spark.table("holt_d").orderBy("tie")
        .as[HoltStat].collect().toSeq
      assert(gotD.map(s => (s.level, s.trend, s.forecast)) ===
        Seq((4.0, 0.0, 4.0), (6.0, 1.0, 6.5), (7.25, 0.875, 7.6875)))
    } finally q2.stop()
  }

  test("streamingHoltWinters carries the seasonal ring across micro-batches, matching batch") {
    import graft.streaming.{CusumEvent, HwStat}
    val input = MemoryStream[CusumEvent]
    val out = Streaming.streamingHoltWinters(input.toDS(),
      alpha = 0.5, beta = 0.5, gamma = 0.5, period = 2)
    val q = out.writeStream.format("memory").queryName("hw")
      .outputMode("append").start()
    try {
      input.addData(
        CusumEvent(1L, ts("09:00"), 1L, 10.0),
        CusumEvent(1L, ts("09:01"), 2L, 20.0))
      q.processAllAvailable()
      input.addData(
        CusumEvent(1L, ts("09:02"), 3L, 30.0),
        CusumEvent(1L, ts("09:03"), 4L, 40.0))
      q.processAllAvailable()
      val got = spark.table("hw").orderBy("tie")
        .as[HwStat].collect().toSeq
      // the batch spec's hand case: levels 10/15/23.75/33.4375,
      // seasonals 0/2.5/3.125/4.53125, forecasts 10/17.5/31.875/44.21875
      assert(got.map(_.level) === Seq(10.0, 15.0, 23.75, 33.4375))
      assert(got.map(_.seasonal) === Seq(0.0, 2.5, 3.125, 4.53125))
      assert(got.map(_.forecast) === Seq(10.0, 17.5, 31.875, 44.21875))
      // batch parity: the exact WindowOps fold on the same rows
      val batch = Seq(
        (1L, ts("09:00"), 1L, 10.0), (1L, ts("09:01"), 2L, 20.0),
        (1L, ts("09:02"), 3L, 30.0), (1L, ts("09:03"), 4L, 40.0))
        .toDF("k", "t", "tb", "v")
      val want = graft.ops.WindowOps.holtWinters("k", "t", "v",
        alpha = 0.5, beta = 0.5, gamma = 0.5, period = 2,
        tieBreak = "tb")(batch)
        .orderBy("tb").select("level", "trend", "seasonal", "forecast")
        .as[(Double, Double, Double, Double)].collect().toSeq
      assert(got.map(s => (s.level, s.trend, s.seasonal, s.forecast))
        === want)
    } finally q.stop()
    intercept[IllegalArgumentException](Streaming.streamingHoltWinters(
      input.toDS(), alpha = 0.5, beta = 0.5, gamma = 0.5, period = 1))
  }

  test("windowedProportionZ: per-window A/B z-gate, alarm, batch parity") {
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Timestamp, Boolean, Boolean)]
    val out = Streaming.windowedProportionZ(
      input.toDF().toDF("ts", "a", "s"), col("a"), col("s"),
      zCrit = 1.0, windowLength = "10 minutes",
      watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("wpz")
      .outputMode("append").start()
    try {
      // window 1 = the hand case from the batch spec: z = sqrt(2) > 1
      input.addData(
        (ts("09:01"), true, true), (ts("09:02"), true, true),
        (ts("09:03"), true, true), (ts("09:04"), true, false),
        (ts("09:05"), false, true), (ts("09:06"), false, false),
        (ts("09:07"), false, false), (ts("09:08"), false, false))
      // window 2: identical rates -> z = 0, no alarm
      input.addData(
        (ts("09:11"), true, true), (ts("09:12"), true, false),
        (ts("09:13"), false, true), (ts("09:14"), false, false))
      q.processAllAvailable()
      input.addData((ts("10:00"), true, true)) // watermark nudge
      q.processAllAvailable()
      val got = spark.table("wpz").orderBy("window_start")
        .select($"n_a", $"k_a", $"risk_diff", $"z", $"significant")
        .as[(Long, Long, Double, Double, Boolean)].collect().toSeq
      assert((got.head._1, got.head._2, got.head._3, got.head._5) ===
        ((4L, 3L, 0.5, true)))
      assert(math.abs(got.head._4 - math.sqrt(2.0)) < 1e-15)
      assert(got(1)._4 === 0.0 && !got(1)._5)
      // batch parity: the batch probe on window 1's rows agrees
      val batch = graft.probes.Probes.proportionZTest(col("a"), col("s"))(
        Seq((true, true), (true, true), (true, true), (true, false),
          (false, true), (false, false), (false, false), (false, false))
          .toDF("a", "s")).head()
      assert(batch.getAs[Double]("z") === got.head._4)
    } finally q.stop()
    intercept[IllegalArgumentException](Streaming.windowedProportionZ(
      input.toDF().toDF("ts", "a", "s"), col("a"), col("s"), zCrit = 0.0))
  }

  test("windowedOovRate: per-window OOV rollup, batch-probe parity") {
    val vocab = Seq("a", "b").toDF("tok")
    val input = MemoryStream[(Timestamp, String)]
    val out = Streaming.windowedOovRate(
      input.toDF().toDF("ts", "text"), vocab, "text",
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("woov")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("09:01"), "a b a c"),  // 4 tokens, 1 oov
        (ts("09:02"), "a z z z")) // 4 tokens, 3 oov
      q.processAllAvailable()
      input.addData((ts("10:00"), "a")) // watermark nudge, next window
      q.processAllAvailable()
      val got = spark.table("woov")
        .select($"n_tokens", $"n_oov", $"oov_rate")
        .as[(Long, Long, Double)].collect().toSeq
      assert(got === Seq((8L, 4L, 0.5)))
      // batch parity: the per-doc probe's corpus totals over the same
      // window's rows agree
      val batch = Seq((1L, "a b a c"), (2L, "a z z z")).toDF("id", "text")
      val w = graft.ext.TextOps.oovRate(vocab, "id", "text")(batch)
        .agg(org.apache.spark.sql.functions.sum("n_tokens"),
          org.apache.spark.sql.functions.sum("n_oov")).head()
      assert((w.getLong(0), w.getLong(1)) === (got.head._1, got.head._2))
    } finally q.stop()
    intercept[IllegalArgumentException](Streaming.windowedOovRate(
      input.toDF().toDF("ts", "text"),
      vocab.withColumn("x",
        org.apache.spark.sql.functions.lit(1)), "text"))
  }

  test("windowedCorpusDrift: TVD vs stored reference, rest bucket, alarm, batch parity") {
    // reference a:2 b:1 c:1, topR=2 -> vocab {a, b} (count desc, term
    // asc tiebreak beats c), rest mass 1/4
    val ref = Seq(("a", 2L), ("b", 1L), ("c", 1L)).toDF("term", "cnt")
    val input = MemoryStream[(Timestamp, String)]
    val out = Streaming.windowedCorpusDrift(
      input.toDF().toDF("ts", "text"), ref, "text", topR = 2,
      maxTvd = 0.2, windowLength = "10 minutes",
      watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("wdrift")
      .outputMode("append").start()
    try {
      // window 1 matches the reference exactly; window 2 is all-OOV
      input.addData((ts("09:01"), "a b"), (ts("09:02"), "a c"))
      input.addData((ts("09:11"), "z z z z"))
      q.processAllAvailable()
      input.addData((ts("10:00"), "a")) // watermark nudge
      q.processAllAvailable()
      val got = spark.table("wdrift").orderBy("window_start")
        .select($"n_tokens", $"tvd", $"drifted")
        .as[(Long, Double, Boolean)].collect().toSeq
      // w1: live (.5, .25, rest .25) == ref -> tvd 0; w2: (0, 0, 1)
      // -> tvd = (0.5 + 0.25 + 0.75)/2 = 0.75, alarm fires
      assert(got === Seq((4L, 0.0, false), (4L, 0.75, true)))
      // batch parity: the same function over the same rows as a plain
      // frame (window() in batch mode) yields the same report
      val batch = Streaming.windowedCorpusDrift(
        Seq((ts("09:01"), "a b"), (ts("09:02"), "a c"),
          (ts("09:11"), "z z z z")).toDF("ts", "text"),
        ref, "text", topR = 2, maxTvd = 0.2,
        windowLength = "10 minutes", watermarkDelay = "5 minutes")
        .orderBy("window_start")
        .select($"n_tokens", $"tvd", $"drifted")
        .as[(Long, Double, Boolean)].collect().toSeq
      assert(batch === got)
    } finally q.stop()
    intercept[IllegalArgumentException](Streaming.windowedCorpusDrift(
      input.toDF().toDF("ts", "text"), ref, "text", topR = 0))
    intercept[IllegalArgumentException](Streaming.windowedCorpusDrift(
      input.toDF().toDF("ts", "text"),
      ref.withColumn("x", org.apache.spark.sql.functions.lit(1)), "text"))
    // an empty reference is a contract violation, not a silent 0-TVD
    intercept[IllegalArgumentException](Streaming.windowedCorpusDrift(
      input.toDF().toDF("ts", "text"),
      Seq.empty[(String, Long)].toDF("term", "cnt"), "text"))
  }

  test("windowedFleissKappa: per-window agreement, vocab/variable-n contracts, batch parity") {
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Timestamp, String, String)]
    val out = Streaming.windowedFleissKappa(
      input.toDF().toDF("ts", "item", "lab"),
      col("item"), col("lab"), labelValues = Seq("x", "y"),
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("wfk")
      .outputMode("append").start()
    try {
      // window 1: the batch probe's hand fixture (κ = 0) + an
      // out-of-vocab rating (drops) + a single-rating item (drops)
      input.addData(
        (ts("09:01"), "A", "x"), (ts("09:01"), "A", "x"),
        (ts("09:02"), "A", "x"),
        (ts("09:03"), "B", "x"), (ts("09:03"), "B", "x"),
        (ts("09:04"), "B", "y"),
        (ts("09:05"), "C", "x"), (ts("09:05"), "C", "y"),
        (ts("09:06"), "C", "y"),
        (ts("09:07"), "A", "WEIRD"), (ts("09:08"), "D", "x"))
      q.processAllAvailable()
      // window 2: perfect two-category agreement (κ = 1)
      input.addData(
        (ts("10:01"), "E", "x"), (ts("10:01"), "E", "x"),
        (ts("10:02"), "F", "y"), (ts("10:02"), "F", "y"))
      q.processAllAvailable()
      input.addData((ts("11:00"), "Z", "x")) // watermark nudge
      q.processAllAvailable()
      val got = spark.table("wfk").orderBy("window_start")
        .select("n_items", "n_ratings", "p_bar", "p_e", "kappa")
        .as[(Long, Long, Double, Double, Option[Double])].collect()
      assert(got.length === 2)
      assert(got(0)._1 === 3L && got(0)._2 === 9L)
      assert(math.abs(got(0)._3 - 5.0 / 9.0) < 1e-15 &&
        math.abs(got(0)._4 - 5.0 / 9.0) < 1e-15 &&
        math.abs(got(0)._5.get) < 1e-12)
      assert(got(1) === ((2L, 4L, 1.0, 0.5, Some(1.0))))
      // batch parity: the exactOrder batch probe on the window-1 slice
      val slice = Seq(("A", "x"), ("A", "x"), ("A", "x"),
        ("B", "x"), ("B", "x"), ("B", "y"),
        ("C", "x"), ("C", "y"), ("C", "y"), ("D", "x"))
        .toDF("i", "l")
      val b = graft.probes.Probes.fleissKappa(col("i"), col("l"))(slice)
        .head()
      assert(b.getAs[Long]("n_items") === got(0)._1 &&
        b.getAs[Long]("n_ratings") === got(0)._2 &&
        math.abs(b.getAs[Double]("p_bar") - got(0)._3) < 1e-12 &&
        math.abs(b.getAs[Double]("p_e") - got(0)._4) < 1e-12)
    } finally q.stop()
    intercept[IllegalArgumentException](Streaming.windowedFleissKappa(
      input.toDF().toDF("ts", "item", "lab"),
      org.apache.spark.sql.functions.col("item"),
      org.apache.spark.sql.functions.col("lab"), labelValues = Nil))
  }

  test("windowedLabelQa: kappa + ECE + gate in one plan, batch-probe parity") {
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Timestamp, String, String, Double)]
    val out = Streaming.windowedLabelQa(
      input.toDF().toDF("ts", "item", "lab", "score"),
      col("item"), col("lab"), labelValues = Seq("good", "bad"),
      col("score"), positiveLabel = "good",
      minKappa = 0.4, maxEce = 0.2, bins = 4,
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("wlq")
      .outputMode("append").start()
    try {
      // window 1: two raters agree everywhere (κ = 1), model scores
      // well-calibrated → gate passes; item D is SINGLE-rated — its
      // score must still feed the ECE (the code-review finding: a
      // row-filter silently dropped such ratings), while κ excludes it
      input.addData(
        (ts("09:01"), "A", "good", 0.9), (ts("09:01"), "A", "good", 0.9),
        (ts("09:02"), "B", "bad", 0.1), (ts("09:02"), "B", "bad", 0.1),
        (ts("09:03"), "C", "good", 0.8), (ts("09:03"), "C", "good", 0.8),
        (ts("09:04"), "D", "good", 0.7))
      q.processAllAvailable()
      // window 2: raters split on every item (low κ) → gate fails
      input.addData(
        (ts("10:01"), "E", "good", 0.9), (ts("10:01"), "E", "bad", 0.9),
        (ts("10:02"), "F", "good", 0.2), (ts("10:02"), "F", "bad", 0.2))
      q.processAllAvailable()
      // window 3: ONLY single-rated items — no agreement evidence, but
      // the calibration legs still report and the gate fails CLOSED
      input.addData(
        (ts("10:11"), "G", "good", 0.9), (ts("10:12"), "H", "bad", 0.2))
      q.processAllAvailable()
      input.addData((ts("12:00"), "Z", "good", 0.5)) // watermark nudge
      q.processAllAvailable()
      val got = spark.table("wlq").orderBy("window_start")
        .select("n_items", "n_ratings", "kappa", "ece", "passed")
        .as[(Long, Long, Option[Double], Option[Double], Boolean)]
        .collect()
      assert(got.length === 3)
      assert(got(0)._1 === 3L && got(0)._2 === 6L)
      assert(got(0)._3.get === 1.0)
      assert(got(0)._5 === true)
      assert(got(1)._5 === false)
      assert(got(2)._1 === 0L && got(2)._2 === 0L &&
        got(2)._3.isEmpty && got(2)._4.nonEmpty && got(2)._5 === false)
      // parity: batch fleissKappa (multiply-rated items only, its own
      // contract) and batch scoreCalibration on the FULL window-1
      // rating slice, single-rated D included
      val slice = Seq(
        ("A", "good", 0.9), ("A", "good", 0.9),
        ("B", "bad", 0.1), ("B", "bad", 0.1),
        ("C", "good", 0.8), ("C", "good", 0.8),
        ("D", "good", 0.7))
        .toDF("i", "l", "s")
      val bk = graft.probes.Probes.fleissKappa(col("i"), col("l"))(slice)
        .head().getAs[Double]("kappa")
      assert(math.abs(bk - got(0)._3.get) < 1e-12)
      val be = graft.probes.Probes.scoreCalibration(col("s"),
        col("l") === "good", bins = 4)(slice)
        .head().getAs[Double]("ece")
      assert(math.abs(be - got(0)._4.get) < 1e-12)
    } finally q.stop()
    intercept[IllegalArgumentException](Streaming.windowedLabelQa(
      input.toDF().toDF("ts", "item", "lab", "score"),
      col("item"), col("lab"), Seq("good", "bad"), col("score"),
      positiveLabel = "ugly"))
  }

  test("windowedLmQuality: per-window backoff mean against the stored table, batch parity") {
    import org.apache.spark.sql.functions.col
    val model = Seq((0L, "the cat sat on the mat and the dog sat on the rug"))
      .toDF("doc_id", "text")
    val counts = graft.ext.TextOps.lmCountTable("text")(model)
      .localCheckpoint()
    val input = MemoryStream[(Timestamp, String)]
    val out = Streaming.windowedLmQuality(
      input.toDF().toDF("ts", "text"), "text", counts,
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("wlm")
      .outputMode("append").start()
    try {
      // window 1: in-domain prose; window 2: the same tokens shuffled
      val w1 = Seq("the cat sat on the mat", "the dog sat on the rug")
      val w2 = Seq("mat the on sat cat the", "rug the on sat dog the")
      input.addData(w1.map(t => (ts("09:01"), t)): _*)
      q.processAllAvailable()
      input.addData(w2.map(t => (ts("10:01"), t)): _*)
      q.processAllAvailable()
      input.addData((ts("11:00"), "a b c")) // watermark nudge
      q.processAllAvailable()
      val got = spark.table("wlm").orderBy("window_start")
        .select("n_positions", "lm_score")
        .as[(Long, Double)].collect()
      assert(got.length === 2)
      assert(got(0)._1 === 8L && got(1)._1 === 8L)
      assert(got(0)._2 > 5.0 * got(1)._2,
        s"in-domain ${got(0)._2} should dominate shuffled ${got(1)._2}")
      // batch parity: the window mean equals the position-weighted mean
      // of the batch op's per-doc scores on the same slice
      def batchMean(texts: Seq[String]): Double = {
        val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("id", "text")
        val r = graft.ext.TextOps.trigramLmQuality("id", "text", counts)(d)
          .select(col("n_trigrams"), col("lm_score")).collect()
        r.map(x => x.getLong(0) * x.getDouble(1)).sum /
          r.map(_.getLong(0)).sum
      }
      assert(math.abs(batchMean(w1) - got(0)._2) < 1e-12)
      assert(math.abs(batchMean(w2) - got(1)._2) < 1e-12)
    } finally q.stop()
  }

  test("windowedBootstrapCi: deterministic per-window CI, bit-equal to the batch probe") {
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Timestamp, Long, Double)]
    val out = Streaming.windowedBootstrapCi(
      input.toDF().toDF("ts", "k", "v"),
      col("k"), col("v"), reps = 50,
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("wbci")
      .outputMode("append").start()
    try {
      val w1 = (1 to 40).map(i => (ts("09:0" + (i % 9 + 1)), i.toLong,
        50.0 + (i % 11) - 5.0))
      input.addData(w1: _*)
      q.processAllAvailable()
      val w2 = (41 to 60).map(i => (ts("10:0" + (i % 9 + 1)), i.toLong,
        80.0 + (i % 7)))
      input.addData(w2: _*)
      q.processAllAvailable()
      input.addData((ts("11:00"), 999L, 1.0)) // watermark nudge
      q.processAllAvailable()
      val got = spark.table("wbci").orderBy("window_start")
        .select("n", "mean", "reps", "ci_low", "ci_high")
        .as[(Long, Double, Long, Double, Double)].collect()
      assert(got.length === 2)
      // bit-equal to the batch probe on each window's slice (same md5
      // draws, same integer sums, same percentile selection)
      def batchOn(rows: Seq[(Timestamp, Long, Double)]) = {
        val d = rows.map { case (_, k, v) => (k, v) }.toDF("k", "v")
        graft.probes.Probes.bootstrapCI(col("k"), col("v"), reps = 50)(d)
          .head()
      }
      Seq(w1, w2).zip(got).foreach { case (rows, g) =>
        val b = batchOn(rows)
        assert(b.getAs[Long]("n") === g._1 &&
          b.getAs[Double]("mean") === g._2 &&
          b.getAs[Long]("reps") === g._3 &&
          b.getAs[Double]("ci_low") === g._4 &&
          b.getAs[Double]("ci_high") === g._5)
      }
      assert(got.forall(g => g._4 <= g._2 && g._2 <= g._5))
      // the two windows' intervals are disjoint — the excursion the
      // monitor exists to catch
      assert(got(0)._5 < got(1)._4)
    } finally q.stop()
    intercept[IllegalArgumentException](Streaming.windowedBootstrapCi(
      input.toDF().toDF("ts", "k", "v"), col("k"), col("v"), reps = 1))
  }

  test("windowedPatternProfile: per-window shape counts, batch-probe parity") {
    val input = MemoryStream[(Timestamp, String, Long)]
    val out = Streaming.windowedPatternProfile(
      input.toDF().toDF("ts", "phone", "k"),
      columns = Seq("phone", "k"),
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("wpp")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("09:01"), "25-989", 12L),
        (ts("09:02"), "25-981", 7L),
        (ts("09:03"), "AB-12x", 123L))
      q.processAllAvailable()
      input.addData((ts("10:00"), "zz-999", 1L)) // watermark nudge + next window
      q.processAllAvailable()
      val got = spark.table("wpp")
        .select($"column", $"pattern", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(got === Set(
        ("phone", "99-999", 2L), ("phone", "AA-99a", 1L),
        ("k", "99", 1L), ("k", "9", 1L), ("k", "999", 1L)))
      // batch parity: the batch probe over the same window's rows
      // counts the same shapes
      val batch = Seq(("25-989", 12L), ("25-981", 7L), ("AB-12x", 123L))
        .toDF("phone", "k")
      val want = graft.probes.Probes.patternProfile(Seq("phone", "k"))(batch)
        .select($"column", $"pattern", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(got === want)
    } finally q.stop()
    intercept[IllegalArgumentException](Streaming.windowedPatternProfile(
      input.toDF().toDF("ts", "phone", "k"), columns = Nil))
  }

  test("streamingIncrementalSetSimilarity: exact verify, set-repeat drop, batch parity") {
    import graft.ext.Dedup
    val hist = Seq((1L, Seq("a", "b", "c", "d", "e", "f")))
      .toDF("id", "toks")
    val idx = Dedup.ssjIndexRows("id", "toks")(hist).localCheckpoint()
    val input = MemoryStream[(Long, java.sql.Timestamp, Seq[String])]
    val out = Streaming.streamingIncrementalSetSimilarity(
      input.toDF().toDF("id", "ts", "toks"), "toks", idx,
      threshold = 0.5, tsField = "ts", watermarkDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("ssjstream")
      .outputMode("append").start()
    try {
      input.addData(
        (10L, ts("09:00"), Seq("a", "b", "c", "d", "e", "g")), // j=5/7 vs hist → drop
        (11L, ts("09:01"), Seq("a", "b", "x", "y", "z", "w"))) // j=0.2 → residual verify keeps
      q.processAllAvailable()
      input.addData(
        (12L, ts("09:02"), Seq("p", "q", "r")),                // novel
        (13L, ts("09:03"), Seq("r", "q", "p")),                // exact SET repeat of 12
        (14L, ts("09:04"), Seq.empty[String]))                 // zero-token keeper
      q.processAllAvailable()
      // advance the watermark so the append-mode aggregation finalizes
      input.addData((99L, ts("11:00"), Seq("nudge")))
      q.processAllAvailable()
      val got = spark.table("ssjstream").select("id")
        .as[Long].collect().toSet
      assert(got === Set(11L, 12L, 14L))
      // batch parity: the batch op on the union batch agrees (13 is a
      // larger-id exact dup of 12 there too)
      val batch = Seq(
        (10L, Seq("a", "b", "c", "d", "e", "g")),
        (11L, Seq("a", "b", "x", "y", "z", "w")),
        (12L, Seq("p", "q", "r")),
        (13L, Seq("r", "q", "p")),
        (14L, Seq.empty[String])).toDF("id", "toks")
      val want = Dedup.incrementalSetSimilarity("id", "toks", idx,
        threshold = 0.5)(batch).select("id").as[Long].collect().toSet
      assert(got === want)
    } finally q.stop()
    intercept[IllegalArgumentException](
      Streaming.streamingIncrementalSetSimilarity(
        input.toDF().toDF("id", "ts", "toks"), "toks", idx,
        threshold = 0.0))
    // τ below the 4-column index's committed τ_min fails fast here
    // exactly as on the batch op — slicing the stored prefix at a
    // smaller τ would silently lose recall
    intercept[IllegalArgumentException](
      Streaming.streamingIncrementalSetSimilarity(
        input.toDF().toDF("id", "ts", "toks"), "toks", idx,
        threshold = 0.4))
  }

  test("streamingRollingCorr carries the pair window across micro-batches, matching batch") {
    import graft.streaming.{CorrEvent, CorrStat}
    val input = MemoryStream[CorrEvent]
    val out = Streaming.streamingRollingCorr(input.toDS(), window = 3)
    val q = out.writeStream.format("memory").queryName("rcorr")
      .outputMode("append").start()
    try {
      // y = 2x + 1 then a break: first two events in batch 1, rest in
      // batch 2 — the frame spans the split
      input.addData(
        CorrEvent(1L, ts("09:00"), 1L, 1.0, 3.0),
        CorrEvent(1L, ts("09:01"), 2L, 2.0, 5.0))
      q.processAllAvailable()
      input.addData(
        CorrEvent(1L, ts("09:02"), 3L, 3.0, 7.0),
        CorrEvent(1L, ts("09:03"), 4L, 4.0, 2.0))
      q.processAllAvailable()
      val got = spark.table("rcorr").orderBy("tie")
        .as[CorrStat].collect().toSeq
      assert(got.map(_.n) === Seq(1L, 2L, 3L, 3L))
      // partial frames NULL; full linear frame = 1 (within sqrt ulp)
      assert(got.take(2).forall(_.corr.isEmpty))
      assert(math.abs(got(2).corr.get - 1.0) < 1e-12)
      assert(got(3).corr.get < 0.5) // the break shows immediately
      // batch parity: the exact WindowOps frame on the same rows —
      // identical doubles (BigInt vs decimal(38,0), both exact)
      val batch = Seq(
        (1L, 1L, 1.0, 3.0), (1L, 2L, 2.0, 5.0),
        (1L, 3L, 3.0, 7.0), (1L, 4L, 4.0, 2.0))
        .toDF("k", "tb", "x", "y")
      val want = graft.ops.WindowOps.rollingCorr(Seq("k"), Seq("tb"),
        "x", "y", window = 3)(batch)
        .orderBy("tb").select("n", "corr")
        .as[(Long, Option[Double])].collect().toSeq
      assert(got.map(s => (s.n, s.corr)) === want)
      // zero x-variance full frame is NULL, not ±1
      input.addData(
        CorrEvent(2L, ts("09:00"), 1L, 5.0, 1.0),
        CorrEvent(2L, ts("09:01"), 2L, 5.0, 2.0),
        CorrEvent(2L, ts("09:02"), 3L, 5.0, 3.0))
      q.processAllAvailable()
      val flat = spark.table("rcorr")
        .filter(org.apache.spark.sql.functions.col("key") === 2L)
        .orderBy("tie").as[CorrStat].collect()
      assert(flat.length === 3 && flat.forall(_.corr.isEmpty))
    } finally q.stop()
    intercept[IllegalArgumentException](
      Streaming.streamingRollingCorr(input.toDS(), window = 1))
  }

  test("streamingFellegiSunter scores an unbounded pair feed; batch parity") {
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Long, Long, String, String, Double, Double)]
    val comps = Seq(
      ("name", col("_3") === col("_4"), 0.9, 0.1),
      ("bal", abs(col("_5") - col("_6")) < 100.0, 0.8, 0.2))
    val out = Streaming.streamingFellegiSunter(input.toDF(),
      comps, upperThreshold = 4.0, lowerThreshold = 0.0)
    val q = out.writeStream.format("memory").queryName("fsstream")
      .outputMode("append").start()
    try {
      input.addData((1L, 2L, "ann", "ann", 50.0, 60.0))
      q.processAllAvailable()
      input.addData((3L, 4L, "bob", "rob", 50.0, 900.0))
      q.processAllAvailable()
      val got = spark.table("fsstream").orderBy("_1")
        .select("fs_score", "fs_decision")
        .as[(Double, String)].collect().toSeq
      // batch parity: the same projection over the same rows
      val batch = Seq((1L, 2L, "ann", "ann", 50.0, 60.0),
        (3L, 4L, "bob", "rob", 50.0, 900.0)).toDF()
      val want = graft.ext.Dedup.fellegiSunter(comps, 4.0, 0.0)(batch)
        .orderBy("_1").select("fs_score", "fs_decision")
        .as[(Double, String)].collect().toSeq
      assert(got === want)
      assert(got.head._2 === "match" && got.last._2 === "non_match")
    } finally q.stop()
  }

  test("streamingSemanticDecontaminate drops on bucket-collide AND verify; batch parity") {
    import graft.ext.{Dedup, Similarity}
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(47)
    val v0 = Array.fill(64)((rnd.nextFloat() - 0.5f) * 2f)
    val near = v0.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f)
    val fresh = v0.map(-_) // every projection flips sign: opposite bucket
    // find a vector SHARING v0's bucket with cosine BELOW threshold: it
    // must survive — the residual verify, not the collision, decides
    val probeRows = (0 until 400).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextFloat() - 0.5f) * 2f)))
    val probes = probeRows.toDF("id", "v")
      .withColumn("bk", Similarity.lshBucket($"v", 6, 64))
    val bk0 = Seq(0).toDF("x")
      .select(Similarity.lshBucket(typedLit(v0.toSeq), 6, 64).as("b"))
      .as[Long].head()
    val mateId = probes
      .withColumn("cos", Similarity.cosine($"v", typedLit(v0.toSeq)))
      .filter($"bk" === bk0 && $"cos" < 0.5).select("id")
      .as[Long].head()
    val bucketMate = probeRows(mateId.toInt)._2
    val evalDf = Seq((0L, v0)).toDF("eval_id", "v")
    val input = MemoryStream[(Timestamp, Long, Array[Float])]
    val out = Streaming.streamingSemanticDecontaminate(
      input.toDF().toDF("ts", "id", "v"), vecField = "v",
      evalVecs = evalDf, threshold = 0.9)
    val q = out.writeStream.format("memory").queryName("ssd")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("10:00"), 1L, near),       // paraphrase-near eval item: drops
        (ts("10:01"), 2L, bucketMate), // collision, low cosine: survives
        (ts("10:02"), 3L, fresh))      // different bucket: survives
      q.processAllAvailable()
      assert(spark.table("ssd").select("id").as[Long].collect().sorted
        .toSeq == Seq(2L, 3L))
      assert(spark.table("ssd").columns.toSeq == Seq("ts", "id", "v"))
    } finally q.stop()
    // the identical code path on a batch frame equals the batch operator
    // (caps don't fire at this size)
    val batch = Seq((1L, near), (2L, bucketMate), (3L, fresh))
      .toDF("vec_id", "v")
    val viaStreamOp = Streaming.streamingSemanticDecontaminate(
      batch, "v", evalDf, threshold = 0.9)
      .select("vec_id").as[Long].collect().sorted.toSeq
    val viaBatchOp = Dedup.semanticDecontaminate("vec_id", "v",
      threshold = 0.9)(batch, evalDf.toDF("vec_id", "v"))
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(viaStreamOp === viaBatchOp && viaBatchOp === Seq(2L, 3L))
  }
}
