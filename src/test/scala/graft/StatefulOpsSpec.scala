package graft

import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.Keyed
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class StatefulOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("flatMapGroupsWithState dedup suppresses repeats across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Keyed]
    // ttlMs = 0 (NoTimeout): ProcessingTimeTimeout keeps the engine firing
    // empty batches and processAllAvailable never settles in a sync test
    val q = StatefulOps.dedupWithTtl(mem.toDS(), ttlMs = 0L)
      .writeStream.outputMode("append")
      .format("memory").queryName("sdedup_out").start()
    try {
      mem.addData(Keyed("a", "v1"), Keyed("a", "v1-dup-same-batch"), Keyed("b", "v2"))
      q.processAllAvailable()
      mem.addData(Keyed("a", "v1-dup-next-batch"), Keyed("c", "v3"))
      q.processAllAvailable()
      val keys = spark.table("sdedup_out").as[Keyed].collect().map(_.key).sorted
      assert(keys.toSeq == Seq("a", "b", "c"))
      // the survivor for 'a' is its FIRST payload
      val aPayload = spark.table("sdedup_out").as[Keyed]
        .collect().find(_.key == "a").get.payload
      assert(aPayload == "v1")
    } finally q.stop()
  }

  test("transformWithState running totals match the mapGroupsWithState semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The same fold on the RocksDB provider the transformWithState twins
    // need: a single-value-per-key twin runs on either state store.
    withRocksDb {
      val mem = MemoryStream[(String, Double)]
      val q = StatefulOps.runningTotals(mem.toDS())
        .writeStream.outputMode("update")
        .format("memory").queryName("stws_out").start()
      try {
        mem.addData(("u1", 10.0), ("u1", 5.0), ("u2", 1.0))
        q.processAllAvailable()
        mem.addData(("u1", 2.0))
        q.processAllAvailable()
        val latest = spark.table("stws_out")
          .as[StatefulOps.RunningTotal].collect()
          .groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.n) }
        assert(latest("u1").n == 3 && latest("u1").total == 17.0)
        assert(latest("u2").n == 1 && latest("u2").total == 1.0)
      } finally q.stop()
    }
  }

  /** Run `body` with the RocksDB provider transformWithState requires,
    * restoring the prior provider after. */
  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState event-time timers close sessions when the watermark passes the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
      val mem = MemoryStream[(String, java.sql.Timestamp)]
      val q = StatefulOps.sessionTimeouts(mem.toDS(), gapMs = 5 * 60 * 1000L)
        .writeStream.outputMode("append")
        .format("memory").queryName("stimer_out").start()
      try {
        def closed() = spark.table("stimer_out")
          .as[StatefulOps.SessionClosed].collect().map(_.key).sorted.toSeq
        // a's session: events at 10:00 and 10:01 → timer armed at 10:06.
        // Watermark after this batch is 10:01 < 10:06 → still open.
        mem.addData(("a", ts(0)), ("a", ts(1)))
        q.processAllAvailable()
        assert(closed().isEmpty, "session closed before watermark passed the gap")
        // b@10:10 advances the watermark to 10:10; the engine's no-data
        // batch then fires a's 10:06 timer. b's own timer (10:15) is live.
        mem.addData(("b", ts(10)))
        q.processAllAvailable()
        assert(closed() == Seq("a"))
        // watermark 10:20 ≥ 10:15 → b closes; c's timer (10:25) still live
        mem.addData(("c", ts(20)))
        q.processAllAvailable()
        assert(closed() == Seq("a", "b"))
        val a = spark.table("stimer_out").as[StatefulOps.SessionClosed]
          .collect().find(_.key == "a").get
        assert(a.n == 2 && a.startMs == ts(0).getTime && a.endMs == ts(1).getTime)
      } finally q.stop()
    }
  }

  test("transformWithState ListState keeps the last n payloads per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[Keyed]
      val q = StatefulOps.recentEvents(mem.toDS(), n = 3)
        .writeStream.outputMode("update")
        .format("memory").queryName("srecent_out").start()
      try {
        mem.addData(Keyed("a", "p1"), Keyed("a", "p2"), Keyed("b", "q1"))
        q.processAllAvailable()
        mem.addData(Keyed("a", "p3"), Keyed("a", "p4"))
        q.processAllAvailable()
        // update-mode memory sink appends each emission; latest = longest
        val latest = spark.table("srecent_out").as[StatefulOps.Recent]
          .collect().groupBy(_.key)
          .map { case (k, rs) => k -> rs.last.recent }
        assert(latest("a") == "p2 p3 p4", s"got ${latest("a")}")
        assert(latest("b") == "q1")
      } finally q.stop()
    }
  }

  test("transformWithState MapState maintains per-key category histograms") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[(String, String)]
      val q = StatefulOps.categoryCounts(mem.toDS())
        .writeStream.outputMode("update")
        .format("memory").queryName("scat_out").start()
      try {
        mem.addData(("sub1", "meme"), ("sub1", "meme"), ("sub1", "news"), ("sub2", "news"))
        q.processAllAvailable()
        mem.addData(("sub1", "meme"), ("sub2", "rant"))
        q.processAllAvailable()
        val latest = spark.table("scat_out").as[StatefulOps.CategoryCount]
          .collect().groupBy(r => (r.key, r.category))
          .map { case (k, rs) => k -> rs.map(_.n).max }
        assert(latest(("sub1", "meme")) == 3)
        assert(latest(("sub1", "news")) == 1)
        assert(latest(("sub2", "news")) == 1)
        assert(latest(("sub2", "rant")) == 1)
      } finally q.stop()
    }
  }

  test("stream-stream interval join attributes clicks within the window only") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{Click, Impression}
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val imps = MemoryStream[Impression]
    val clicks = MemoryStream[Click]
    val q = StatefulOps.attributeClicks(imps.toDS(), clicks.toDS(), windowMinutes = 10)
      .toDF("ad_id", "impression_ts", "click_ts")
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      imps.addData(Impression("ad1", ts(0)), Impression("ad2", ts(0)))
      q.processAllAvailable()
      // ad1 clicked inside the window; ad2 clicked after it; ad3 never shown
      clicks.addData(Click("ad1", ts(5)), Click("ad2", ts(15)), Click("ad3", ts(5)))
      q.processAllAvailable()
      // a second impression of ad1 arriving across micro-batches still joins
      imps.addData(Impression("ad1", ts(4)))
      q.processAllAvailable()
      val rows = spark.table("attr_out")
        .as[(String, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet
      assert(rows == Set(
        ("ad1", ts(0), ts(5)),
        ("ad1", ts(4), ts(5))))
    } finally q.stop()
  }

  test("mapGroupsWithState running totals accumulate across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val q = StatefulOps.runningTotals(mem.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("srun_out").start()
    try {
      mem.addData(("u1", 10.0), ("u1", 5.0), ("u2", 1.0))
      q.processAllAvailable()
      mem.addData(("u1", 2.0))
      q.processAllAvailable()
      // memory sink in update mode appends each update; take the latest per key
      val latest = spark.table("srun_out")
        .as[StatefulOps.RunningTotal].collect()
        .groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.n) }
      assert(latest("u1").n == 3 && latest("u1").total == 17.0)
      assert(latest("u2").n == 1 && latest("u2").total == 1.0)
    } finally q.stop()
  }

  test("streaming rollingAnomaly equals the batch ev_anomaly oracle result") {
    // The batch/stream parity pin: feed the real sf0.001 events table in
    // event-time order across several micro-batches; the stateful stream
    // must emit EXACTLY the rows the batch (DuckDB-oracle-checked)
    // ev_anomaly query produces — same ids, same round(6) z values. This
    // is the strongest claim a streaming operator can make: its bounded
    // state (≤ win cents per type) reproduces the full-history window
    // semantics.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.col
    val evs = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .orderBy("ts", "event_id")
      .as[StatefulOps.Ev].collect()
    val batches = evs.grouped(math.max(1, evs.length / 5)).toSeq
    val mem = MemoryStream[StatefulOps.Ev]
    val q = StatefulOps.rollingAnomaly(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sanom_out").start()
    try {
      batches.foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      val streamed = spark.table("sanom_out").as[StatefulOps.Anomaly].collect()
        .map(a => (a.event_id, a.event_type, a.value, a.z)).sortBy(_._1)
      val batch = SparkEntry.queries("ev_anomaly")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._1)
      assert(streamed.length == batch.length,
        s"stream emitted ${streamed.length} anomalies vs batch ${batch.length}")
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }

  test("rollingAnomaly orders a same-millisecond pair by microseconds like ev_anomaly") {
    // Two events of one type share a millisecond; their µs order (id 200
    // at +100 µs, id 100 at +900 µs) is the reverse of their event_id
    // order. Batch ev_anomaly orders by full-precision (ts, event_id), so
    // id 200 is scored first. A millisecond sort key would tie them and
    // fall back to event_id, scoring each against a different window.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime
    def at(ms: Long, micros: Int): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(ms)
      t.setNanos(t.getNanos + micros * 1000)
      t
    }
    val warm = (1 to 30).map(i =>
      StatefulOps.Ev("t", at(t0 + i * 1000L, 0), i.toLong, if (i % 2 == 0) 1.0 else 1.02))
    val pairMs = t0 + 60000L
    val pair = Seq(StatefulOps.Ev("t", at(pairMs, 900), 100L, 10.0),
      StatefulOps.Ev("t", at(pairMs, 100), 200L, 20.0))
    val dir = java.nio.file.Files.createTempDirectory("graft_anom_us").toString
    try {
      (warm ++ pair).toDF().write.parquet(s"$dir/events.parquet")
      val batch = SparkEntry.queries("ev_anomaly")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
      assert(batch.map(_._1) == Seq(200L), s"batch rows $batch")
      val mem = MemoryStream[StatefulOps.Ev]
      val q = StatefulOps.rollingAnomaly(mem.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("sanom_us_out").start()
      try {
        mem.addData(warm); q.processAllAvailable()
        mem.addData(pair); q.processAllAvailable()
        val streamed = spark.table("sanom_us_out").as[StatefulOps.Anomaly].collect()
          .map(a => (a.event_id, a.event_type, a.value, a.z)).sortBy(_._1).toSeq
        assert(streamed == batch, s"stream $streamed vs batch $batch")
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("streaming rollingEwma equals the batch ev_ewma oracle result") {
    // Same parity contract as rollingAnomaly: the ≤ 50-cent ring state
    // must reproduce the batch chunked-window EWMA exactly — every event
    // emits, so this also pins that nothing is dropped or duplicated
    // across micro-batch boundaries.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.col
    val evs = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .orderBy("ts", "event_id")
      .as[StatefulOps.Ev].collect()
    val batches = evs.grouped(math.max(1, evs.length / 5)).toSeq
    val mem = MemoryStream[StatefulOps.Ev]
    val q = StatefulOps.rollingEwma(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sewma_out").start()
    try {
      batches.foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      val streamed = spark.table("sewma_out").as[StatefulOps.Ewma].collect()
        .map(a => (a.event_id, a.event_type, a.value, a.ewma)).sortBy(_._1)
      val batch = SparkEntry.queries("ev_ewma")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._1)
      assert(streamed.length == batch.length,
        s"stream emitted ${streamed.length} rows vs batch ${batch.length}")
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }

  test("streaming funnelProgress equals the batch ev_funnel stage counts") {
    // Per-user greedy progression (first signup → first later click →
    // first later purchase) fed the real events in event-time order
    // across micro-batches: users whose final stage >= k must equal the
    // oracle-checked batch ev_funnel's per-stage user counts.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
      .orderBy("ts", "event_id")
      .as[(Long, java.sql.Timestamp, String)].collect()
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StatefulOps.funnelProgress(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sfunnel_out").start()
    try {
      evs.grouped(math.max(1, evs.length / 5))
        .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      val finalStage = spark.table("sfunnel_out")
        .as[StatefulOps.FunnelStage].collect()
        .groupBy(_.user_id).map { case (u, rs) => u -> rs.map(_.stage).max }
      val streamedCounts = (1 to 3).map(k =>
        k.toLong -> finalStage.count(_._2 >= k).toLong).toMap
      val batch = SparkEntry.queries("ev_funnel")(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(streamedCounts == batch,
        s"stream $streamedCounts vs batch $batch")
    } finally q.stop()
  }

  test("streaming sessionPaths equals the batch ev_path oracle result") {
    // The last unpaired batch family: per-user session-path mining. Feed
    // the real sf0.001 events in event-time order across micro-batches,
    // then a "__flush" sentinel per user (the end-of-stream closure the
    // batch query sees for free; production uses an event-time timer at
    // last+gap — the sessionizer timer test pins that mechanism). The
    // emitted 3-step path multiset, counted and cut to the same
    // (n desc, path) top-N, must equal the DuckDB-oracle-checked batch
    // ev_path rows EXACTLY.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      import org.apache.spark.sql.functions.col
      val dir = "/root/testdata/sf0.001"
      val evs = graft.Tables.load(spark, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .orderBy("ts", "event_id")
        .as[StatefulOps.PathEv].collect()
      val flush = evs.map(_.user_id).distinct.map(u =>
        StatefulOps.PathEv(u, new java.sql.Timestamp(0L), 0L, "__flush"))
      val mem = MemoryStream[StatefulOps.PathEv]
      val q = StatefulOps.sessionPaths(mem.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("spath_out").start()
      try {
        evs.grouped(math.max(1, evs.length / 5))
          .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
        mem.addData(flush.toSeq); q.processAllAvailable()
        val batch = SparkEntry.queries("ev_path")(spark, dir).collect()
          .map(r => (r.getString(0), r.getLong(1)))
        val streamed = spark.table("spath_out")
          .as[StatefulOps.SessionPath].collect()
          .groupBy(_.path).map { case (p, rs) => (p, rs.length.toLong) }
          .toSeq.sortBy { case (p, n) => (-n, p) }
          .take(batch.length)
        assert(streamed.length == batch.length,
          s"stream produced ${streamed.length} paths vs batch ${batch.length}")
        assert(streamed.sameElements(batch),
          s"top paths diverge:\nstream ${streamed.take(5).mkString(", ")}\n" +
            s"batch ${batch.take(5).mkString(", ")}")
      } finally q.stop()
    }
  }

  test("streaming userSessions equals the batch t6_session_window oracle result") {
    // The round-14 verdict's stretch item: t6 was the one §2.10 stateful
    // shape with no transformWithState twin. Feed the real sf0.001 events
    // in event-time order across micro-batches; a far-future sentinel
    // event (user −1) then advances the watermark past every open
    // session's last+gap so the event-time timers close them all. The
    // emitted rows — user, session bounds, count, decimal-exact value sum
    // — must equal the DuckDB-oracle-checked batch t6_session_window rows
    // EXACTLY (sentinel user's own still-open session excluded).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      import org.apache.spark.sql.functions.col
      val dir = "/root/testdata/sf0.001"
      val evs = graft.Tables.load(spark, dir, "events")
        .select(col("user_id"), col("ts"), col("value"))
        .orderBy("ts", "user_id")
        .as[(Long, java.sql.Timestamp, Double)].collect()
      val maxTs = evs.map(_._2.getTime).max
      val sentinel = (-1L, new java.sql.Timestamp(maxTs + 3600 * 1000L), 0.0)
      val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
      val q = StatefulOps.userSessions(mem.toDS(), gapMs = 30 * 60 * 1000L)
        .writeStream.outputMode("append")
        .format("memory").queryName("usess_out").start()
      try {
        evs.grouped(math.max(1, evs.length / 5))
          .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
        mem.addData(sentinel); q.processAllAvailable()
        val streamed = spark.table("usess_out")
          .as[StatefulOps.UserSession].collect()
          .filter(_.user_id >= 0)
          .map(s => (s.user_id, s.sess_start.getTime, s.sess_start.getNanos,
            s.sess_end.getTime, s.sess_end.getNanos, s.n_events, s.sum_value))
          .toSet
        val batch = SparkEntry.queries("t6_session_window")(spark, dir)
          .collect()
          .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
            r.getTimestamp(1).getNanos, r.getTimestamp(2).getTime,
            r.getTimestamp(2).getNanos, r.getLong(3), r.getDouble(4)))
          .toSet
        assert(streamed.size == batch.size,
          s"stream closed ${streamed.size} sessions vs batch ${batch.size}")
        assert(streamed == batch,
          s"sessions diverge; stream-only ${(streamed -- batch).take(3)}, " +
            s"batch-only ${(batch -- streamed).take(3)}")
      } finally q.stop()
    }
  }

  test("streaming sessionPatterns equals the batch ev_pattern oracle result") {
    // Round-12: the last funnel/pattern-family pairing (funnelProgress ↔
    // ev_funnel r10, sessionPaths ↔ ev_path r11). Feed the real sf0.001
    // events in event-time order across micro-batches, flush pending
    // sessions, and the emitted (user, sess, positions, steps, latency)
    // rows must equal the DuckDB-oracle-checked batch ev_pattern result
    // EXACTLY — including the batch's cumulative session numbering.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      import org.apache.spark.sql.functions.col
      val dir = "/root/testdata/sf0.001"
      val evs = graft.Tables.load(spark, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .orderBy("ts", "event_id")
        .as[StatefulOps.PathEv].collect()
      val flush = evs.map(_.user_id).distinct.map(u =>
        StatefulOps.PathEv(u, new java.sql.Timestamp(0L), 0L, "__flush"))
      val mem = MemoryStream[StatefulOps.PathEv]
      val q = StatefulOps.sessionPatterns(mem.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("spat_out").start()
      try {
        evs.grouped(math.max(1, evs.length / 5))
          .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
        mem.addData(flush.toSeq); q.processAllAvailable()
        val batch = SparkEntry.queries("ev_pattern")(spark, dir).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5))).toSeq
        val streamed = spark.table("spat_out")
          .as[StatefulOps.PatternMatch].collect()
          .map(m => (m.user_id, m.sess, m.signup_pos, m.purchase_pos,
            m.steps_between, m.latency_us))
          .toSeq.sorted
        assert(streamed.length == batch.length,
          s"stream ${streamed.length} matches vs batch ${batch.length}")
        assert(streamed == batch.sorted,
          s"pattern rows diverge:\nstream ${streamed.take(5).mkString(", ")}\n" +
            s"batch ${batch.take(5).mkString(", ")}")
      } finally q.stop()
    }
  }

  test("streaming driftMonitor equals the batch ev_page_hinkley result exactly") {
    // Drift detection is the canonically streaming op, so the twin's
    // parity claim is the strongest one in the family: feed the real
    // sf0.001 events in event-time order across micro-batches, flush,
    // and the emitted per-type (n_days, cum_dev, min_dev, ph_stat,
    // alarm_day) must equal the DuckDB-oracle-checked batch rows
    // EXACTLY — the processor folds the identical IEEE expression tree.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, floor, lit}
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), col("ts"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .orderBy("ts", "event_type")
      .as[StatefulOps.DriftEv].collect()
    val flush = evs.map(_.event_type).distinct.map(t =>
      StatefulOps.DriftEv(t, new java.sql.Timestamp(0L), Long.MinValue))
    val mem = MemoryStream[StatefulOps.DriftEv]
    val q = StatefulOps.driftMonitor(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sdrift_out").start()
    try {
      evs.grouped(math.max(1, evs.length / 5))
        .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      mem.addData(flush.toSeq); q.processAllAvailable()
      val batch = SparkEntry.queries("ev_page_hinkley")(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getLong(5))).toSeq.sorted
      val streamed = spark.table("sdrift_out")
        .as[StatefulOps.DriftState].collect()
        .map(d => (d.event_type, d.n_days, d.cum_dev, d.min_dev,
          d.ph_stat, d.alarm_day)).toSeq.sorted
      assert(streamed == batch,
        s"drift rows diverge:\nstream ${streamed.mkString(", ")}\n" +
          s"batch ${batch.mkString(", ")}")
    } finally q.stop()
  }

  test("streaming holtMonitor equals the batch ev_holt result exactly") {
    // The smoothing family's carried-state twin: feed the real sf0.001
    // events in event-time order across micro-batches, flush, and the
    // per-type (n_days, level, trend, forecast_7d, sse) must equal the
    // DuckDB-oracle-checked batch rows EXACTLY — the processor folds
    // the identical IEEE expression tree, including the synthesized
    // zero days of the batch calendar spine.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, floor, lit}
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), col("ts"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .orderBy("ts", "event_type")
      .as[StatefulOps.DriftEv].collect()
    val flush = evs.map(_.event_type).distinct.map(t =>
      StatefulOps.DriftEv(t, new java.sql.Timestamp(0L), Long.MinValue))
    val mem = MemoryStream[StatefulOps.DriftEv]
    val q = StatefulOps.holtMonitor(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sholt_out").start()
    try {
      evs.grouped(math.max(1, evs.length / 5))
        .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      mem.addData(flush.toSeq); q.processAllAvailable()
      val batch = SparkEntry.queries("ev_holt")(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq.sorted
      val streamed = spark.table("sholt_out")
        .as[StatefulOps.HoltState].collect()
        .map(h => (h.event_type, h.n_days, h.level, h.trend,
          h.forecast_7d, h.sse)).toSeq.sorted
      assert(streamed == batch,
        s"holt rows diverge:\nstream ${streamed.mkString(", ")}\n" +
          s"batch ${batch.mkString(", ")}")
    } finally q.stop()
  }

  test("streaming crostonMonitor equals the batch ev_croston result exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), col("ts"),
        (col("value") > 99.5).cast("long").as("cents"))
      .orderBy("ts", "event_type")
      .as[StatefulOps.DriftEv].collect()
    val flush = evs.map(_.event_type).distinct.map(t =>
      StatefulOps.DriftEv(t, new java.sql.Timestamp(0L), Long.MinValue))
    val mem = MemoryStream[StatefulOps.DriftEv]
    val q = StatefulOps.crostonMonitor(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("scro_out").start()
    try {
      evs.grouped(math.max(1, evs.length / 5))
        .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      mem.addData(flush.toSeq); q.processAllAvailable()
      val batch = SparkEntry.queries("ev_croston")(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4),
          Option(r.get(5)).map(_.asInstanceOf[Double]))).toSeq.sorted
      val streamed = spark.table("scro_out")
        .as[StatefulOps.CrostonState].collect()
        .map(c => (c.event_type, c.n_days, c.n_demand_days, c.demand_size,
          c.demand_interval, c.croston_forecast)).toSeq.sorted
      assert(streamed == batch,
        s"croston rows diverge:\nstream ${streamed.mkString(", ")}\n" +
          s"batch ${batch.mkString(", ")}")
    } finally q.stop()
  }

  test("out-of-order day across batches fails the drift twin loudly") {
    // The monotone-day contract: an event whose day PRECEDES the open
    // day must abort the stream (require), not silently fold as a new
    // later day and diverge from batch.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day0 = new java.sql.Timestamp(86400L * 1000L * 100) // day 100
    val dayBack = new java.sql.Timestamp(86400L * 1000L * 50) // day 50
    val mem = MemoryStream[StatefulOps.DriftEv]
    val q = StatefulOps.driftMonitor(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sdrift_ooo").start()
    try {
      mem.addData(StatefulOps.DriftEv("t", day0, 100L))
      q.processAllAvailable()
      mem.addData(StatefulOps.DriftEv("t", dayBack, 100L))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(c =>
        c.getMessage != null && c.getMessage.contains("out of order")),
        s"expected the monotone-day require, got: $ex")
    } finally q.stop()
  }

  test("streaming ewmaMonitor equals the batch ev_ewma rows exactly") {
    // The trailing-EWMA twin is CAUSAL — one output row per input row,
    // no flush sentinel — and must reproduce the oracle-checked batch
    // ev_ewma rows bit-for-bit: the processor's BigInt Horner fold and
    // the batch's decimal(38,0) aggregate are the same exact integer,
    // cast to double through the same correctly-rounded path.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .orderBy("ts", "event_id")
      .as[StatefulOps.Ev].collect()
    val mem = MemoryStream[StatefulOps.Ev]
    val q = StatefulOps.rollingEwma(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sewma_out").start()
    try {
      evs.grouped(math.max(1, evs.length / 5))
        .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      val batch = SparkEntry.queries("ev_ewma")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          r.getDouble(3))).toSeq.sorted
      val streamed = spark.table("sewma_out")
        .as[StatefulOps.Ewma].collect()
        .map(o => (o.event_id, o.event_type, o.value, o.ewma)).toSeq.sorted
      assert(streamed.length == batch.length,
        s"row counts diverge: stream ${streamed.length} batch ${batch.length}")
      assert(streamed == batch,
        "ewma rows diverge; first diff: " +
          streamed.zip(batch).find { case (a, b) => a != b }.toString)
    } finally q.stop()
  }

  test("out-of-order (ts, event_id) across batches fails the EWMA twin loudly") {
    // Same contract as the day-keyed twins, one grain finer: the EWMA
    // window order is (ts, event_id), so a cross-batch regression on
    // that key must abort, not fold the late row as the newest.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    val mem = MemoryStream[StatefulOps.Ev]
    val q = StatefulOps.rollingEwma(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sewma_ooo").start()
    try {
      mem.addData(StatefulOps.Ev("t",
        new java.sql.Timestamp(1000000L), 10L, 1.0))
      q.processAllAvailable()
      mem.addData(StatefulOps.Ev("t",
        new java.sql.Timestamp(999000L), 11L, 1.0))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(causes(ex).exists(c =>
        c.getMessage != null && c.getMessage.contains("out of order")),
        s"expected the monotone require, got: $ex")
    } finally q.stop()
  }

  test("out-of-order day across batches fails the Holt and Croston twins loudly") {
    // Same monotone-day contract as the drift twin: the smoothing
    // recursions fold closed days in order, so a regressed day must
    // abort, not silently fold as a later day.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    val day0 = new java.sql.Timestamp(86400L * 1000L * 100)
    val dayBack = new java.sql.Timestamp(86400L * 1000L * 50)
    for ((mk, nm) <- Seq(
      ((ds: org.apache.spark.sql.Dataset[StatefulOps.DriftEv]) =>
        StatefulOps.holtMonitor(ds).toDF(), "holt"),
      ((ds: org.apache.spark.sql.Dataset[StatefulOps.DriftEv]) =>
        StatefulOps.crostonMonitor(ds).toDF(), "croston"))) {
      val mem = MemoryStream[StatefulOps.DriftEv]
      val q = mk(mem.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName(s"s${nm}_ooo").start()
      try {
        mem.addData(StatefulOps.DriftEv("t", day0, 100L))
        q.processAllAvailable()
        mem.addData(StatefulOps.DriftEv("t", dayBack, 100L))
        val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        assert(causes(ex).exists(c =>
          c.getMessage != null && c.getMessage.contains("out of order")),
          s"$nm: expected the monotone-day require, got: $ex")
      } finally q.stop()
    }
  }

  test("streaming cardinalitySketch equals the batch prof_hll registers exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      import org.apache.spark.sql.functions.col
      val dir = "/root/testdata/sf0.001"
      val evs = graft.Tables.load(spark, dir, "events")
        .select(col("event_type"), col("user_id"))
        .as[StatefulOps.CardEv].collect()
      val flush = evs.map(_.event_type).distinct.map(t =>
        StatefulOps.CardEv(t, Long.MinValue))
      val mem = MemoryStream[StatefulOps.CardEv]
      val q = StatefulOps.cardinalitySketch(mem.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("shll_out").start()
      try {
        evs.grouped(math.max(1, evs.length / 4))
          .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
        mem.addData(flush.toSeq); q.processAllAvailable()
        val batch = SparkEntry.queries("prof_hll")(spark, dir).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getDouble(5))).toSeq.sorted
        val streamed = spark.table("shll_out")
          .as[StatefulOps.CardState].collect()
          .map(c => (c.event_type, c.m_regs, c.zero_regs, c.sum_rho, c.hll_est))
          .toSeq.sorted
        assert(streamed == batch,
          s"HLL rows diverge:\nstream ${streamed.mkString(", ")}\n" +
            s"batch ${batch.mkString(", ")}")
      } finally q.stop()
    }
  }

  test("Misra-Gries heavy hitters: exact when k covers the item domain, bounded otherwise") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      // Exact regime: k=8 > 5 distinct event types, so the sketch's final
      // counters must EQUAL the batch per-(user, type) counts on the real
      // events feed — across micro-batches.
      import org.apache.spark.sql.functions.col
      val dir = "/root/testdata/sf0.001"
      val evs = graft.Tables.load(spark, dir, "events")
        .select(col("user_id").cast("string"), col("event_type"))
        .as[(String, String)].collect()
      val mem = MemoryStream[(String, String)]
      val q = StatefulOps.heavyHitters(mem.toDS(), k = 8)
        .writeStream.outputMode("update")
        .format("memory").queryName("smg_out").start()
      try {
        evs.grouped(math.max(1, evs.length / 4))
          .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
        // latest estimate per (key, item) — update mode re-emits rows
        val streamed = spark.table("smg_out").as[StatefulOps.HeavyHitter]
          .collect().zipWithIndex
          .groupBy(r => (r._1.key, r._1.item))
          .map { case (k, rs) => k -> rs.maxBy(_._2)._1.est }
        val batch = evs.groupBy(identity).map { case ((u, t), rs) =>
          (u, t) -> rs.length.toLong
        }
        assert(streamed == batch)
      } finally q.stop()
      // Sketch regime: k=2 over 5 items — the MG bound must hold:
      // est <= true and true - est <= n/(k+1).
      val feed = Seq.fill(30)(("u", "a")) ++ Seq.fill(12)(("u", "b")) ++
        Seq(("u", "c"), ("u", "d"), ("u", "e"), ("u", "c"), ("u", "d"))
      val mem2 = MemoryStream[(String, String)]
      val q2 = StatefulOps.heavyHitters(mem2.toDS(), k = 2)
        .writeStream.outputMode("update")
        .format("memory").queryName("smg2_out").start()
      try {
        feed.grouped(10).foreach { b => mem2.addData(b.toSeq); q2.processAllAvailable() }
        val est = spark.table("smg2_out").as[StatefulOps.HeavyHitter]
          .collect().zipWithIndex
          .groupBy(_._1.item).map { case (i, rs) => i -> rs.maxBy(_._2)._1.est }
        val truth = feed.groupBy(_._2).map { case (i, rs) => i -> rs.length.toLong }
        val n = feed.length.toLong
        for ((i, e) <- est) {
          assert(e <= truth(i), s"$i overestimated: $e > ${truth(i)}")
          assert(truth(i) - e <= n / 3, s"$i undercounted past the MG bound")
        }
        // the dominant item must still be tracked
        assert(est.contains("a"))
      } finally q2.stop()
    }
  }

  test("streaming rollingStickiness equals the batch ev_stickiness oracle result") {
    // The engagement-family parity pin: feed the real sf0.001 events in
    // event-time order across several micro-batches plus a FlushUser
    // sentinel to close the tail days; the day-keyed transformWithState
    // op (per-day user MapState + event-time timer) must emit EXACTLY the
    // rows the batch (DuckDB-oracle-checked) ev_stickiness query
    // produces — same days, dau, mau, round(6) stickiness.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      import org.apache.spark.sql.functions.col
      val dir = "/root/testdata/sf0.001"
      val evs = graft.Tables.load(spark, dir, "events")
        .select(col("user_id"), col("ts")).orderBy("ts", "event_id")
        .as[StatefulOps.UserEv].collect()
      val flush = StatefulOps.UserEv(StatefulOps.FlushUser,
        new java.sql.Timestamp(evs.map(_.ts.getTime).max + 40L * 86400000L))
      val mem = MemoryStream[StatefulOps.UserEv]
      val q = StatefulOps.rollingStickiness(mem.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("sstick_out").start()
      try {
        evs.grouped(math.max(1, evs.length / 5))
          .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
        mem.addData(flush)
        q.processAllAvailable()
        val streamed = spark.table("sstick_out").as[StatefulOps.Stickiness]
          .collect().map(s => (s.d.toString, s.dau, s.mau, s.stickiness))
          .sortBy(_._1)
        val batch = SparkEntry.queries("ev_stickiness")(spark, dir).collect()
          .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
            r.getDouble(3))).sortBy(_._1)
        assert(streamed.length == batch.length,
          s"stream emitted ${streamed.length} days vs batch ${batch.length}")
        assert(streamed.sameElements(batch))
      } finally q.stop()
    }
  }

  test("streaming rollingWau equals the batch ev_rolling_wau oracle result") {
    // Same contract at the 7-day window: trailing distinct-active-users
    // per day, phantom tail days silent.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      import org.apache.spark.sql.functions.col
      val dir = "/root/testdata/sf0.001"
      val evs = graft.Tables.load(spark, dir, "events")
        .select(col("user_id"), col("ts")).orderBy("ts", "event_id")
        .as[StatefulOps.UserEv].collect()
      val flush = StatefulOps.UserEv(StatefulOps.FlushUser,
        new java.sql.Timestamp(evs.map(_.ts.getTime).max + 10L * 86400000L))
      val mem = MemoryStream[StatefulOps.UserEv]
      val q = StatefulOps.rollingWau(mem.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("swau_out").start()
      try {
        evs.grouped(math.max(1, evs.length / 5))
          .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
        mem.addData(flush)
        q.processAllAvailable()
        val streamed = spark.table("swau_out").as[StatefulOps.Wau]
          .collect().map(w => (w.d.toString, w.wau)).sortBy(_._1)
        val batch = SparkEntry.queries("ev_rolling_wau")(spark, dir).collect()
          .map(r => (r.getDate(0).toString, r.getLong(1))).sortBy(_._1)
        assert(streamed.length == batch.length,
          s"stream emitted ${streamed.length} days vs batch ${batch.length}")
        assert(streamed.sameElements(batch))
      } finally q.stop()
    }
  }

  test("every StatefulProcessor under streaming/ needs list state, map state or timers") {
    // The state-API rule (StatefulOps header): a single value per key
    // with no timer is a [flat]mapGroupsWithState fold on the default
    // state store, so a transformWithState processor must call one of
    // getListState, getMapState or registerTimer.
    val root = Iterator.iterate(new java.io.File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null).find(d => new java.io.File(d, "src/main/scala/graft/streaming").isDirectory)
      .getOrElse(fail("source tree not found above the working directory"))
    val decl = """class\s+(\w+)(?:\([^)]*\))?\s+extends\s+[\w.]*StatefulProcessor\s*\[""".r
    val bodies = new java.io.File(root, "src/main/scala/graft/streaming").listFiles()
      .filter(_.getName.endsWith(".scala")).toSeq.flatMap { f =>
        val in = scala.io.Source.fromFile(f, "UTF-8")
        val src = try in.mkString finally in.close()
        decl.findAllMatchIn(src).map { m =>
          // the class body, brace-matched from the first `{` after the header
          val open = src.indexOf('{', m.end)
          var depth = 0
          var i = open
          do {
            if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
            i += 1
          } while (depth > 0)
          m.group(1) -> src.substring(open, i)
        }
      }
    assert(bodies.nonEmpty, "no StatefulProcessor subclass found")
    val offenders = bodies.collect { case (name, body)
      if !Seq("getListState", "getMapState", "registerTimer").exists(body.contains) => name }
    assert(offenders.isEmpty,
      s"single-value processors belong on a flatMapGroupsWithState fold: $offenders")
  }
}
