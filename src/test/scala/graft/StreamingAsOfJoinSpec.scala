package graft

import graft.ops.AsOfJoin
import graft.streaming.StreamingAsOfJoin
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/**
 * The buffered streaming as-of join must reproduce the batch operator
 * exactly — including when a VIEW arrives in a later microbatch than the
 * click it should attribute (the case an incremental last-left fold
 * emits wrong and can never repair), at equal-ts ties, and for
 * unmatched rights.
 */
class StreamingAsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("streamed attribution equals the batch as-of join, out-of-order " +
    "across microbatches") {
    // (event_id, user_id, ts)
    val views = Seq(
      (1L, 7L, ts(10)), (2L, 7L, ts(20)),
      // u8's view at 30 arrives AFTER its click at 40 (later batch):
      // buffering must still attribute the click to it
      (4L, 8L, ts(30)),
      // u9: two equal-ts views — largest id (12) must win
      (11L, 9L, ts(50)), (12L, 9L, ts(50)))
    val clicks = Seq(
      (100L, 7L, ts(15)), (101L, 7L, ts(25)),
      (102L, 8L, ts(40)),
      // at-or-before: click exactly at the views' ts sees them
      (103L, 9L, ts(50)),
      // u10 has no view at all: null match
      (104L, 10L, ts(60)))
    val vStream = MemoryStream[(Long, Long, Timestamp)](spark)
    val cStream = MemoryStream[(Long, Long, Timestamp)](spark)
    def df(s: MemoryStream[(Long, Long, Timestamp)]) =
      s.toDF().toDF("event_id", "user_id", "ts")
    val out = StreamingAsOfJoin.lastBeforeStream(
      df(vStream), df(cStream),
      key = "user_id", ts = "ts", leftId = "event_id", rightId = "event_id",
      watermarkDelay = "1 hour")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("sasof")
      .outputMode("append").start()
    try {
      // batch 1: everything EXCEPT u8's view, which arrives after the
      // click it must match
      vStream.addData(views.filterNot(_._1 == 4L): _*)
      cStream.addData(clicks: _*)
      q.processAllAvailable()
      vStream.addData(views.filter(_._1 == 4L): _*)
      q.processAllAvailable()
      // sentinels advance the watermark past every key's finalize horizon
      vStream.addData((900L, 999L, ts(100000)))
      q.processAllAvailable()
      vStream.addData((901L, 999L, ts(200000)))
      q.processAllAvailable()

      def keyOf(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
          r.getAs[Timestamp]("ts"),
          Option(r.getAs[java.lang.Long]("matched_event_id")).map(_.toLong),
          Option(r.getAs[Timestamp]("matched_ts")),
          Option(r.getAs[java.lang.Long]("lag_ms")).map(_.toLong))
      val got = spark.table("sasof")
        .filter(col("user_id") =!= 999L).collect().map(keyOf).toSet
      val want = AsOfJoin.lastBefore(
        views.toDF("event_id", "user_id", "ts"),
        clicks.toDF("event_id", "user_id", "ts"),
        key = "user_id", ts = "ts", leftId = "event_id", rightId = "event_id")
        .collect().map(keyOf).toSet
      assert(want.size == clicks.size)
      assert(got == want, s"only-stream=${got -- want} only-batch=${want -- got}")
      // the late-view case specifically: u8's click attributes to view 4
      assert(got.exists(r => r._1 == 102L && r._4.contains(4L)))
      // tie cases: largest equal-ts view id wins; at-or-before visibility
      assert(got.exists(r => r._1 == 103L && r._4.contains(12L) &&
        r._6.contains(0L)))
      // unmatched right carries nulls
      assert(got.exists(r => r._1 == 104L && r._4.isEmpty && r._5.isEmpty))
    } finally q.stop()
  }

  test("attribution job over file topics reproduces the batch as-of join " +
    "(golden end-to-end)") {
    import graft.streaming.StreamingJobs
    withTempDir("graft-attribution") { root =>
      val topic = root.resolve("events")
      java.nio.file.Files.createDirectories(topic)
      val work = root.resolve("work").toString
      // deterministic event feed: views and clicks interleaved per user,
      // the second wave carrying EARLIER views than wave one's clicks
      def ev(id: Long, user: Long, sec: Long, t: String) =
        (id, new Timestamp(sec * 1000L), user, t)
      val wave0 = Seq(
        ev(1, 7, 10, "view"), ev(100, 7, 15, "click"),
        ev(2, 7, 20, "view"), ev(101, 7, 25, "click"),
        ev(102, 8, 40, "click"), ev(103, 9, 50, "click"))
      val wave1 = Seq( // u8's view at 30 arrives AFTER its click at 40
        ev(4, 8, 30, "view"), ev(11, 9, 50, "view"), ev(12, 9, 50, "view"))
      def write(name: String, rows: Seq[(Long, Timestamp, Long, String)]): Unit =
        java.nio.file.Files.write(topic.resolve(name), String.join("\n",
          rows.toDF("event_id", "ts", "user_id", "event_type")
            .toJSON.collect(): _*).getBytes)
      write("wave0.json", wave0)
      val q = StreamingJobs.runAttributionJob(spark, topic.toString, work,
        watermarkDelay = "1 hour")
      try {
        q.processAllAvailable()
        write("wave1.json", wave1); q.processAllAvailable()
        write("s1.json", Seq(ev(900, 999, 100000, "view"))); q.processAllAvailable()
        write("s2.json", Seq(ev(901, 999, 200000, "view"))); q.processAllAvailable()
        val emitted = spark.read.schema(
            "event_id long, user_id long, ts timestamp, " +
              "matched_event_id long, matched_ts timestamp, lag_ms long")
          .json(s"$work/attributions")
          .filter(col("user_id") =!= 999L)
        val all = (wave0 ++ wave1)
          .toDF("event_id", "ts", "user_id", "event_type")
        val want = AsOfJoin.lastBefore(
          all.filter(col("event_type") === "view")
            .select("event_id", "user_id", "ts"),
          all.filter(col("event_type") === "click")
            .select("event_id", "user_id", "ts"),
          key = "user_id", ts = "ts", leftId = "event_id", rightId = "event_id")
        def keyOf(r: org.apache.spark.sql.Row) =
          (r.getAs[Long]("event_id"),
            Option(r.getAs[java.lang.Long]("matched_event_id")).map(_.toLong),
            Option(r.getAs[java.lang.Long]("lag_ms")).map(_.toLong))
        val got = emitted.collect().map(keyOf).toSet
        val exp = want.collect().map(keyOf).toSet
        assert(exp.size == 4 && got == exp,
          s"only-stream=${got -- exp} only-batch=${exp -- got}")
        // the late-view repair and the equal-ts at-or-before tie survived
        // the topic round-trip
        assert(got.contains((102L, Some(4L), Some(10000L))))
        assert(got.contains((103L, Some(12L), Some(0L))))
      } finally q.stop()
    }
  }

  test("null key/ts/id rows are dropped, not poison: the job survives " +
    "malformed-but-valid events and still attributes the valid ones") {
    // JsonStreams.decode passes valid JSON with missing fields through as
    // nulls; before the null filter these rows threw at Dataset
    // deserialization and re-killed the job on every checkpoint restart
    val vStream = MemoryStream[(Option[Long], Option[Long], Option[Timestamp])](spark)
    val cStream = MemoryStream[(Option[Long], Option[Long], Option[Timestamp])](spark)
    def df(s: MemoryStream[(Option[Long], Option[Long], Option[Timestamp])]) =
      s.toDF().toDF("event_id", "user_id", "ts")
    val out = StreamingAsOfJoin.lastBeforeStream(
      df(vStream), df(cStream),
      key = "user_id", ts = "ts", leftId = "event_id", rightId = "event_id",
      watermarkDelay = "1 hour")
    val q = out.writeStream.format("memory").queryName("sasofnull")
      .outputMode("append").start()
    try {
      vStream.addData(
        (Some(1L), Some(7L), Some(ts(10))),
        (None, Some(7L), Some(ts(11))),     // null left id
        (Some(2L), None, Some(ts(12))),     // null key
        (Some(3L), Some(7L), None))         // null ts
      cStream.addData(
        (Some(100L), Some(7L), Some(ts(15))),
        (None, Some(7L), Some(ts(16))),     // null right id
        (Some(101L), None, Some(ts(17))),   // null key
        (Some(102L), Some(7L), None))       // null ts
      q.processAllAvailable()
      vStream.addData((Some(900L), Some(999L), Some(ts(100000))))
      q.processAllAvailable()
      vStream.addData((Some(901L), Some(999L), Some(ts(200000))))
      q.processAllAvailable()
      val got = spark.table("sasofnull")
        .filter(col("user_id") =!= 999L).collect()
      // exactly the one fully-valid click, attributed to the one valid
      // view; every null-bearing row dropped rather than crashing the job
      assert(got.length == 1, s"got ${got.toSeq}")
      assert(got.head.getAs[Long]("event_id") == 100L)
      assert(got.head.getAs[java.lang.Long]("matched_event_id") == 1L)
    } finally q.stop()
  }

  test("progressive prefix-finalize: a continuously-active key emits " +
    "attributions as the watermark passes them (the hot-key remedy), " +
    "carries the latest pruned view, and matches the batch twin exactly") {
    // ONE user stays active the whole run — the inactivity timeout never
    // fires, so every emission before the final flush comes from the
    // watermark prefix
    val u = 7L
    val vStream = MemoryStream[(Long, Long, Timestamp)](spark)
    val cStream = MemoryStream[(Long, Long, Timestamp)](spark)
    def df(s: MemoryStream[(Long, Long, Timestamp)]) =
      s.toDF().toDF("event_id", "user_id", "ts")
    val out = StreamingAsOfJoin.lastBeforeStream(
      df(vStream), df(cStream),
      key = "user_id", ts = "ts", leftId = "event_id", rightId = "event_id",
      watermarkDelay = "1 second")
    val q = out.writeStream.format("memory").queryName("sasof_prog")
      .outputMode("append").start()
    val views = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Timestamp)]
    val clicks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Timestamp)]
    def addV(rows: (Long, Long, Timestamp)*): Unit = {
      views ++= rows; vStream.addData(rows: _*)
    }
    def addC(rows: (Long, Long, Timestamp)*): Unit = {
      clicks ++= rows; cStream.addData(rows: _*)
    }
    try {
      // b1: view 1 @10, equal-ts views 11/12 @12, clicks @12 and @15
      // (watermark is unset during the first batch — nothing finalizes)
      addV((1L, u, ts(10)), (11L, u, ts(12)), (12L, u, ts(12)))
      addC((101L, u, ts(12)), (100L, u, ts(15)))
      q.processAllAvailable()
      // b2: a far view pushes the watermark; during THIS batch wm = 14 s
      // (from b1's max 15 − 1 s) → click 101 @12 finalizes; view 1 is
      // pruned and the tie pair @12 is retained as the carry
      addV((2L, u, ts(1000)))
      q.processAllAvailable()
      // b3: wm = 999 s → click 100 @15 finalizes against the CARRIED
      // tie-winning view (its own-era views were pruned in b2); the new
      // click @1001 is in-bound (≥ wm) and stays live. The key never
      // went inactive — an inactivity-only flush would show nothing yet.
      addC((103L, u, ts(1001)))
      q.processAllAvailable()
      val early = spark.table("sasof_prog").collect()
        .map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[java.lang.Long]("matched_event_id")).map(_.toLong))
        .toMap
      assert(early.keySet == Set(100L, 101L),
        s"prefix-finalize should have emitted both b1 clicks, got $early")
      assert(early(100L).contains(12L),
        s"carry after pruning must keep the tie-winning view: $early")
      // advance wm past 1001 over two batches → click 103 finalizes
      // against the live-era view 2 @1000
      addV((3L, u, ts(5000)))
      q.processAllAvailable()
      addV((9L, u, ts(100000)))
      q.processAllAvailable()
      val mid = spark.table("sasof_prog").collect()
        .map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[java.lang.Long]("matched_event_id")).map(_.toLong))
        .toMap
      assert(mid(103L).contains(2L), s"live-view match: $mid")
      // final flush batch, then compare the FULL run with the batch twin
      addV((10L, u, ts(200000)))
      q.processAllAvailable()
      def keyOf(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("event_id"),
          Option(r.getAs[java.lang.Long]("matched_event_id")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("lag_ms")).map(_.toLong))
      val got = spark.table("sasof_prog").collect().map(keyOf).toSet
      val want = AsOfJoin.lastBefore(
        views.toSeq.toDF("event_id", "user_id", "ts"),
        clicks.toSeq.toDF("event_id", "user_id", "ts"),
        key = "user_id", ts = "ts", leftId = "event_id", rightId = "event_id")
        .collect().map(keyOf).toSet
      assert(got == want, s"only-stream=${got -- want} only-batch=${want -- got}")
      assert(got.size == clicks.size)
    } finally q.stop()
  }

  test("progressive lateness bound: in-bound late arrivals are exact; " +
    "beyond-bound arrivals are dropped by the operator's late-input " +
    "filter under the watermark contract") {
    val u = 7L
    val got = {
      val vStream = MemoryStream[(Long, Long, Timestamp)](spark)
      val cStream = MemoryStream[(Long, Long, Timestamp)](spark)
      def df(s: MemoryStream[(Long, Long, Timestamp)]) =
        s.toDF().toDF("event_id", "user_id", "ts")
      val out = StreamingAsOfJoin.lastBeforeStream(
        df(vStream), df(cStream),
        key = "user_id", ts = "ts", leftId = "event_id",
        rightId = "event_id", watermarkDelay = "5 seconds")
      val name = "sasof_late"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // b1: views @5 and @10, click 100 @12 — and a pacer @20 so the
        // NEXT batch's watermark (20−5 = 15 s) finalizes the prefix
        vStream.addData((4L, u, ts(5)), (1L, u, ts(10)), (90L, u, ts(20)))
        cStream.addData((100L, u, ts(12)))
        q.processAllAvailable()
        // b2 (wm 15): the prefix finalizes — click 100 → view 1; view 4
        // @5 is PRUNED (view 1 @10 is the newest below-wm left, the
        // only carry). An IN-BOUND late view @18 (≥ wm) arrives out of
        // order with click 101 @19 — both stay live.
        vStream.addData((2L, u, ts(18)))
        cStream.addData((101L, u, ts(19)))
        q.processAllAvailable()
        // b3: pacer @40 → wm 35 next batch; @18/@19 finalize there —
        // in-bound lateness must be EXACT
        vStream.addData((91L, u, ts(40)))
        q.processAllAvailable()
        // b4 (wm 35): BEYOND-BOUND late click 103 @7 — the stateful
        // operator's late-input filter (every row below the watermark)
        // drops it BEFORE the state function: the class prefix pruning
        // could have missed (its oracle view 4 @5 was pruned in b2)
        // never reaches the buffer. Click 102 @38 is live/in-bound.
        cStream.addData((102L, u, ts(38)), (103L, u, ts(7)))
        q.processAllAvailable()
        // flush: far sentinel advances wm past everything, then the
        // inactivity timeout fires on a second wave
        vStream.addData((92L, u, ts(100000)))
        q.processAllAvailable()
        vStream.addData((93L, 999L, ts(200000)))
        q.processAllAvailable()
        spark.table(name).filter(col("user_id") =!= 999L).collect()
          .map(r => r.getAs[Long]("event_id") ->
            Option(r.getAs[java.lang.Long]("matched_event_id")).map(_.toLong))
          .toMap
      } finally q.stop()
    }
    // oracle over the complete set (arrival order irrelevant)
    val views = Seq((4L, ts(5)), (1L, ts(10)), (90L, ts(20)), (2L, ts(18)),
      (91L, ts(40)), (92L, ts(100000))).map { case (i, t) => (i, u, t) }
    val clicks = Seq((100L, ts(12)), (101L, ts(19)), (102L, ts(38)),
      (103L, ts(7))).map { case (i, t) => (i, u, t) }
    val oracle = AsOfJoin.lastBefore(
        views.toDF("event_id", "user_id", "ts"),
        clicks.toDF("event_id", "user_id", "ts"),
        key = "user_id", ts = "ts", leftId = "event_id",
        rightId = "event_id")
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Long]("matched_event_id")).map(_.toLong))
      .toMap
    // every in-bound click — including the one matching the in-bound
    // LATE view — is exact vs the batch oracle: the carry retains the
    // newest below-watermark left, and any pruned left is strictly
    // older than what an in-bound right can need
    for (c <- Seq(100L, 101L, 102L))
      assert(got(c) == oracle(c), s"in-bound click $c: $got vs $oracle")
    assert(oracle(101L).contains(2L) && oracle(102L).contains(90L))
    // the batch oracle sees the beyond-bound click (batch has no
    // watermark); the stream dropped it at the late-input filter — the
    // watermark contract, not a pruning trade
    assert(oracle(103L).contains(4L))
    assert(!got.contains(103L),
      s"beyond-bound click should be dropped: $got")
    assert((got - 103L) == (oracle - 103L),
      s"divergence beyond the dropped late click: $got vs $oracle")
  }

  test("progressive attribution job: crash mid-stream, restart from the " +
    "checkpoint under RocksDB — final attributions equal the batch " +
    "oracle with zero duplicates") {
    import graft.streaming.{StateBackend, StreamingJobs}
    withTempDir("graft-asof-prog-rs") { root =>
      val topic = root.resolve("events")
      java.nio.file.Files.createDirectories(topic)
      val work = root.resolve("work").toString
      def ev(id: Long, user: Long, sec: Long, t: String) =
        (id, new Timestamp(sec * 1000L), user, t)
      def write(name: String, rows: Seq[(Long, Timestamp, Long, String)]): Unit =
        java.nio.file.Files.write(topic.resolve(name), String.join("\n",
          rows.toDF("event_id", "ts", "user_id", "event_type")
            .toJSON.collect(): _*).getBytes)
      // the state store provider is the session's: scope RocksDB around
      // each start
      def launch() =
        StateBackend.withProvider(spark, Some(StateBackend.RocksDb)) {
          StreamingJobs.runAttributionJob(spark, topic.toString, work,
            watermarkDelay = "5 seconds", finalizeDelayMs = 3600000L)
        }
      // wave 0: two users, clicks already finalizable once the watermark
      // moves (pacer @60 → wm 55; wave-1 event times must stay ABOVE the
      // recovered watermark or the late-input filter correctly drops them)
      val wave0 = Seq(
        ev(1, 7, 10, "view"), ev(100, 7, 15, "click"),
        ev(2, 7, 20, "view"), ev(101, 7, 25, "click"),
        ev(3, 8, 30, "view"), ev(102, 8, 35, "click"),
        ev(50, 6, 60, "view"))
      write("w0.json", wave0)
      val q1 = launch()
      try q1.processAllAvailable() finally q1.stop() // CRASH mid-stream
      // wave 1 lands while the job is DOWN: more in-bound events for the
      // same keys (all ts > the recovered watermark of 55 s)
      val wave1 = Seq(
        ev(4, 7, 70, "view"), ev(103, 7, 75, "click"),
        ev(104, 8, 80, "click"), ev(51, 6, 400, "view"))
      write("w1.json", wave1)
      val q2 = launch()
      try {
        q2.processAllAvailable()
        // flush waves: advance the watermark far, then fire timeouts
        write("s1.json", Seq(ev(900, 999, 100000, "view")))
        q2.processAllAvailable()
        write("s2.json", Seq(ev(901, 999, 200000, "view")))
        q2.processAllAvailable()
      } finally q2.stop()
      val emitted = spark.read.schema(
          "event_id long, user_id long, ts timestamp, " +
            "matched_event_id long, matched_ts timestamp, lag_ms long")
        .json(s"$work/attributions")
        .filter(col("user_id") =!= 999L)
        .collect()
        .map(r => (r.getAs[Long]("event_id"),
          Option(r.getAs[java.lang.Long]("matched_event_id")).map(_.toLong)))
      val all = (wave0 ++ wave1).toDF("event_id", "ts", "user_id", "event_type")
      val want = AsOfJoin.lastBefore(
          all.filter(col("event_type") === "view")
            .select("event_id", "user_id", "ts"),
          all.filter(col("event_type") === "click")
            .select("event_id", "user_id", "ts"),
          key = "user_id", ts = "ts", leftId = "event_id",
          rightId = "event_id")
        .collect()
        .map(r => (r.getAs[Long]("event_id"),
          Option(r.getAs[java.lang.Long]("matched_event_id")).map(_.toLong)))
        .toSet
      assert(emitted.length == emitted.toSet.size,
        s"duplicate attributions after the restart: ${emitted.toSeq}")
      assert(emitted.toSet == want,
        s"only-stream=${emitted.toSet -- want} only-batch=${want -- emitted.toSet}")
    }
  }

  test("matchSeq equals lastBefore on randomized inputs, any arrival order") {
    val rnd = new scala.util.Random(17)
    for (_ <- 1 to 30) {
      val lefts = Seq.tabulate(rnd.nextInt(8))(i =>
        (i.toLong + 1, 7L, rnd.nextInt(40).toLong))
      val rights = Seq.tabulate(1 + rnd.nextInt(8))(i =>
        (i.toLong + 100, 7L, rnd.nextInt(40).toLong))
      val buf = rnd.shuffle(
        lefts.map(l => (l._3 * 1000L, true, l._1)) ++
          rights.map(r => (r._3 * 1000L, false, r._1)))
      val viaSeq = AsOfJoin.matchSeq(buf)
        .map { case (rid, rts, m) => (rid, rts, m) }.toSet
      val viaBatch = AsOfJoin.lastBefore(
        lefts.map { case (id, u, s) => (id, u, ts(s)) }
          .toDF("event_id", "user_id", "ts"),
        rights.map { case (id, u, s) => (id, u, ts(s)) }
          .toDF("event_id", "user_id", "ts"),
        key = "user_id", ts = "ts", leftId = "event_id", rightId = "event_id")
        .collect().map { r =>
          val m = Option(r.getAs[java.lang.Long]("matched_event_id")).map(_.toLong)
            .map(mid => (mid, r.getAs[Timestamp]("matched_ts").getTime))
          (r.getAs[Long]("event_id"), r.getAs[Timestamp]("ts").getTime, m)
        }.toSet
      assert(viaSeq == viaBatch,
        s"matchSeq != lastBefore; lefts=$lefts rights=$rights " +
          s"only-seq=${viaSeq -- viaBatch} only-batch=${viaBatch -- viaSeq}")
    }
  }
}
