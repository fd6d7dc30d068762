package graft

import java.sql.Timestamp

import graft.streaming.Streaming
import graft.streaming.Streaming.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkTestBase {

  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(1704067200000L + minute * 60000L)

  test("windowed counts over a memory stream match the batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(5), 11, "click", 2.0),
      Event(3, ts(12), 10, "purchase", 5.0),
      Event(4, ts(14), 12, "click", 3.0),
      Event(5, ts(25), 10, "click", 7.0)
    )
    input.addData(events: _*)

    // complete mode emits every window's current aggregate each batch —
    // the final table state must equal the batch aggregation
    val q = Streaming.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("wc")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.awaitTermination()

    val streamed = spark.table("wc")
      .select("window_start", "event_type", "n_events", "total_value")
      .collect().map(_.toSeq).toSet
    val batch = Streaming.windowedCounts(events.toDF())
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("watermark drops late data: a closed window's append output excludes stragglers") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // batch 1: two events in the [0,10) window, then one far ahead that
    // advances the watermark (max ts 120min - 30min watermark = 90min)
    // past the first window's end -> window [0,10) finalizes
    input.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(5), 11, "click", 2.0),
      Event(3, ts(120), 12, "click", 4.0))
    val q = Streaming.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("late_wc")
      .outputMode("append").trigger(Trigger.ProcessingTime(0))
      .start()
    q.processAllAvailable()
    // batch 2: a straggler for the long-closed [0,10) window — the
    // watermark must drop it, not re-emit or update the window
    input.addData(Event(4, ts(2), 10, "click", 100.0))
    q.processAllAvailable()
    q.stop(); q.awaitTermination()

    val firstWindow = spark.table("late_wc")
      .where(col("window_start") === ts(0))
      .select("n_events", "total_value")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // exactly one finalized emission, containing only the on-time events
    assert(firstWindow.toSeq == Seq((2L, 3.0)),
           s"late event must be dropped, got ${firstWindow.toSeq}")
  }

  test("sessionize splits on gap and aggregates within sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // user 1: two sessions (gap 40min > 30min); user 2: one session
    input.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(50), 1, "click", 4.0),
      Event(4, ts(0), 2, "click", 8.0))

    val q = Streaming.sessionize(input.toDS(), flushOnTimeout = false)
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.awaitTermination()

    // only user 1's FIRST session is closed (by the in-batch gap); open
    // sessions are held in state until timeout
    val closed = spark.table("sess").as[Streaming.Session].collect()
    assert(closed.length == 1)
    val s = closed.head
    assert(s.user_id == 1L && s.n_events == 2L && s.total_value == 3.0)
    assert(s.session_start == ts(0) && s.session_end == ts(10))
  }

  test("streaming sessionize replayed over the events table matches batch q_sessionize") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Streaming.eventsBatch(spark, sf).collect()
    assert(events.nonEmpty)
    input.addData(events.toIndexedSeq: _*)
    // one sentinel per user, a full gap past that user's last event: it
    // closes every REAL session, while the sentinel's own 1-event session
    // stays open in state and (flushOnTimeout=false) is never emitted —
    // so the emitted sessions partition exactly the real events
    val sentinels = events.groupBy(_.user_id).map { case (u, es) =>
      val maxTs = es.map(_.ts.getTime).max
      Event(-1L, new Timestamp(maxTs + 2 * Streaming.SessionGapMs), u, "sentinel", 0.0)
    }
    input.addData(sentinels.toIndexedSeq: _*)

    val q = Streaming.sessionize(input.toDS(), flushOnTimeout = false)
      .writeStream.format("memory").queryName("sess_parity")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.awaitTermination()

    // same shape as the batch query: per-user session count + event count
    val streamed = spark.table("sess_parity")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("q_sessionize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch,
           s"stream/batch sessionization diverged: ${streamed.diff(batch)} vs ${batch.diff(streamed)}")
  }

  test("streaming dedup keeps one row per content hash within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    final case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    input.addData(
      (1L, ts(0), "the same document text"),
      (2L, ts(1), "the same  document   text"), // same after normalization
      (3L, ts(2), "a different document"))
    val q = Streaming.streamingDedup(input.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.awaitTermination()
    val out = spark.table("sdedup").select("content_md5").collect().map(_.getString(0))
    assert(out.length == 2, "3 docs, 2 distinct normalized contents")
    assert(out.distinct.length == 2)
  }

  test("stream-static join enriches events against a dimension table") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(0), 10, "click", 1.0),
      Event(2, ts(1), 11, "click", 2.0),
      Event(3, ts(2), 99, "click", 4.0)) // no dimension row -> dropped by inner join
    val dim = Seq((10L, "gold"), (11L, "silver")).toDF("user_id", "tier")
    val q = input.toDF().join(dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.awaitTermination()
    val rows = spark.table("enriched").select("user_id", "tier").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(10L -> "gold", 11L -> "silver"))
  }

  test("streaming KMV is batch-split-invariant: 1 batch and 5 batches land on one sketch") {
    implicit val sqlCtx = spark.sqlContext
    val k = 16
    val values = (1 to 400).map(i => Streaming.SubHash(
      if (i % 2 == 0) "a" else "b", (i * 31) % 4, (i.toLong * 2654435761L) % 100000L))
    def run(chunks: Int): Map[(String, Int), Seq[Long]] = {
      val input = MemoryStream[Streaming.SubHash]
      val sink = s"kmv_split_${chunks}_${System.nanoTime()}"
      val q = Streaming.kmvSketch(input.toDS(), k)
        .writeStream.format("memory").queryName(sink).outputMode("update").start()
      values.grouped(math.max(1, values.length / chunks)).foreach { c =>
        input.addData(c: _*); q.processAllAvailable()
      }
      q.stop(); q.awaitTermination()
      val rows = spark.table(sink).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getSeq[Long](3)))
      spark.catalog.dropTempView(sink)
      // latest emission per shard (n_seen is monotone)
      rows.groupBy(_._1).view.mapValues(_.maxBy(_._2._1)._2._2.toSeq).toMap
    }
    val one = run(1)
    val five = run(5)
    assert(one == five, "final shard sketches must not depend on batch boundaries")
    // and each equals the direct k-min of the shard's distinct values
    values.groupBy(v => (v.grp, v.sub)).foreach { case (key, vs) =>
      val expected = vs.map(_.h).distinct.sorted.take(k)
      assert(one(key) == expected, s"shard $key")
    }
  }

  test("streaming CDC state is batch-split- and order-invariant") {
    implicit val sqlCtx = spark.sqlContext
    // planted changelog: 3 keys, interleaved writes, one key tombstoned
    // last, one with an equal-ts tiebreak decided by event_id
    val changes = Seq(
      Streaming.CdcChange(1L, 100L, 1L, "U", 10L),
      Streaming.CdcChange(2L, 100L, 2L, "U", 20L),
      Streaming.CdcChange(1L, 200L, 3L, "U", 11L),
      Streaming.CdcChange(3L, 100L, 4L, "U", 30L),
      Streaming.CdcChange(3L, 300L, 5L, "D", 0L),  // tombstone wins
      Streaming.CdcChange(2L, 300L, 6L, "U", 21L),
      Streaming.CdcChange(2L, 300L, 7L, "U", 22L)  // same ts: event_id 7 wins
    )
    def run(order: Seq[Streaming.CdcChange], chunks: Int): Map[Long, (Long, Long, String, Long, Long)] = {
      val input = MemoryStream[Streaming.CdcChange]
      val sink = s"cdc_split_${chunks}_${System.nanoTime()}"
      val q = Streaming.cdcState(input.toDS())
        .writeStream.format("memory").queryName(sink).outputMode("update").start()
      order.grouped(math.max(1, order.length / chunks)).foreach { c =>
        input.addData(c: _*); q.processAllAvailable()
      }
      q.stop(); q.awaitTermination()
      val rows = spark.table(sink).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4), r.getLong(5)))
      spark.catalog.dropTempView(sink)
      rows.groupBy(_._1).view.mapValues(_.maxBy(_._2._5)._2).toMap // latest by n_changes
    }
    val one = run(changes, 1)
    val four = run(changes, 4)
    val shuffled = run(scala.util.Random.shuffle(changes), 3)
    assert(one == four && one == shuffled, "final states depend on batch boundaries or order")
    assert(one(1L) == ((200L, 3L, "U", 11L, 2L)))
    assert(one(2L) == ((300L, 7L, "U", 22L, 3L)), "equal-ts tiebreak by event_id")
    assert(one(3L)._3 == "D", "tombstone is the final state")
  }

  test("streaming MG keeps the heavy-hitter guarantee under any batch split") {
    implicit val sqlCtx = spark.sqlContext
    val k = 4
    // one genuinely heavy term (count 60 of N=150 > N/(k+1)=30) drowned in
    // 90 near-unique fillers that force constant counter eviction
    val stream = (1 to 60).map(_ => "heavy") ++ (1 to 90).map(i => s"rare$i")
    val shardOf = (t: String) => math.abs(t.hashCode) % 3
    for (chunks <- Seq(1, 5)) {
      val input = MemoryStream[Streaming.ShardTerm]
      val sink = s"mg_split_${chunks}_${System.nanoTime()}"
      val q = Streaming.mgSketch(input.toDS(), k)
        .writeStream.format("memory").queryName(sink).outputMode("update").start()
      stream.grouped(math.max(1, stream.length / chunks)).foreach { c =>
        input.addData(c.map(t => Streaming.ShardTerm(shardOf(t), t)): _*)
        q.processAllAvailable()
      }
      q.stop(); q.awaitTermination()
      val rows = spark.table(sink).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getMap[String, Long](2).toMap))
      spark.catalog.dropTempView(sink)
      val union = rows.groupBy(_._1).values
        .flatMap(_.maxBy(_._2._1)._2._2.keys).toSet
      assert(union.contains("heavy"), s"chunks=$chunks: guaranteed term evicted")
    }
  }

  test("batch replay through eventsBatch has the stream schema") {
    val ds = Streaming.eventsBatch(spark, sf)
    assert(ds.count() > 0)
    val w = Streaming.windowedCounts(ds.toDF())
    assert(w.columns.toSeq == Seq("window_start", "event_type", "n_events", "total_value"))
    assert(w.count() > 0)
  }

  test("streaming window counts partition every real event exactly once") {
    val out = SparkEntry.queries("q_streaming_window_counts")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(!out.exists(_.getString(1) == "sentinel"),
           "the watermark sentinel's open window must never be emitted")
    val nEvents = Tables.events(spark, sf).count()
    assert(out.map(_.getLong(2)).sum == nEvents,
           "summed window counts must equal the full event count (no window lost to the watermark)")
    spark.catalog.clearCache()
  }

  test("stream-stream click attribution honors the interval boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val week = 7 * 24 * 60 // minutes
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(0), 10, "click", 0.0),            // exactly 7 days before → included
      Event(2, ts(week - 1), 10, "click", 0.0),     // 1 min before → included
      Event(3, ts(week), 10, "purchase", 9.0),      // the purchase
      Event(4, ts(week), 10, "click", 0.0),         // same instant → EXCLUDED (strict <)
      Event(5, ts(week + 1), 10, "click", 0.0),     // after → excluded
      Event(6, ts(week - 5), 77, "click", 0.0))     // other user → excluded
    val q = Streaming.clickAttribution(input.toDF())
      .writeStream.format("memory").queryName("attr_spec")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.awaitTermination()
    val got = spark.table("attr_spec").select("click_id").collect().map(_.getLong(0)).toSet
    spark.catalog.dropTempView("attr_spec")
    assert(got == Set(1L, 2L),
           s"expected clicks {1,2} attributed (inclusive 7-day start, exclusive end), got $got")
  }

  test("left-outer attribution emits the null row only after the click watermark proves absence") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // purchase 2 (user 10) has a click; purchase 3 (user 77) has none
    input.addData(
      Event(1, ts(10), 10, "click", 0.0),
      Event(2, ts(20), 10, "purchase", 9.0),
      Event(3, ts(20), 77, "purchase", 9.0))
    val q = Streaming.clickAttributionLeftOuter(input.toDF())
      .writeStream.format("memory").queryName("louter_spec")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    def rows() = spark.table("louter_spec")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    // click watermark is ts(20) − 1h, NOT past purchase 3's ts(20): the
    // match emits eagerly, the null row must NOT exist yet
    assert(rows().contains((2L, 1L)), "matched pair must emit eagerly")
    assert(!rows().exists(_._1 == 3L),
      "null row must not emit before the watermark proves no click can arrive")
    // null emission is licensed by the GLOBAL watermark — the MIN of both
    // sides' — so BOTH sides need a late event: a click alone would leave
    // the purchase-side watermark at ts(20) − 1h and the global one stuck
    // there. User 99's pair (joins nothing) pushes the global watermark to
    // ts(90) − 1h = ts(30) > ts(20): absence is now proven, the null emits
    input.addData(Event(4, ts(90), 99, "click", 0.0),
                  Event(5, ts(90), 98, "purchase", 0.0))
    q.processAllAvailable(); q.stop()
    val after = rows()
    spark.catalog.dropTempView("louter_spec")
    assert(after.count(_ == ((3L, -1L))) == 1,
      s"exactly one null row for the unmatched purchase once licensed, got $after")
    assert(after.count(_._1 == 2L) == 1, "matched purchase must not also emit a null row")
  }

  test("full-outer attribution: the two sides' null rows need different watermark horizons") {
    implicit val sqlCtx = spark.sqlContext
    val week = 7 * 24 * 60 // minutes
    val input = MemoryStream[Event]
    // user 10: matched pair; user 77: purchase w/o click; user 55: click w/o purchase
    input.addData(
      Event(1, ts(10), 10, "click", 0.0),
      Event(2, ts(20), 10, "purchase", 9.0),
      Event(3, ts(20), 77, "purchase", 9.0),
      Event(4, ts(30), 55, "click", 0.0))
    val q = Streaming.clickAttributionFullOuter(input.toDF())
      .writeStream.format("memory").queryName("fouter_spec")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    def rows() = spark.table("fouter_spec")
      .select("purchase_id", "click_id").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
                 if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    assert(rows().contains((2L, 1L)), "matched pair must emit eagerly")
    assert(!rows().exists(r => r._1 == -1L || r._2 == -1L),
      "no null row on either side before the watermark proves absence")
    // pushers (join nothing) move the global watermark to ts(90) − 1h =
    // ts(30): PAST purchase 3's ts(20) — its null row is licensed — but a
    // full lookback SHORT of click 4's ts(30)+7d horizon, so the
    // click-side null must still be withheld: the asymmetry under test
    input.addData(Event(5, ts(90), 99, "click", 0.0),
                  Event(6, ts(90), 98, "purchase", 0.0))
    q.processAllAvailable()
    assert(rows().count(_ == ((3L, -1L))) == 1,
      s"purchase null must emit once the watermark passes its ts, got ${rows()}")
    assert(!rows().exists(_._2 == 4L),
      "click null must NOT emit before the watermark passes click_ts + lookback")
    // second push to ts(30)+week(+60 margin): click 4's absence is proven
    input.addData(Event(7, ts(30 + week + 120), 96, "click", 0.0),
                  Event(8, ts(30 + week + 120), 95, "purchase", 0.0))
    q.processAllAvailable(); q.stop()
    val after = rows()
    spark.catalog.dropTempView("fouter_spec")
    assert(after.count(_ == ((-1L, 4L))) == 1,
      s"exactly one null row for the unmatched click once licensed, got $after")
    assert(after.count(_._2 == 1L) == 1, "matched click must not also emit a null row")
    assert(after.count(_._1 == 2L) == 1, "matched purchase must not also emit a null row")
  }

  test("event-time-timeout sessionize closes a session when the watermark passes last+gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // user 10: two events 10 min apart — one open session
    input.addData(
      Event(1, ts(0), 10, "click", 1.0),
      Event(2, ts(10), 10, "click", 2.0))
    val q = Streaming.sessionizeEventTimeout(input.toDS())
      .writeStream.format("memory").queryName("sess_eto_spec")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    def sessions() = spark.table("sess_eto_spec").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSeq
    assert(sessions().isEmpty, "an open session must not emit before its timeout")
    // user 11's event pushes the watermark to ts(100) − gap = ts(70), past
    // user 10's last+gap = ts(40): the timeout fires and the session emits
    input.addData(Event(3, ts(100), 11, "click", 1.0))
    q.processAllAvailable(); q.stop()
    val got = sessions()
    spark.catalog.dropTempView("sess_eto_spec")
    assert(got == Seq((10L, ts(0), ts(10), 2L)),
      s"user 10's session must close by event-time timeout (and user 11's stay open), got $got")
  }

  test("transformWithState sessionizer closes by per-key timer when the watermark passes last+gap") {
    implicit val sqlCtx = spark.sqlContext
    // the state-v2 operator requires the RocksDB provider
    GraftSession.withConfs(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val input = MemoryStream[Event]
      // batch 1: user 10 has a gap-closed session AND an open one — the
      // gap close emits inline, the open one arms a timer at ts(50)+gap
      input.addData(
        Event(1, ts(0), 10, "click", 1.0),
        Event(2, ts(10), 10, "click", 2.0),
        Event(3, ts(50), 10, "click", 3.0))
      val q = Streaming.sessionizeTws(input.toDS())
        .writeStream.format("memory").queryName("sess_tws_spec")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      q.processAllAvailable()
      def sessions() = spark.table("sess_tws_spec").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
      assert(sessions() == Set((10L, ts(0), ts(10), 2L)),
        "the gap-closed session emits inline; the open one must wait for its timer")
      // user 11's event pushes the watermark to ts(200) − gap = ts(170),
      // past the open session's deadline ts(50)+30 = ts(80): the timer
      // fires and exactly that session emits
      input.addData(Event(4, ts(200), 11, "click", 1.0))
      q.processAllAvailable(); q.stop()
      val got = sessions()
      spark.catalog.dropTempView("sess_tws_spec")
      assert(got == Set((10L, ts(0), ts(10), 2L), (10L, ts(50), ts(50), 1L)),
        s"the timer must close the open session (and user 11's stay open), got $got")
    }
  }

  test("dynamic-gap session window: a long-gap event type extends the session") {
    // purchase at t0 carries a 60-min gap, so the view at t0+40 merges;
    // under the static 30-min gap the same pair is two sessions
    val ev = Seq(
      (1L, ts(0), "purchase"),
      (1L, ts(40), "view")
    ).toDF("user_id", "ts", "event_type")
    val dyn = ev.groupBy(col("user_id"),
        session_window(col("ts"),
          when(col("event_type") === "purchase", lit("60 minutes"))
            .otherwise(lit("30 minutes"))).as("w"))
      .agg(count(lit(1)).as("n")).collect()
    assert(dyn.length == 1 && dyn.head.getAs[Long]("n") == 2L,
      s"dynamic gap must merge the pair into one session; got ${dyn.toSeq}")
    val static = ev.groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n")).collect()
    assert(static.length == 2,
      s"static 30-min gap must split the pair; got ${static.toSeq}")
  }
}
