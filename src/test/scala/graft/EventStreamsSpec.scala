package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.streaming.{EventStreams, Evt}

/** MemoryStream-driven specs for the real Structured Streaming
  * pipelines (batch twins are oracle-checked separately).
  */
class EventStreamsSpec extends SparkTestBase {

  private def ts(minutes: Long): Timestamp = new Timestamp(1700000000000L + minutes * 60000L)

  test("tumblingAgg counts events into hourly windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Evt]
    val q = EventStreams.tumblingAgg(input.toDF())
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("append").start()
    input.addData(
      Evt(1, ts(0), 1, "click", 1.0),
      Evt(2, ts(10), 1, "click", 2.0),
      Evt(3, ts(70), 2, "view", 3.0))
    q.processAllAvailable()
    // second batch advances the watermark past the first windows so
    // append mode emits them
    input.addData(Evt(4, ts(400), 3, "click", 4.0))
    q.processAllAvailable(); q.stop()
    val out = spark.table("tumbling_out").collect()
      .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type"), r.getAs[Long]("n")))
    assert(out.exists { case (_, t, n) => t == "click" && n == 2 })
    assert(out.exists { case (_, t, n) => t == "view" && n == 1 })
  }

  test("streaming ohlcBars matches the batch q47 twin on real data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Evt].collect().sortBy(_.event_id)
    val input = MemoryStream[Evt]
    val q = EventStreams.ohlcBars(input.toDF())
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode("append").start()
    val (h1, h2) = evs.splitAt(evs.length / 2)
    input.addData(h1.toSeq); q.processAllAvailable()
    input.addData(h2.toSeq); q.processAllAvailable()
    // sentinel 5h past the max event time: watermark (2h) passes every
    // real bar's end, so append mode emits all of them; the sentinel's
    // own bar stays open and never appears
    val maxTs = evs.map(_.ts.getTime).max
    input.addData(Evt(-1L, new Timestamp(maxTs + 5L * 3600 * 1000), 0L, "click", 0.0))
    q.processAllAvailable(); q.stop()
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    def key(bar: String, t: String) = (bar, t)
    val got = spark.table("ohlc_out").collect().map { r =>
      key(fmt.format(r.getAs[Timestamp]("bar_start")), r.getAs[String]("event_type")) ->
        (r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
          r.getAs[Double]("close"), r.getAs[Long]("n_events"), r.getAs[Double]("volume"))
    }.toMap
    val expect = operators.Relational.q47OhlcBars(spark, sfDir).collect().map { r =>
      key(r.getAs[String]("bar_start"), r.getAs[String]("event_type")) ->
        (r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
          r.getAs[Double]("close"), r.getAs[Long]("n_events"), r.getAs[Double]("volume"))
    }.toMap
    assert(got == expect,
      s"streaming bars diverge: missing=${(expect.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- expect.keySet).take(3)} " +
        s"diff=${expect.collect { case (k, v) if got.get(k).exists(_ != v) => k }.take(3)}")
    assert(expect.nonEmpty)
  }

  test("streaming gapFillStream matches the batch q51 twin on closed hours") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Evt].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Evt]
    val q = EventStreams.gapFillStream(input.toDS())
      .writeStream.format("memory").queryName("gapfill_out")
      .outputMode("update").start()
    val third = evs.length / 3
    input.addData(evs.slice(0, third).toSeq); q.processAllAvailable()
    input.addData(evs.slice(third, 2 * third).toSeq); q.processAllAvailable()
    input.addData(evs.slice(2 * third, evs.length).toSeq); q.processAllAvailable()
    // cross-batch straggler for a long-closed hour: dropped, not
    // re-emitted — downstream sinks already consumed that history
    val n0 = spark.table("gapfill_out").count()
    val victim = evs.maxBy(_.ts.getTime)
    input.addData(Evt(-1L, new Timestamp(victim.ts.getTime - 48L * 3600 * 1000),
      victim.user_id, "click", 99.0))
    q.processAllAvailable(); q.stop()
    assert(spark.table("gapfill_out").count() == n0, "straggler emitted rows")
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val got = spark.table("gapfill_out").collect()
      .map(r => ((r.getAs[Long]("user_id"),
        fmt.format(new Timestamp(r.getAs[Long]("hour_us") / 1000))),
        (r.getAs[Double]("value"), r.getAs[Boolean]("is_filled")))).toMap
    // cumulative emissions = the batch twin minus each user's OPEN
    // (final observed) hour, which stays unemitted until closed
    val batch = operators.Relational.q51GapFill(spark, sfDir).collect()
      .map(r => ((r.getAs[Long]("user_id"), r.getAs[String]("hr")),
        (r.getAs[Double]("value"), r.getAs[Boolean]("is_filled"))))
    val lastHr = batch.groupBy(_._1._1).map { case (u, rs) => u -> rs.map(_._1._2).max }
    val expect = batch.filter { case ((u, hr), _) => hr != lastHr(u) }.toMap
    assert(got.size == expect.size,
      s"row counts differ: got ${got.size} want ${expect.size}")
    expect.foreach { case (k, v) =>
      assert(got(k) == v, s"$k: got ${got.get(k)} want $v") }
    assert(expect.count(_._2._2) > 0, "corpus produced no filled gaps")
  }

  test("streaming ewmaStream matches the batch q54 twin row for row") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Evt].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Evt]
    val q = EventStreams.ewmaStream(input.toDS())
      .writeStream.format("memory").queryName("ewma_out")
      .outputMode("update").start()
    val third = evs.length / 3
    input.addData(evs.slice(0, third).toSeq); q.processAllAvailable()
    input.addData(evs.slice(third, 2 * third).toSeq); q.processAllAvailable()
    input.addData(evs.slice(2 * third, evs.length).toSeq); q.processAllAvailable()
    // a cross-batch straggler must NOT emit (its smooth would rewrite
    // an order-defined lag window downstream already consumed)
    val n0 = spark.table("ewma_out").count()
    val victim = evs.maxBy(e => (e.ts.getTime, e.event_id))
    input.addData(Evt(-1L, new Timestamp(victim.ts.getTime - 1000L),
      victim.user_id, "click", 42.0))
    q.processAllAvailable(); q.stop()
    assert(spark.table("ewma_out").count() == n0, "straggler emitted a row")
    val got = spark.table("ewma_out").collect()
      .map(r => (r.getAs[Long]("event_id"),
        (r.getAs[Long]("user_id"), r.getAs[Long]("ts_us"),
          r.getAs[Long]("v_e2"), r.getAs[Long]("ewma_e2")))).toMap
    // per-event emission: cumulative output equals the batch twin
    // EXACTLY (every event smooths immediately; nothing stays open)
    val expect = operators.Relational.q54EwmaSmooth(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("event_id"),
        (r.getAs[Long]("user_id"), r.getAs[Long]("ts_us"),
          r.getAs[Long]("v_e2"), r.getAs[Long]("ewma_e2")))).toMap
    assert(got.size == expect.size,
      s"row counts differ: got ${got.size} want ${expect.size}")
    expect.foreach { case (k, v) =>
      assert(got(k) == v, s"event $k: got ${got.get(k)} want $v") }
  }

  test("streaming medianStream matches the batch q61 twin row for row") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Evt].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Evt]
    val q = EventStreams.medianStream(input.toDS())
      .writeStream.format("memory").queryName("median_out")
      .outputMode("update").start()
    val third = evs.length / 3
    input.addData(evs.slice(0, third).toSeq); q.processAllAvailable()
    input.addData(evs.slice(third, 2 * third).toSeq); q.processAllAvailable()
    input.addData(evs.slice(2 * third, evs.length).toSeq); q.processAllAvailable()
    val n0 = spark.table("median_out").count()
    val victim = evs.maxBy(e => (e.ts.getTime, e.event_id))
    input.addData(Evt(-1L, new Timestamp(victim.ts.getTime - 1000L),
      victim.user_id, "click", 42.0))
    q.processAllAvailable(); q.stop()
    assert(spark.table("median_out").count() == n0, "straggler emitted a row")
    val got = spark.table("median_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ts_us"),
        r.getAs[Long]("event_id")) ->
        (r.getAs[Long]("v_e2"), r.getAs[Long]("median_e2"),
          r.getAs[Long]("win_n"))).toMap
    val expect = operators.Relational.q61RollingMedian(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ts_us"),
        r.getAs[Long]("event_id")) ->
        (r.getAs[Long]("v_e2"), r.getAs[Long]("median_e2"),
          r.getAs[Long]("win_n"))).toMap
    assert(got.size == expect.size,
      s"row counts differ: got ${got.size} want ${expect.size}")
    expect.foreach { case (k, v) =>
      assert(got(k) == v, s"row $k: got ${got.get(k)} want $v") }
  }

  test("streaming transitionsStream rolls up to the batch q59 twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Evt].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Evt]
    val q = EventStreams.transitionsStream(input.toDS())
      .writeStream.format("memory").queryName("trans_out")
      .outputMode("update").start()
    val third = evs.length / 3
    input.addData(evs.slice(0, third).toSeq); q.processAllAvailable()
    input.addData(evs.slice(third, 2 * third).toSeq); q.processAllAvailable()
    input.addData(evs.slice(2 * third, evs.length).toSeq); q.processAllAvailable()
    // ordered delivery → the drop counter must read zero everywhere
    // (the measurable form of the stream/batch equivalence contract)
    val n0 = spark.table("trans_out").count()
    assert(spark.table("trans_out")
      .filter(col("dropped_before") =!= 0L).isEmpty,
      "in-order batches must not count drops")
    // a cross-batch straggler must neither emit nor corrupt state...
    val victim = evs.maxBy(e => (e.ts.getTime, e.event_id))
    input.addData(Evt(-1L, new Timestamp(victim.ts.getTime - 1000L),
      victim.user_id, "click", 42.0))
    q.processAllAvailable()
    assert(spark.table("trans_out").count() == n0, "straggler emitted a row")
    // cumulative (from, to) counts equal the batch operator exactly
    // (read BEFORE the drop-counter probe below adds its own event)
    val got = spark.table("trans_out").collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    // ...but it must be COUNTED: the victim user's next accepted event
    // reports the drop in dropped_before, so a consumer can see the
    // equivalence contract degrading instead of trusting it blind
    input.addData(Evt(victim.event_id + 1000000L,
      new Timestamp(victim.ts.getTime + 2000L), victim.user_id, "view", 1.0))
    q.processAllAvailable(); q.stop()
    val probe = spark.table("trans_out")
      .filter(col("event_id") === (victim.event_id + 1000000L)).collect()
    assert(probe.length == 1 && probe.head.getAs[Long]("dropped_before") == 1L,
      s"next accepted emission must carry the drop count: ${probe.toSeq}")
    val expect = operators.Relational.q59MarkovTransitions(spark, sfDir)
      .collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")) ->
        r.getAs[Long]("n_transitions")).toMap
    assert(got == expect,
      s"transition counts diverged: extra=${(got.toSet -- expect.toSet).take(3)} " +
        s"missing=${(expect.toSet -- got.toSet).take(3)}")
  }

  test("streaming attributionStream rolls up to the batch q58 twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Evt].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Evt]
    val q = EventStreams.attributionStream(input.toDS())
      .writeStream.format("memory").queryName("attrib_out")
      .outputMode("update").start()
    val third = evs.length / 3
    input.addData(evs.slice(0, third).toSeq); q.processAllAvailable()
    input.addData(evs.slice(third, 2 * third).toSeq); q.processAllAvailable()
    input.addData(evs.slice(2 * third, evs.length).toSeq); q.processAllAvailable()
    // straggler: an old purchase must not emit (its touch context is
    // order-defined history a downstream report already consumed)
    val n0 = spark.table("attrib_out").count()
    val victim = evs.maxBy(e => (e.ts.getTime, e.event_id))
    input.addData(Evt(-1L, new Timestamp(victim.ts.getTime - 1000L),
      victim.user_id, "purchase", 42.0))
    q.processAllAvailable(); q.stop()
    assert(spark.table("attrib_out").count() == n0, "straggler emitted a row")
    val got = spark.table("attrib_out").collect()
      .map(r => (r.getAs[String]("channel"), r.getAs[Long]("v_e2")))
      .groupBy(_._1).map { case (ch, g) => ch -> (g.size.toLong, g.map(_._2).sum) }
    val expect = operators.Relational.q58Attribution(spark, sfDir).collect()
      .map(r => r.getAs[String]("channel") ->
        (r.getAs[Long]("purchases"), r.getAs[Long]("revenue_e2"))).toMap
    assert(got == expect, s"got $got\nwant $expect")
  }

  test("streaming driftStream converges to the batch q55 twin in any order") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Evt].collect()
    // REVERSED event-time order on purpose: histogram increments
    // commute, so unlike the lag-window twins arrival order must not
    // matter
    val shuffled = evs.sortBy(e => (-e.ts.getTime, e.event_id))
    val input = MemoryStream[Evt]
    val q = EventStreams.driftStream(input.toDS())
      .writeStream.format("memory").queryName("drift_out")
      .outputMode("update").start()
    val third = shuffled.length / 3
    input.addData(shuffled.slice(0, third).toSeq); q.processAllAvailable()
    input.addData(shuffled.slice(third, 2 * third).toSeq); q.processAllAvailable()
    input.addData(shuffled.slice(2 * third, shuffled.length).toSeq); q.processAllAvailable()
    q.stop()
    // the LATEST emission per type is the running-drift row over
    // everything consumed = the batch twin over the full corpus
    val emissions = spark.table("drift_out").collect()
      .map(r => (r.getAs[String]("event_type"),
        (r.getAs[Long]("n_base"), r.getAs[Long]("n_curr"),
          r.getAs[Long]("l1_ppm"), r.getAs[Long]("chi2_score"))))
    // "latest" = the emission with the largest consumed count (state
    // only grows; memory-sink row order is not guaranteed)
    val latest = emissions.groupBy(_._1)
      .map { case (t, rs) => t -> rs.map(_._2).maxBy(v => v._1 + v._2) }
    val expect = operators.Relational.q55DriftChi2(spark, sfDir).collect()
      .map(r => (r.getAs[String]("event_type"),
        (r.getAs[Long]("n_base"), r.getAs[Long]("n_curr"),
          r.getAs[Long]("l1_ppm"), r.getAs[Long]("chi2_score")))).toMap
    assert(latest.keySet == expect.keySet)
    expect.foreach { case (t, v) =>
      assert(latest(t) == v, s"type $t: got ${latest.get(t)} want $v") }
    // every batch emits one running row per touched type
    assert(emissions.length > expect.size, "monitor emitted only once per type")
  }

  test("streaming sweepStream matches the batch q50 twin on closed hours") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Evt].collect().toSeq
    val bnds = EventStreams.intervalBoundaries(spark.createDataset(evs))
      .collect().sortBy(b => (b.t_us, b.delta)).toSeq
    val input = MemoryStream[graft.streaming.Bnd]
    val q = EventStreams.sweepStream(input.toDS())
      .writeStream.format("memory").queryName("sweep_out")
      .outputMode("update").start()
    val third = bnds.length / 3
    input.addData(bnds.slice(0, third)); q.processAllAvailable()
    input.addData(bnds.slice(third, 2 * third)); q.processAllAvailable()
    input.addData(bnds.slice(2 * third, bnds.length)); q.processAllAvailable()
    q.stop()
    val got = spark.table("sweep_out").collect()
      .map(r => ((r.getAs[String]("day"), r.getAs[Long]("hr")),
        (r.getAs[Long]("max_concurrency"), r.getAs[Long]("n_boundaries")))).toMap
    // an hour is CLOSED once any boundary (emittable or not — the
    // clipped midnight end counts) lands in a later hour bucket of the
    // same day key; cumulative emissions must equal the batch twin on
    // exactly those hours
    val HourUs = 3600000000L
    val maxBucket = bnds.groupBy(_.day)
      .map { case (d, bs) => d -> bs.map(_.t_us / HourUs).max }
    val expect = operators.Relational.q50IntervalSweep(spark, sfDir).collect()
      .map(r => ((r.getAs[String]("day"), r.getAs[Long]("hr")),
        (r.getAs[Long]("max_concurrency"), r.getAs[Long]("n_boundaries"))))
      .filter { case ((dayStr, hr), _) =>
        val day = java.time.LocalDate.parse(dayStr).toEpochDay
        day * 24 + hr < maxBucket(day)
      }.toMap
    assert(got.size == expect.size,
      s"row counts differ: got ${got.size} want ${expect.size} " +
        s"extra=${(got.keySet -- expect.keySet).take(3)}")
    expect.foreach { case (k, v) =>
      assert(got(k) == v, s"$k: got ${got.get(k)} want $v") }
    assert(expect.size > 500, "corpus closed too few hours to be meaningful")
  }

  test("file-source stream: parquet drop directory feeds tumblingAgg") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_in").toString
    Seq(
      Evt(1, ts(0), 1, "click", 1.0),
      Evt(2, ts(5), 2, "click", 2.0),
      Evt(3, ts(70), 1, "view", 3.0)).toDS()
      .write.mode("overwrite").parquet(dir)
    val stream = EventStreams.fromParquetDir(spark, dir,
      "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")
    val q = EventStreams.tumblingAgg(stream)
      .writeStream.format("memory").queryName("file_tumbling_out")
      .outputMode("append").start()
    q.processAllAvailable()
    // second file advances the watermark so the first windows emit
    Seq(Evt(4, ts(400), 3, "click", 4.0)).toDS().write.mode("append").parquet(dir)
    q.processAllAvailable(); q.stop()
    val out = spark.table("file_tumbling_out").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSet
    assert(out.contains(("click", 2L)) && out.contains(("view", 1L)), s"got $out")
  }

  test("dedupByEventId drops duplicate ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Evt]
    val q = EventStreams.dedupByEventId(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    input.addData(
      Evt(1, ts(0), 1, "click", 1.0),
      Evt(1, ts(1), 1, "click", 1.0),
      Evt(2, ts(2), 1, "view", 2.0))
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup_out").count() == 2)
  }

  test("streaming sessionize matches the batch gaps-and-islands twin on real data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evts = sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Evt].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Evt]
    val q = EventStreams.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("session_eq_out")
      .outputMode("append").start()
    input.addData(evts.toSeq)
    q.processAllAvailable()
    // far-future event advances the watermark so every open session
    // times out and emits
    val maxTs = evts.map(_.ts.getTime).max
    input.addData(Evt(-1, new Timestamp(maxTs + 86400000L * 30), -1, "noop", 0.0))
    q.processAllAvailable()
    input.addData(Evt(-2, new Timestamp(maxTs + 86400000L * 60), -1, "noop", 0.0))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("session_eq_out")
      .filter(col("user_id") >= 0)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"), r.getAs[Long]("end_us"),
        r.getAs[Long]("n_events"), math.round(r.getAs[Double]("total_value") * 100)))
      .toSet
    val batch = operators.StreamingTwins.stSessionize(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"), r.getAs[Long]("end_us"),
        r.getAs[Long]("n_events"), math.round(r.getAs[Double]("total_value") * 100)))
      .toSet
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} onlyStream=${(streamed -- batch).take(3)} onlyBatch=${(batch -- streamed).take(3)}")
  }

  test("streaming anomalyDetect matches a driver replay of the online z-score") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evts = sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Evt].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Evt]
    val q = EventStreams.anomalyDetect(input.toDS())
      .writeStream.format("memory").queryName("anom_out")
      .outputMode("update").start()
    val (b1, rest) = evts.splitAt(evts.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    Seq(b1, b2, b3).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    // a cross-batch straggler for a long-closed hour must be DROPPED
    // (watermark semantics), not close the open hour early or re-fold
    // state — replayed duplicates/corruption would surface as extra or
    // conflicting rows in the sorted-Seq comparison below
    input.addData(evts.head.copy(event_id = 999999901L))
    q.processAllAvailable()
    // then CLOSE the straggler user's open hour with a fresh event two
    // hours past the stream end: the open hour's count now EMITS, so a
    // straggler that had silently polluted the open-hour count (which
    // the drop-only check above cannot see — an unclosed hour never
    // emits) would surface as a wrong n in that row
    val closer = Evt(999999902L,
      new Timestamp(evts.map(_.ts.getTime).max + 7200000L),
      evts.head.user_id, "noop", 0.0)
    input.addData(closer)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("anom_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("window_start_us"),
        r.getAs[Long]("n"), r.getAs[Long]("z_e4"), r.getAs[Boolean]("is_anomaly")))
      .toSeq.sorted
    // driver replay of the same online definition: per user, hours in
    // order; each CLOSED hour scores against the Welford aggregate of
    // the hours before it (the last, still-open hour never emits)
    def hourUs(e: Evt): Long = {
      val us = math.floorDiv(e.ts.getTime, 1000L) * 1000000L + e.ts.getNanos / 1000L
      math.floorDiv(us, 3600000000L) * 3600000000L
    }
    // replay over the true event sequence including the closer, but
    // NEVER the straggler — its correct fate is the drop
    val expected = (evts :+ closer).groupBy(_.user_id).toSeq.flatMap { case (uid, es) =>
      val hours = es.groupBy(hourUs).toSeq.sortBy(_._1)
        .map { case (h, hs) => (h, hs.length.toLong) }
      var (nC, mean, m2) = (0L, 0.0, 0.0)
      hours.dropRight(1).map { case (h, n) =>
        val z = if (nC >= 2 && m2 > 0) (n - mean) / math.sqrt(m2 / (nC - 1)) else 0.0
        val zE4 = math.floor(z * 10000 + 0.5).toLong
        nC += 1
        val delta = n - mean
        mean += delta / nC
        m2 += delta * (n - mean)
        (uid, h, n, zE4, math.abs(zE4) >= 20000L)
      }
    }.toSeq.sorted
    // sorted-Seq equality (NOT sets): an exactly-duplicated emission —
    // the failure mode of a replayed batch or a mishandled straggler —
    // must fail the comparison, and exactly-once-per-closed-hour is
    // the contract under test
    assert(streamed == expected,
      s"streamed=${streamed.size} expected=${expected.size} " +
        s"onlyStream=${(streamed.toSet -- expected.toSet).take(3)} " +
        s"onlyExp=${(expected.toSet -- streamed.toSet).take(3)}")
    // the corpus produces real flags and real state depth
    assert(streamed.exists(_._5) && streamed.exists(!_._5))
  }

  test("streaming cdcApply matches the batch etl_cdc_apply twin on real data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evts = sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Evt].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Evt]
    val q = EventStreams.cdcApply(input.toDS())
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode("update").start()
    // deliver in three micro-batches — per-key state must carry across
    val (b1, rest) = evts.splitAt(evts.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    Seq(b1, b2, b3).foreach { b =>
      input.addData(b.toSeq); q.processAllAvailable()
    }
    q.stop()
    // final emission per key = the row with the full op count
    val byKey = spark.table("cdc_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("last_op"),
        math.round(r.getAs[Double]("final_value") * 100), r.getAs[Long]("last_ts_us"),
        r.getAs[Long]("n_ops"), r.getAs[Boolean]("deleted")))
      .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._5) }
    val streamed = byKey.filterNot(_._6)
      .map { case (u, op, v, ts, n, _) => (u, op, v, ts, n) }.toSet
    val batch = operators.FundEtl.etlCdcApply(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("last_op"),
        math.round(r.getAs[Double]("final_value") * 100), r.getAs[Long]("last_ts_us"),
        r.getAs[Long]("n_ops")))
      .toSet
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} " +
        s"onlyStream=${(streamed -- batch).take(3)} onlyBatch=${(batch -- streamed).take(3)}")
    // deleted keys really are suppressed from the batch view
    assert(byKey.count(_._6) > 0, "corpus should contain keys whose last op is D")
  }

  test("bucketed-table sink: merge semantics, bucket metadata, shuffle-free snapshot side") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tbl = "events_bkt_snap"
    Seq(tbl, tbl + "_staging").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      new scala.reflect.io.Directory(new java.io.File(s"spark-warehouse/$t"))
        .deleteRecursively()
    }
    val ck = java.nio.file.Files.createTempDirectory("graft_bkt_ck").toString
    val input = MemoryStream[Evt]
    val q = EventStreams.upsertToBucketedTable(input.toDF(), tbl, ck)
    input.addData(
      Evt(1, ts(0), 1, "click", 1.0),
      Evt(2, ts(1), 2, "view", 2.0))
    q.processAllAvailable()
    // second batch restates key 1 and adds key 3
    input.addData(
      Evt(1, ts(10), 1, "click", 9.0),
      Evt(3, ts(11), 3, "purchase", 3.0))
    q.processAllAvailable(); q.stop()
    val snap = spark.table(tbl).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value"))).toSet
    assert(snap == Set((1L, 9.0), (2L, 2.0), (3L, 3.0)), s"got $snap")
    // the swapped-in table carries the bucket spec
    val ddl = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl").collect()
      .map(r => s"${r.getString(0)}=${r.getString(1)}").mkString(";")
    assert(ddl.contains("Num Buckets=8"), s"missing bucket spec: $ddl")
    // the merge join reads the snapshot in place: with broadcast off,
    // the only hash exchange is on the incoming-batch side
    val noBcast = spark.sessionState.conf.getConfString(
      "spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val latest = Seq((1L, 42.0)).toDF("k", "v")
      val plan = spark.table(tbl)
        .join(latest, col("event_id") === col("k"), "left_anti")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(event_id"),
        s"snapshot side should not shuffle:\n$plan")
      assert(plan.contains("Exchange hashpartitioning(k"),
        s"batch side should hash into the buckets:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", noBcast)
  }

  test("dedup-index maintenance: per-batch pair emission equals the batch recompute delta") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tbl = "dd_band_index"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    new scala.reflect.io.Directory(new java.io.File(s"spark-warehouse/$tbl"))
      .deleteRecursively()
    val pairsDir = java.nio.file.Files.createTempDirectory("graft_ddidx_pairs").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_ddidx_ck").toString
    // sf0.01 has a real near-dup pair graph (25 LSH pairs); stream it
    // in three batches and require each batch to emit EXACTLY the
    // full-recompute delta — no missed cross-batch pairs, no recompute
    // of already-indexed ones
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val batches = Seq(
      docs.filter(_._1 % 3 == 0), docs.filter(_._1 % 3 == 1), docs.filter(_._1 % 3 == 2))
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        math.round(r.getAs[Double]("est_jaccard") * 10000))).toSet
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.dedupIndexMaintain(
      input.toDF().toDF("doc_id", "text"), tbl, pairsDir, ck)
    var seen = Set.empty[(Long, Long, Long)]
    var prefix = Array.empty[(Long, String)]
    batches.foreach { b =>
      input.addData(b.toSeq)
      q.processAllAvailable()
      val prev = prefix
      prefix = prefix ++ b
      val expectDelta = pairSet(operators.Dedup.minhashPairsOf(
          prefix.toSeq.toDF("doc_id", "text"))) --
        (if (prev.isEmpty) Set.empty
         else pairSet(operators.Dedup.minhashPairsOf(prev.toSeq.toDF("doc_id", "text"))))
      val cumulative = pairSet(
        spark.read.option("recursiveFileLookup", "true").parquet(pairsDir))
      val gotDelta = cumulative -- seen
      assert(gotDelta == expectDelta,
        s"batch delta mismatch: missing=${(expectDelta -- gotDelta).take(3)} " +
          s"extra=${(gotDelta -- expectDelta).take(3)}")
      seen = cumulative
    }
    q.stop()
    // the summed deltas ARE the full pair graph, and it is non-trivial
    val full = pairSet(operators.Dedup.minhashPairsOf(docs.toSeq.toDF("doc_id", "text")))
    assert(seen == full, s"stream total ${seen.size} != batch recompute ${full.size}")
    assert(full.nonEmpty)
    // REPLAY idempotence (the foreachBatch contract): a fully-applied
    // batch id re-runs as a no-op — no duplicate pairs, no duplicate
    // index rows
    def readPairs() = pairSet(
      spark.read.option("recursiveFileLookup", "true").parquet(pairsDir))
    val idxRows = spark.table(tbl).count()
    EventStreams.dedupIndexApplyBatch(
      batches(2).toSeq.toDF("doc_id", "text"), 2L, tbl, pairsDir)
    assert(readPairs() == full, "marker-guarded replay changed the pairs output")
    assert(spark.table(tbl).count() == idxRows,
      "marker-guarded replay appended index rows")
    // crash-window replay (index appended, marker lost): the pairs
    // output stays exactly-once because the batch directory is
    // rewritten whole; the index is at-least-once (duplicate band rows
    // absorbed by the probe's canonical collapse), never corrupted
    assert(new java.io.File(s"$pairsDir/batch-2/_APPLIED").delete())
    EventStreams.dedupIndexApplyBatch(
      batches(2).toSeq.toDF("doc_id", "text"), 2L, tbl, pairsDir)
    assert(readPairs() == full, "crash-window replay changed the pairs output")
    // the index table is bucketed on the probe key, so the stored side
    // of the band join never reshuffles
    val ddl = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl").collect()
      .map(r => s"${r.getString(0)}=${r.getString(1)}").mkString(";")
    assert(ddl.contains("Num Buckets=8") && ddl.contains("band_key"),
      s"index table lost its bucket spec: $ddl")
  }

  test("ann-index maintenance: per-batch top-k equals a driver replay of the IVF probe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tbl = "ann_ivf_index"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    new scala.reflect.io.Directory(new java.io.File(s"spark-warehouse/$tbl"))
      .deleteRecursively()
    val topkDir = java.nio.file.Files.createTempDirectory("graft_annidx_topk").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_annidx_ck").toString
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val centroids: Seq[(Long, Seq[Float])] =
      vecs.take(8).map { case (id, e) => (id, e.toSeq) }.toSeq
    val batches = Seq(
      vecs.filter(_._1 % 3 == 0), vecs.filter(_._1 % 3 == 1), vecs.filter(_._1 % 3 == 2))
    // the SAME sequential double recurrence as the native CosineSimilarity
    // expression, so the replay is bit-identical, not approximately equal
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 0.0 else dot / denom
    }
    def q4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000.0
    def assign(e: Array[Float]): Long =
      centroids.map { case (id, c) => (cos(e, c.toArray), id) }
        .maxBy { case (s, id) => (s, -id) }._2
    val input = MemoryStream[(Long, Array[Float])]
    val q = EventStreams.annIndexMaintain(
      input.toDF().toDF("vec_id", "embedding"), centroids, tbl, topkDir, ck)
    var stored = Array.empty[(Long, Array[Float])]
    batches.zipWithIndex.foreach { case (b, bi) =>
      input.addData(b.toSeq)
      q.processAllAvailable()
      // driver replay: probes = 4 nearest centroids per new vector,
      // candidates = stored vectors in probed lists, exact top-5
      val expected = (if (stored.isEmpty) Seq.empty else b.toSeq.flatMap { case (qid, qe) =>
        val probed = centroids
          .map { case (cid, c) => (cos(qe, c.toArray), cid) }
          .sortBy { case (s, cid) => (-s, cid) }.take(4).map(_._2).toSet
        val cands = stored.filter { case (_, se) => probed.contains(assign(se)) }
        cands.map { case (sid, se) => (sid, cos(qe, se)) }
          .sortBy { case (sid, s) => (-s, sid) }.take(5).zipWithIndex
          .map { case ((sid, s), r) => (qid, (r + 1).toLong, sid, q4(s)) }
      }).toSet
      val got = spark.read.parquet(s"$topkDir/batch-$bi").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim"))).toSet
      assert(got == expected,
        s"batch $bi: missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
      stored = stored ++ b
    }
    q.stop()
    // REPLAY idempotence: a fully-applied batch id re-runs as a no-op
    val idxRows = spark.table(tbl).count()
    val before = spark.read.option("recursiveFileLookup", "true")
      .parquet(topkDir).count()
    EventStreams.annIndexApplyBatch(
      batches(2).toSeq.toDF("vec_id", "embedding"), 2L, centroids, tbl,
      topkDir, 4, 5, 8)
    assert(spark.table(tbl).count() == idxRows,
      "marker-guarded replay appended index rows")
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(topkDir).count() == before,
      "marker-guarded replay changed the top-k output")
    // CRASH-WINDOW replay (index appended, marker lost): batch 2's rows
    // are already in the index when the batch re-probes — the rewritten
    // output must STILL equal the pre-crash output (no self-matches, no
    // intra-batch neighbors, duplicate stored rows collapsed)
    def batch2Out() = spark.read.parquet(s"$topkDir/batch-2").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim"))).toSet
    val preCrash = batch2Out()
    assert(new java.io.File(s"$topkDir/batch-2/_APPLIED").delete())
    EventStreams.annIndexApplyBatch(
      batches(2).toSeq.toDF("vec_id", "embedding"), 2L, centroids, tbl,
      topkDir, 4, 5, 8)
    assert(batch2Out() == preCrash,
      "crash-window replay changed the top-k output")
    // ...and the replay detected the already-applied append: the index
    // must NOT gain a second copy of batch 2 (unbounded growth across
    // crash cycles otherwise)
    assert(spark.table(tbl).count() == idxRows,
      "crash-window replay appended a duplicate batch copy")
    // the index table is bucketed on the probe key
    val ddl = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl").collect()
      .map(r => s"${r.getString(0)}=${r.getString(1)}").mkString(";")
    assert(ddl.contains("Num Buckets=8") && ddl.contains("cent_id"),
      s"index table lost its bucket spec: $ddl")
  }

  test("statement pipeline flagship: per-batch extract/dedup/ann outputs equal the batch twins' deltas") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import spark.implicits._
    val srcRoot = "/root/repo/data/statements"
    val root = Files.createTempDirectory("graft_flagship_src").toString
    val extractedDir = Files.createTempDirectory("graft_flagship_ext").toString
    val pairsDir = Files.createTempDirectory("graft_flagship_pairs").toString
    val topkDir = Files.createTempDirectory("graft_flagship_topk").toString
    val ck = Files.createTempDirectory("graft_flagship_ck").toString
    val ddTbl = "flagship_band_index"
    val annTbl = "flagship_ivf_index"
    Seq(ddTbl, annTbl).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      new scala.reflect.io.Directory(new java.io.File(s"spark-warehouse/$t"))
        .deleteRecursively()
    }
    def listDate(d: String): Seq[String] =
      new java.io.File(s"$srcRoot/$d").list().sorted.toSeq
    def drop(d: String, names: Seq[String]): Unit = {
      Files.createDirectories(Paths.get(s"$root/$d"))
      names.foreach(n => Files.copy(Paths.get(s"$srcRoot/$d/$n"),
        Paths.get(s"$root/$d/$n"), StandardCopyOption.REPLACE_EXISTING))
    }
    val d16 = listDate("20240116")
    val batches: Seq[(String, Seq[String])] = Seq(
      ("20240115", listDate("20240115")),
      ("20240116", d16.take(d16.size / 2)),
      ("20240116", d16.drop(d16.size / 2)))
    // a genuine duplicate (a re-transmitted statement under a new file
    // name) lands in the LAST batch, so the dedup stage must emit a
    // real cross-batch pair against the batch-0 original — identical
    // content makes the LSH collision deterministic (all 8 bands),
    // where a one-line edit would leave a ~9% no-collision chance;
    // template statements alone never clear the 0.5 est-jaccard bar
    // (whole lines are single tokens; every value differs)
    val nearDupName = "haomai_shengou_retrans_20240116.txt"
    def mkNearDup(): Unit = {
      Files.copy(Paths.get(s"$srcRoot/20240115/haomai_shengou_20240115.txt"),
        Paths.get(s"$root/20240116/$nearDupName"),
        StandardCopyOption.REPLACE_EXISTING)
      ()
    }

    // deterministic quantizer: embeddings of four fixed 20240115 files,
    // computed with the SAME declarative featurizer the pipeline uses
    def embed(df: org.apache.spark.sql.DataFrame) = df.select(
      org.apache.spark.sql.functions.xxhash64(col("file_name")).as("id"),
      col("file_name"),
      graft.functions.VectorFunctions.hashedTextEmbedding(col("content"))
        .as("embedding"))
    val seedNames = listDate("20240115").take(4).toSet
    val centroids: Seq[(Long, Seq[Float])] = embed(
        operators.FundEtl.loadStatements(spark, srcRoot))
      .filter(col("file_name").isin(seedNames.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](2))).sortBy(_._1).toSeq

    // bit-identical driver replay helpers (same recurrences as the
    // native CosineSimilarity expression / topkPresent)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 0.0 else dot / denom
    }
    def q4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000.0
    def assign(e: Seq[Float]): Long =
      centroids.map { case (id, c) => (cos(e, c), id) }
        .maxBy { case (s, id) => (s, -id) }._2
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        math.round(r.getAs[Double]("est_jaccard") * 10000))).toSet
    def docsOf(names: Set[String]) = operators.FundEtl
      .loadStatements(spark, root)
      .filter(col("file_name").isin(names.toSeq: _*))
      .select(org.apache.spark.sql.functions.xxhash64(col("file_name"))
        .as("doc_id"), col("content").as("text"))

    // one query restart per drop (same checkpoint): the continuous
    // trigger would otherwise fire mid-copy and split a drop across
    // micro-batches; a restart drains all new files as ONE batch, so
    // batch ids deterministically track drops
    def startQ() = graft.streaming.EventStreams.statementPipeline(spark, root,
      extractedDir, ddTbl, pairsDir, centroids, annTbl, topkDir, ck)
    var seenPairs = Set.empty[(Long, Long, Long)]
    var seenNames = Set.empty[String]
    var stored = Seq.empty[(Long, Seq[Float])]
    batches.zipWithIndex.foreach { case ((date, names), bi) =>
      drop(date, names)
      if (bi == 2) mkNearDup()
      val q = startQ()
      q.processAllAvailable()
      q.stop()
      val newNames = names.toSet ++
        (if (bi == 2) Set(nearDupName) else Set.empty[String])
      // 1. EXTRACT delta == the batch ingest operator on the same files
      //    (extraction is per-file stateless, so filtering is exact)
      val got = spark.read.parquet(s"$extractedDir/batch-$bi")
        .collect().map(_.toSeq).toSet
      val expect = operators.FundEtl.ingestFrom(spark, root)
        .filter(col("file_name").isin(newNames.toSeq: _*))
        .collect().map(_.toSeq).toSet
      assert(got == expect, s"batch $bi extract delta diverges from batch twin")
      // 2. DEDUP pairs delta == full-recompute delta over content docs
      val cumNames = seenNames ++ newNames
      val expectDelta = pairSet(operators.Dedup.minhashPairsOf(docsOf(cumNames))) --
        (if (seenNames.isEmpty) Set.empty
         else pairSet(operators.Dedup.minhashPairsOf(docsOf(seenNames))))
      val cumulative = pairSet(spark.read
        .option("recursiveFileLookup", "true").parquet(pairsDir))
      assert(cumulative -- seenPairs == expectDelta,
        s"batch $bi dedup delta: missing=${(expectDelta -- (cumulative -- seenPairs)).take(3)}")
      seenPairs = cumulative; seenNames = cumNames
      // 3. ANN top-k == driver replay of the IVF probe over the stored set
      val batchVecs = embed(operators.FundEtl.loadStatements(spark, root))
        .filter(col("file_name").isin(newNames.toSeq: _*))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](2))).sortBy(_._1).toSeq
      val expectTopk = (if (stored.isEmpty) Seq.empty
        else batchVecs.flatMap { case (qid, qe) =>
          val probed = centroids.map { case (cid, c) => (cos(qe, c), cid) }
            .sortBy { case (s, cid) => (-s, cid) }.take(2).map(_._2).toSet
          stored.filter { case (_, se) => probed.contains(assign(se)) }
            .map { case (sid, se) => (sid, cos(qe, se)) }
            .sortBy { case (sid, s) => (-s, sid) }.take(3).zipWithIndex
            .map { case ((sid, s), r) => (qid, (r + 1).toLong, sid, q4(s)) }
        }).toSet
      val gotTopk = spark.read.parquet(s"$topkDir/batch-$bi").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim"))).toSet
      assert(gotTopk == expectTopk, s"batch $bi ann delta: " +
        s"missing=${(expectTopk -- gotTopk).take(3)} extra=${(gotTopk -- expectTopk).take(3)}")
      stored = stored ++ batchVecs
    }
    // the chain produced real work: a non-trivial pair graph (statement
    // templates repeat across dates/platforms) and real neighbor lists
    assert(seenPairs.nonEmpty, "flagship corpus produced no near-dup pairs")
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(topkDir).count() > 0)
    // CRASH-WINDOW replay of the LAST batch: lose both stage markers
    // (the worst crash point — indexes appended, markers not durable)
    // and re-apply; every artifact must be byte-equal, and the ANN
    // index must not gain a duplicate batch copy
    val lastNames = batches(2)._2.toSet + nearDupName
    val replayBatch = operators.FundEtl.loadStatements(spark, root)
      .filter(col("file_name").isin(lastNames.toSeq: _*))
    val preExt = spark.read.parquet(s"$extractedDir/batch-2")
      .collect().map(_.toSeq).toSet
    val prePairs = pairSet(spark.read
      .option("recursiveFileLookup", "true").parquet(pairsDir))
    def topk2() = spark.read.parquet(s"$topkDir/batch-2").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim"))).toSet
    val preTopk = topk2()
    val annRows = spark.table(annTbl).count()
    assert(new java.io.File(s"$pairsDir/batch-2/_APPLIED").delete())
    assert(new java.io.File(s"$topkDir/batch-2/_APPLIED").delete())
    graft.streaming.EventStreams.statementPipelineApplyBatch(replayBatch, 2L,
      extractedDir, ddTbl, pairsDir, centroids, annTbl, topkDir, 2, 3)
    assert(spark.read.parquet(s"$extractedDir/batch-2")
      .collect().map(_.toSeq).toSet == preExt, "replay changed the extract output")
    assert(pairSet(spark.read.option("recursiveFileLookup", "true")
      .parquet(pairsDir)) == prePairs, "replay changed the pair output")
    assert(topk2() == preTopk, "replay changed the ann output")
    assert(spark.table(annTbl).count() == annRows,
      "crash-window replay appended a duplicate ANN batch copy")
    // ASYMMETRIC crash: stage 2 (dedup) completed, stage 3 (ann) lost
    // its marker — the replay must short-circuit the completed stage
    // (no duplicate band-index rows) while re-running only the ann
    // stage to the same output
    val ddRows = spark.table(ddTbl).count()
    assert(new java.io.File(s"$topkDir/batch-2/_APPLIED").delete())
    graft.streaming.EventStreams.statementPipelineApplyBatch(replayBatch, 2L,
      extractedDir, ddTbl, pairsDir, centroids, annTbl, topkDir, 2, 3)
    assert(spark.table(ddTbl).count() == ddRows,
      "asymmetric replay re-appended the completed dedup stage")
    assert(topk2() == preTopk, "asymmetric replay changed the ann output")
    assert(spark.table(annTbl).count() == annRows,
      "asymmetric replay appended a duplicate ANN batch copy")
  }

  test("statement batch: a failed stage leaves no marker and no running job; the replay converges") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.xxhash64
    // the two dated folders, plus a re-transmitted batch-0 statement in
    // batch 1 so the dedup stage has a real cross-batch pair to emit
    val stmts = Files.createTempDirectory("graft_fault_src").toString
    Seq("20240115", "20240116").foreach { d =>
      Files.createDirectories(Paths.get(s"$stmts/$d"))
      new java.io.File(s"data/statements/$d").listFiles().foreach { f =>
        Files.copy(f.toPath, Paths.get(s"$stmts/$d/${f.getName}")) }
    }
    Files.copy(Paths.get("data/statements/20240115/haomai_shengou_20240115.txt"),
      Paths.get(s"$stmts/20240116/haomai_shengou_retrans_20240116.txt"))
    def batchOf(date: String) = operators.FundEtl.loadStatements(spark, stmts)
      .filter(col("batch_date") === date)
    val centroids: Seq[(Long, Seq[Float])] = batchOf("20240115")
      .select(xxhash64(col("file_name")),
        graft.functions.VectorFunctions.hashedTextEmbedding(col("content")))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).take(4).toSeq
    final case class Run(ext: String, pairs: String, topk: String, dd: String, ann: String)
    def fresh(name: String): Run = {
      val run = Run(Files.createTempDirectory(s"graft_${name}_ext").toString,
        Files.createTempDirectory(s"graft_${name}_pairs").toString,
        Files.createTempDirectory(s"graft_${name}_topk").toString,
        s"${name}_band_index", s"${name}_ivf_index")
      Seq(run.dd, run.ann).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        new scala.reflect.io.Directory(new java.io.File(s"spark-warehouse/$t")).deleteRecursively()
      }
      run
    }
    def applyBatch(r: Run, date: String, id: Long): Unit =
      EventStreams.statementPipelineApplyBatch(batchOf(date), id, r.ext, r.dd,
        r.pairs, centroids, r.ann, r.topk, 2, 3)
    def outputs(r: Run) = {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      (rows(spark.read.parquet(s"${r.ext}/batch-1")),
        rows(spark.read.option("recursiveFileLookup", "true").parquet(r.pairs)),
        rows(spark.read.parquet(s"${r.topk}/batch-1")),
        rows(spark.table(r.dd)), rows(spark.table(r.ann)))
    }
    val clean = fresh("fault_free")
    val faulty = fresh("faulted")
    Seq(clean, faulty).foreach(applyBatch(_, "20240115", 0L))
    applyBatch(clean, "20240116", 1L)

    // the fault: the manifest stage's parent path is a regular file
    val ext = Paths.get(faulty.ext)
    val aside = Paths.get(faulty.ext + ".aside")
    Files.move(ext, aside)
    Files.createFile(ext)
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    val since = System.currentTimeMillis()
    try {
      intercept[Exception](applyBatch(faulty, "20240116", 1L))
      val returned = System.currentTimeMillis()
      Seq(faulty.pairs, faulty.topk).foreach { d =>
        assert(!new java.io.File(s"$d/batch-1/_APPLIED").exists, s"$d: marker after a failed batch")
      }
      assert(log.runningAt(since, returned).isEmpty, "a sibling stage's job outlived the call")
      info(s"sibling jobs cancelled: ${log.staged(since).values.map(_.desc).toSeq.sorted}")
    } finally spark.sparkContext.removeSparkListener(log)

    // fix the path and replay the same batch id
    Files.delete(ext)
    Files.move(aside, ext)
    applyBatch(faulty, "20240116", 1L)
    val (ce, cp, ct, cd, ca) = outputs(clean)
    val (fe, fp, ft, fd, fa) = outputs(faulty)
    assert(fe == ce, "replayed extract output diverges from the fault-free run")
    assert(fp == cp, "replayed pairs diverge from the fault-free run")
    assert(ft == ct, "replayed top-k diverges from the fault-free run")
    assert(fd == cd, "replayed band index diverges from the fault-free run")
    assert(fa == ca, "replayed ivf index diverges from the fault-free run")
    assert(cp.nonEmpty && ct.nonEmpty, "the fault-free run produced no pairs or neighbours")
  }

  test("attributeJoin matches purchases to preceding clicks within the window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Evt]
    val purchases = MemoryStream[Evt]
    val q = EventStreams.attributeJoin(clicks.toDF(), purchases.toDF(), windowMinutes = 30)
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    clicks.addData(
      Evt(1, ts(0), 1, "click", 0.0),
      Evt(2, ts(5), 1, "click", 0.0),
      Evt(3, ts(0), 2, "click", 0.0))
    purchases.addData(
      Evt(10, ts(10), 1, "purchase", 9.99), // matches clicks 1 and 2
      Evt(11, ts(50), 2, "purchase", 5.0),  // 50 min after click 3 -> no match
      Evt(12, ts(10), 3, "purchase", 1.0))  // no click for user 3
    q.processAllAvailable(); q.stop()
    val out = spark.table("attr_out").collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSet
    assert(out == Set((1L, 10L), (2L, 10L)), s"got $out")
  }

  test("checkpointed parquet sink: stream lands as readable files") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft_sink_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sink_out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_sink_ck").toString
    Seq(Evt(1, ts(0), 1, "click", 1.0), Evt(2, ts(5), 2, "view", 2.0)).toDS()
      .write.mode("overwrite").parquet(inDir)
    val q = EventStreams.fromParquetDir(spark, inDir,
      "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(outDir).count() == 2)
  }

  test("streaming attributeJoin matches the batch interval-join twin on real data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evts = sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Evt].collect()
    val clicks = MemoryStream[Evt]
    val purchases = MemoryStream[Evt]
    val q = EventStreams.attributeJoin(clicks.toDF(), purchases.toDF(), windowMinutes = 30)
      .writeStream.format("memory").queryName("attr_eq_out")
      .outputMode("append").start()
    clicks.addData(evts.filter(_.event_type == "click").toSeq)
    purchases.addData(evts.filter(_.event_type == "purchase").toSeq)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("attr_eq_out").collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSet
    val batch = operators.StreamingTwins.stStreamJoin(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSet
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} " +
        s"onlyStream=${(streamed -- batch).take(3)} onlyBatch=${(batch -- streamed).take(3)}")
  }

  test("foreachBatch upsert: later batches restate keys in the snapshot") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val snap = java.nio.file.Files.createTempDirectory("graft_upsert_snap").toString + "/snap"
    val ck = java.nio.file.Files.createTempDirectory("graft_upsert_ck").toString
    val input = MemoryStream[Evt]
    val q = EventStreams.upsertToParquet(input.toDF(), snap, ck)
    input.addData(
      Evt(1, ts(0), 1, "click", 1.0),
      Evt(2, ts(1), 2, "view", 2.0))
    q.processAllAvailable()
    // restate event 1, add event 3
    input.addData(
      Evt(1, ts(10), 1, "click", 9.0),
      Evt(3, ts(11), 3, "purchase", 3.0))
    q.processAllAvailable(); q.stop()
    val out = spark.read.parquet(snap).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value"))).toMap
    assert(out == Map(1L -> 9.0, 2L -> 2.0, 3L -> 3.0), s"got $out")
  }

  test("statementStream ingests dropped files incrementally") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = Files.createTempDirectory("graft_stmt_stream").toString
    Files.createDirectories(Paths.get(s"$root/20240115"))
    def drop(name: String): Unit =
      Files.copy(Paths.get(s"/root/repo/data/statements/20240115/$name"),
        Paths.get(s"$root/20240115/$name"), StandardCopyOption.REPLACE_EXISTING)
    drop("haomai_shengouqueren_20240115.txt")
    drop("pingan_shuhui_20240115.txt")
    val q = EventStreams.statementStream(spark, root)
      .writeStream.format("memory").queryName("stmt_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    val after2 = spark.table("stmt_stream").collect()
    assert(after2.length == 2)
    // a later drop lands in the NEXT micro-batch — incremental pickup
    drop("tiantian_fenhong_20240115.txt")
    q.processAllAvailable(); q.stop()
    val rows = spark.table("stmt_stream").collect()
      .map(r => r.getAs[String]("file_name") -> r).toMap
    assert(rows.size == 3)
    assert(rows("haomai_shengouqueren_20240115.txt").getAs[String]("platform") == "haomai")
    assert(rows("haomai_shengouqueren_20240115.txt").getAs[String]("biz_type") == "CONF")
    assert(rows("tiantian_fenhong_20240115.txt").getAs[String]("platform") == "tiantian")
    assert(rows("pingan_shuhui_20240115.txt").getAs[java.lang.Double]("amount") != null)
    assert(rows.values.forall(_.getAs[Boolean]("valid")))
  }

  test("partitioned upsert merges correctly and leaves untouched buckets alone") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val snap = java.nio.file.Files.createTempDirectory("graft_upsertp_snap").toString + "/snap"
    val ck = java.nio.file.Files.createTempDirectory("graft_upsertp_ck").toString
    val input = MemoryStream[Evt]
    val q = EventStreams.upsertToPartitionedParquet(input.toDF(), snap, ck, nBuckets = 4)
    // batch 1 populates buckets 1 (events 1,5) and 2 (event 2)
    input.addData(
      Evt(1, ts(0), 1, "click", 1.0),
      Evt(5, ts(1), 5, "view", 5.0),
      Evt(2, ts(1), 2, "view", 2.0))
    q.processAllAvailable()
    def bucketFiles(b: Int): Set[(String, Long)] = {
      val dir = new java.io.File(s"$snap/bkt=$b")
      if (!dir.exists()) Set.empty
      else dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val b1Before = bucketFiles(1)
    assert(b1Before.nonEmpty)
    // batch 2 touches ONLY bucket 2 (restate event 2, add event 6)
    input.addData(
      Evt(2, ts(10), 2, "view", 9.0),
      Evt(6, ts(11), 6, "click", 6.0))
    q.processAllAvailable(); q.stop()
    val out = spark.read.parquet(snap).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value"))).toMap
    assert(out == Map(1L -> 1.0, 5L -> 5.0, 2L -> 9.0, 6L -> 6.0), s"got $out")
    // bucket 1 files were not rewritten by the second batch
    assert(bucketFiles(1) == b1Before,
      s"untouched bucket rewritten: before=$b1Before after=${bucketFiles(1)}")
  }

  test("sessionize closes a session after the gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Evt]
    val q = EventStreams.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("session_out")
      .outputMode("append").start()
    // session 1: two events 10 min apart; then 60-min gap; session 2
    input.addData(
      Evt(1, ts(0), 7, "click", 1.0),
      Evt(2, ts(10), 7, "click", 2.0))
    q.processAllAvailable()
    input.addData(Evt(3, ts(70), 7, "view", 3.0))
    q.processAllAvailable()
    // advance watermark far enough to time the second session out
    input.addData(Evt(4, ts(500), 9, "click", 0.5))
    q.processAllAvailable()
    input.addData(Evt(5, ts(900), 9, "click", 0.5))
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("session_out").collect()
      .filter(_.getAs[Long]("user_id") == 7L)
      .map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
    assert(sessions.contains((2L, 3.0)), s"got ${sessions.toSeq}")
    assert(sessions.contains((1L, 3.0)), s"got ${sessions.toSeq}")
  }

  test("curationMaintain streams the exact txPipeline manifest, replay-idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf01 = "/root/testdata/sf0.01"
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val tbl = s"curation_keeper_spec_$tag"
    val tmp = java.nio.file.Files.createTempDirectory("graft_curation_spec").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_curation_ck").toString
    // stream the corpus in three ASCENDING doc_id ranges (the
    // arrival-order contract) and require the unioned batch outputs to
    // equal the one-shot batch flagship row-for-row
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val n = docs.length
    val batches = Seq(docs.take(n / 3), docs.slice(n / 3, 2 * n / 3), docs.drop(2 * n / 3))
    val input = MemoryStream[(Long, String, String)]
    val q = EventStreams.curationMaintain(
      input.toDF().toDF("doc_id", "source", "text"), tbl, s"$tmp/cursor", s"$tmp/out", ck)
    batches.foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    val cols = Seq("doc_id", "source", "quality_score", "drop_reason",
      "keeper_id", "n_toks", "pack_id")
    def manifest(): Seq[String] =
      spark.read.option("recursiveFileLookup", "true").parquet(s"$tmp/out")
        .select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted
    val streamed = manifest()
    val batch = SparkEntry.queries("tx_pipeline")(spark, sf01)
      .select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted
    assert(streamed.size == n, s"manifest has ${streamed.size} of $n rows")
    assert(streamed == batch, {
      val miss = batch.toSet -- streamed.toSet; val extra = streamed.toSet -- batch.toSet
      s"stream/batch manifests differ: missing=${miss.take(3)} extra=${extra.take(3)}"
    })
    // the corpus must actually exercise both states: cross-batch dups + packs
    assert(spark.table(tbl).count() > 0)
    // REPLAY: marker-guarded no-op
    val keeperRows = spark.table(tbl).count()
    def replayLast(): Unit = EventStreams.curationApplyBatch(
      batches(2).toSeq.toDF("doc_id", "source", "text"), 2L, tbl, s"$tmp/cursor", s"$tmp/out")
    replayLast()
    assert(manifest() == streamed, "marker-guarded replay changed the manifest")
    assert(spark.table(tbl).count() == keeperRows,
      "marker-guarded replay appended keeper rows")
    // CRASH-WINDOW replay (keepers appended, marker lost): the batch
    // probes its own crashed attempt's keepers — same values — and the
    // left_anti append is empty, so output AND store are unchanged
    assert(new java.io.File(s"$tmp/out/batch-2/_APPLIED").delete())
    replayLast()
    assert(manifest() == streamed, "crash-window replay changed the manifest")
    assert(spark.table(tbl).count() == keeperRows,
      "crash-window replay appended keeper rows")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("tx_curation_incremental equals tx_pipeline at sf0.001") {
    val cols = Seq("doc_id", "source", "quality_score", "drop_reason",
      "keeper_id", "n_toks", "pack_id")
    val inc = SparkEntry.queries("tx_curation_incremental")(spark, sfDir)
      .select(cols.map(col): _*).collect().map(_.toString).toSeq
    val batch = SparkEntry.queries("tx_pipeline")(spark, sfDir)
      .select(cols.map(col): _*).collect().map(_.toString).toSeq
    assert(inc == batch,
      s"incremental/batch manifests differ: ${inc.diff(batch).take(3)} vs ${batch.diff(inc).take(3)}")
  }

  test("curation batch-apply equals the flagship under ARBITRARY ascending splits") {
    // the arrival-order contract says ANY partition of the corpus into
    // ascending doc_id ranges yields the flagship manifest — not just
    // thirds. Deterministic pseudo-random cut sets (including skewed
    // and singleton batches) over the sf0.001 corpus.
    import spark.implicits._
    val cols = Seq("doc_id", "source", "quality_score", "drop_reason",
      "keeper_id", "n_toks", "pack_id")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val expect = SparkEntry.queries("tx_pipeline")(spark, sfDir)
      .select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted
    val rng = new scala.util.Random(13)
    (1 to 3).foreach { trial =>
      val k = 2 + rng.nextInt(4) // 2..5 batches
      val cuts = Seq.fill(k - 1)(rng.nextInt(docs.length)).sorted
      val batches = (Seq(0) ++ cuts ++ Seq(docs.length))
        .sliding(2).map { case Seq(a, b) => docs.slice(a, b) }.toSeq
      val tag = java.lang.Long.toHexString(System.nanoTime())
      val tbl = s"curation_split_spec_$tag"
      val tmp = java.nio.file.Files.createTempDirectory("graft_curation_rand").toString
      batches.zipWithIndex.foreach { case (b, i) =>
        EventStreams.curationApplyBatch(
          b.toSeq.toDF("doc_id", "source", "text"), i.toLong,
          tbl, s"$tmp/cursor", s"$tmp/out")
      }
      val got = spark.read.option("recursiveFileLookup", "true").parquet(s"$tmp/out")
        .select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      assert(got == expect,
        s"trial $trial (cuts=$cuts): missing=${(expect.toSet -- got.toSet).take(2)} " +
          s"extra=${(got.toSet -- expect.toSet).take(2)}")
    }
  }
}
