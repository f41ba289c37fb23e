package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.Features
import graft.operators.Joins
import graft.streaming.EventStream

class JoinsStreamingSpec extends AnyFunSuite {
  import TestSession._

  test("asof join picks the latest order at-or-before each event") {
    import spark.implicits._
    val orders = Seq(
      (100L, 1L, "O", 10.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "P"),
      (200L, 1L, "O", 20.0, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), "P"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
    val events = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-03 12:00:00"), 1L, "click", 1.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-06 12:00:00"), 1L, "click", 1.0, "{}"),
      (3L, java.sql.Timestamp.valueOf("2023-12-30 12:00:00"), 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Joins.asofJoin(events, orders).collect()
      .map(r => r.getAs[Long]("event_id") -> Option(r.getAs[java.lang.Long]("asof_orderkey"))).toMap
    assert(out(1L).contains(100L))
    assert(out(2L).contains(200L))
    assert(out(3L).isEmpty)
  }

  test("range join bucket optimization equals naive between join") {
    val li = Tables.lineitem(spark, sf)
    val p = Tables.part(spark, sf)
    val bucketed = Joins.rangeJoin(li, p)
    val naive = li.join(p, col("l_extendedprice").between(
        col("p_retailprice") - 50, col("p_retailprice") + 50))
      .groupBy(col("p_partkey"))
      .agg(count(lit(1)).as("n_lines"))
    val cmp = bucketed.select("p_partkey", "n_lines")
      .exceptAll(naive.select("p_partkey", "n_lines"))
    assert(cmp.count() == 0)
  }

  test("streaming windowed counts equal the batch tumbling window") {
    val stream = EventStream.windowedCounts(spark, sf)
    val batch = Joins.windowTumbling(Tables.events(spark, sf))
    assert(stream.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(stream).count() == 0)
  }

  test("streaming sliding windows equal the batch sliding window") {
    val stream = EventStream.slidingCounts(spark, sf)
    val batch = Joins.windowSliding(Tables.events(spark, sf))
    assert(stream.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(stream).count() == 0)
  }

  test("stateful running user counts equal batch per-user counts") {
    val stateful = EventStream.runningUserCounts(spark, sf)
    val batch = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
    assert(stateful.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(stateful).count() == 0)
  }

  test("streaming dedup removes nothing on an already-unique stream and keeps all ids") {
    val deduped = EventStream.dedupedEvents(spark, sf)
    val batch = Tables.events(spark, sf)
    assert(deduped.count() == batch.select("event_id").distinct().count())
  }

  test("streaming sessionizer emits exactly the closed batch sessions") {
    val cols = Seq("session_id", "user_id", "session_seq", "n_events",
      "start_s", "end_s", "duration_s", "n_event_types")
    val stream = EventStream.sessionized(spark, sf).select(cols.head, cols.tail: _*)
    // a finite file can't flush each user's final still-open session, so the
    // streaming output must equal the batch sessions that HAVE a successor
    val w = Window.partitionBy("user_id")
    val closed = Features.sessionize(Tables.events(spark, sf))
      .withColumn("mx", max("session_seq").over(w))
      .filter(col("session_seq") < col("mx"))
      .select(cols.head, cols.tail: _*)
    assert(closed.count() > 0)
    assert(stream.exceptAll(closed).count() == 0)
    assert(closed.exceptAll(stream).count() == 0)
  }

  test("event-time timeout flushes the open session once the watermark passes the gap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SessEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[SessEvent]
    val q = EventStream.sessionizedTimeoutStream(input.toDS()).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_timeout").start()
    try {
      // batch 1: user 7, two events 100s apart -> one OPEN session in state
      input.addData(SessEvent(7L, 1000L, 1L, "view"), SessEvent(7L, 1100L, 2L, "click"))
      q.processAllAvailable()
      assert(spark.table("sess_timeout").count() == 0, "nothing should close yet")
      // batch 2: a far-future event on ANOTHER user advances the watermark
      // beyond 1100 + 1800 -> user 7's open session must flush via timeout
      input.addData(SessEvent(9L, 10000L, 3L, "view"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sess_timeout").collect()
    val u7 = rows.filter(_.getAs[Long]("user_id") == 7L)
    assert(u7.length == 1, s"expected one flushed session, got ${rows.mkString(", ")}")
    val s = u7.head
    assert(s.getAs[Long]("n_events") == 2 && s.getAs[Long]("start_s") == 1000L &&
      s.getAs[Long]("end_s") == 1100L && s.getAs[Long]("duration_s") == 100L &&
      s.getAs[Long]("n_event_types") == 2)
    // user 9's session is still open — the watermark never passed ITS gap
    assert(!rows.exists(_.getAs[Long]("user_id") == 9L))
  }

  /** Batch twin of the stream-stream pair stream: purchases × preceding
    * touches within 1h, same projection as EventStream.touchPurchaseJoin. */
  private def batchIntervalJoin(joinType: String) = {
    val e = Tables.events(spark, sf)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val t = e.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("t_user"), col("event_id").as("touch_id"),
        col("event_type").as("touch_type"), col("ts").as("t_ts"))
    p.join(t,
        col("p_user") === col("t_user") && col("t_ts") < col("p_ts") &&
          col("t_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
        joinType)
      .select(col("purchase_id"), col("touch_id"), col("touch_type"),
        unix_timestamp(col("p_ts")).as("p_ts_s"),
        unix_timestamp(col("t_ts")).as("t_ts_s"))
  }

  test("stream-stream interval join equals the batch interval join") {
    val stream = EventStream.touchPurchaseJoin(spark, sf)
    val batch = batchIntervalJoin("inner")
    assert(batch.count() > 0, "test corpus must yield interval-join pairs")
    assert(stream.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(stream).count() == 0)
  }

  test("left-outer stream-stream join: matches in full, direct purchases once flushed") {
    val outer = EventStream.touchPurchaseJoinOuter(spark, sf)
    // matched rows emit immediately — they must be EXACTLY the inner join
    val matched = outer.filter(col("touch_id").isNotNull)
    val batchInner = batchIntervalJoin("inner")
    assert(matched.exceptAll(batchInner).count() == 0)
    assert(batchInner.exceptAll(matched).count() == 0)
    // null rows emit only after the watermark clears the purchase's whole
    // lookback window: every emitted null row must be a true direct
    // purchase, and every direct purchase older than
    // maxTs - (watermark + lookback) must have been flushed
    val nullRows = outer.filter(col("touch_id").isNull).select("purchase_id")
    val direct = batchIntervalJoin("left_outer")
      .filter(col("touch_id").isNull).select("purchase_id", "p_ts_s")
    assert(nullRows.exceptAll(direct.select("purchase_id")).count() == 0,
      "a null row emitted for a purchase that HAS a touch in window")
    // the query's GLOBAL watermark is min over the two per-stream
    // watermarks = min(max purchase ts, max touch ts) - 2h, NOT the
    // overall corpus max — a corpus whose last hours are all one type
    // stalls the global watermark at the other type's max
    val maxS = Tables.events(spark, sf)
      .groupBy(col("event_type") === "purchase")
      .agg(max(unix_timestamp(col("ts"))).as("mx"))
      .agg(min(col("mx"))).first().getLong(0)
    val flushed = direct.filter(col("p_ts_s") < maxS - (2L + 1L) * 3600L - 1L)
      .select("purchase_id")
    assert(flushed.count() > 0, "test corpus must have flushable direct purchases")
    assert(flushed.exceptAll(nullRows).count() == 0,
      "a provably-flushable direct purchase was never emitted")
  }

  test("stream-stream join plans as a symmetric hash join with bounded, evicted state") {
    val q = EventStream.touchPurchaseJoined(spark, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_shape").start()
    val progress = try {
      q.processAllAvailable()
      q.recentProgress.filter(_.stateOperators.nonEmpty)
    } finally q.stop()
    assert(progress.nonEmpty, "no progress with state operators recorded")
    val ops = progress.flatMap(_.stateOperators)
    // the plan must run the streaming symmetric hash join — not fall back
    // to a batch join shape that would buffer both streams unbounded
    assert(ops.exists(_.operatorName.toLowerCase.contains("symmetrichashjoin")),
      s"expected symmetricHashJoin state operator, got: ${ops.map(_.operatorName).distinct.mkString(", ")}")
    // watermark-driven eviction must actually remove buffered rows on a
    // finite month-long stream (state ≤ lookback+watermark of history)
    val last = progress.last.stateOperators
      .find(_.operatorName.toLowerCase.contains("symmetrichashjoin")).get
    val totalInput = Tables.events(spark, sf).count()
    assert(last.numRowsTotal < totalInput,
      s"join state (${last.numRowsTotal}) should be below total input ($totalInput) after eviction")
  }

  test("stream-stream join output is shuffle-partition-count invariant") {
    // state-store count follows shuffle partitions, so a result that
    // depends on partition count is exactly the distributed-correctness
    // bug class the batch partition-invariance sweep locks out
    val s7 = spark.newSession()
    s7.conf.set("spark.sql.shuffle.partitions", "7")
    val base = EventStream.touchPurchaseJoin(spark, sf, "ssjoin_pbase")
    val alt = EventStream.touchPurchaseJoin(s7, sf, "ssjoin_p7")
    // collect-and-sort: frames from different sessions can't be combined
    // in one plan (tiny result set — the pair table of sf0.001)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val (b, a) = (rows(base), rows(alt))
    assert(b.nonEmpty)
    assert(b == a, s"partition-count-dependent join output: ${b.size} vs ${a.size} rows")
  }

  test("rollup includes per-nation, per-region and grand-total levels") {
    val r = Joins.rollupRevenue(Tables.lineitem(spark, sf), Tables.orders(spark, sf),
      Tables.customer(spark, sf), Tables.nation(spark, sf), Tables.region(spark, sf))
    val gids = r.select("gid").distinct().collect().map(_.getInt(0)).sorted
    assert(gids.sameElements(Array(0, 1, 3)))
    val grand = r.filter("gid = 3").count()
    assert(grand == 1)
  }
}
