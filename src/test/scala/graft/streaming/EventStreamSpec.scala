package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Q

/** Streaming vs batch equivalence: the append-mode hourly rollup must equal
  * the batch aggregation restricted to watermark-finalized windows — the
  * same cutoff the q48 oracle SQL applies. */
class EventStreamSpec extends SparkSpec {

  test("append-mode hourly rollup equals batch agg on finalized windows") {
    val events = Q.t(spark, sf, "events")
    val cutoff = EventStream.emittedBefore(events)
    val batch = events
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val"))
      .filter(col("hour_ts") + expr("interval 1 hour") <= lit(cutoff))
      .select(col("event_type"), col("hour_ts").cast("timestamp"),
        col("n"), col("val"))
      .orderBy("event_type", "hour_ts")
      .collect().map(_.toString)
    val streamed = EventStream.hourlyRollup(spark, sf)
      .orderBy("event_type", "hour_ts")
      .collect().map(_.toString)
    assert(streamed.length == batch.length,
      s"streamed ${streamed.length} vs batch ${batch.length} windows")
    assert(streamed.toSeq == batch.toSeq)
  }

  test("left-outer stream join: inner rows match q136, null rows only " +
    "for watermark-closed never-matched clicks") {
    import org.apache.spark.sql.functions._
    val out = EventStream.clickPurchaseLeftJoin(spark, sf).cache()
    val inner = EventStream.clickPurchaseJoin(spark, sf)
    val gotInner = out.filter(col("purchase_id").isNotNull)
      .orderBy("click_id", "purchase_id").collect().map(_.toString)
    val wantInner = inner.orderBy("click_id", "purchase_id")
      .collect().map(_.toString)
    assert(gotInner.toSeq == wantInner.toSeq)
    // every null row's click must be strictly older than watermark - 1h
    val events = graft.queries.Q.t(spark, sf, "events")
    val clicks = events.filter(col("event_type") === "click")
    val wm = math.min(
      clicks.agg(max(unix_micros(col("ts")))).head.getLong(0),
      events.filter(col("event_type") === "purchase")
        .agg(max(unix_micros(col("ts")))).head.getLong(0)) -
      EventStream.DelaySeconds * 1000000L
    val lateNull = out.filter(col("purchase_id").isNull)
      .join(clicks.select(col("event_id").as("click_id"), col("ts")),
        "click_id")
      .filter(unix_micros(col("ts")) + 3600000000L >= wm)
    assert(lateNull.count() === 0L)
    // and null rows exist at all (the flush really ran)
    assert(out.filter(col("purchase_id").isNull).count() > 0L)
  }

  test("drift monitor: only finalized hours, JSD within [0, ln 2], " +
      "and the n_events totals equal the batch rollup") {
    val out = EventStream.driftMonitor(spark, sf).collect()
    assert(out.nonEmpty)
    val ln2 = math.log(2.0)
    out.foreach { r =>
      val j = r.getAs[Double]("jsd")
      assert(j >= 0.0 && j <= ln2 + 1e-9, s"JSD out of range: $j")
      assert(r.getAs[Long]("n_types") >= 1L)
    }
    // emitted hours and their event totals match the batch cutoff agg
    val events = Q.t(spark, sf, "events")
    val cutoff = EventStream.emittedBefore(events)
    val batch = events
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("hour_start") + expr("interval 1 hour") <= lit(cutoff))
      .collect()
      .map(r => r.getTimestamp(0) -> r.getAs[Long]("n_events")).toMap
    val got = out.map(r =>
      r.getTimestamp(0) -> r.getAs[Long]("n_events")).toMap
    assert(got == batch, s"hour totals drifted: $got vs $batch")
  }

  test("streaming HLL rollup equals the batch-built sketch on " +
      "finalized hours, and the error column is self-consistent") {
    val out = EventStream.hllRollup(spark, sf).collect()
    assert(out.nonEmpty)
    val events = Q.t(spark, sf, "events")
    val cutoff = EventStream.emittedBefore(events)
    val batch = graft.operators.Sketches.intHllEstimate(
      events.withColumn("hour_start", date_trunc("hour", col("ts")))
        .filter(col("hour_start") + expr("interval 1 hour")
          <= lit(cutoff)),
      Seq("hour_start"), col("user_id"))
      .collect()
      .map(r => r.getTimestamp(0) -> r.getAs[Long]("hll_est")).toMap
    val got = out
      .map(r => r.getTimestamp(0) -> r.getAs[Long]("hll_est")).toMap
    assert(got == batch,
      "stream-built registers must finalize to the batch sketch")
    out.foreach { r =>
      assert(r.getAs[Long]("err_bp") ==
        math.abs(r.getAs[Long]("hll_est") -
          r.getAs[Long]("exact_distinct")) * 10000L /
          r.getAs[Long]("exact_distinct"))
    }
  }
}
