package graft.ops

import graft.time.IsoTime
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time windowing and sessionization over the events stream table
  * (SURVEY.md §2.5 — the reference carries event time as data but never
  * windows on it; these are the mandated beyond-reference stateful ops).
  * Batch forms only: the pipeline's streaming path is stateless
  * translation and routing, so nothing here runs over readStream.
  */
object Windows {

  /** Tumbling event-time window aggregation. Input needs `epoch_us`
    * (RawGen.events). One shuffle on (window, event_type), partial
    * aggregation map-side. */
  def tumblingCounts(events: DataFrame, windowSeconds: Long = 3600): DataFrame = {
    val ts = timestamp_micros(col("epoch_us"))
    events
      .groupBy(window(ts, s"$windowSeconds seconds").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,4)")).as("sum_dec"))
      .select(
        IsoTime.isoFromEpochMillis(unix_millis(col("w.start"))).as("window_start"),
        col("event_type"),
        col("cnt"),
        col("sum_dec").cast("double").as("sum_value"))
  }

  /** Sliding (hopping) event-time windows: width `widthSeconds`, hop
    * `slideSeconds` — each event lands in width/slide windows (Spark's
    * TimeWindowing rule expands exactly that many rows before the agg, so
    * the blow-up factor is explicit and bounded). Same single-shuffle shape
    * as [[tumblingCounts]], input rows × (width/slide). */
  def slidingCounts(events: DataFrame, widthSeconds: Long = 7200,
                    slideSeconds: Long = 3600): DataFrame = {
    val ts = timestamp_micros(col("epoch_us"))
    events
      .groupBy(window(ts, s"$widthSeconds seconds", s"$slideSeconds seconds").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,4)")).as("sum_dec"))
      .select(
        IsoTime.isoFromEpochMillis(unix_millis(col("w.start"))).as("window_start"),
        IsoTime.isoFromEpochMillis(unix_millis(col("w.end"))).as("window_end"),
        col("event_type"),
        col("cnt"),
        col("sum_dec").cast("double").as("sum_value"))
  }

  /** Gaps-and-islands: contiguous runs of active days per user (the
    * engagement-streak analytic). Classic day−row_number trick: the
    * distinct (user, day) frame and both window/agg passes share ONE
    * user_id-keyed exchange. Day boundaries via FLOOR division spelled
    * (x - pmod(x, d)) div d — exact on longs (no double quotient), and it
    * floors rather than truncating toward zero, matching the oracle's `//`
    * for pre-1970 (negative) epochs. */
  def activityIslands(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    events
      .filter(col("user_id").isNotNull && col("epoch_us").isNotNull)
      .select(col("user_id"),
        expr("(epoch_us - pmod(epoch_us, 86400000000)) div 86400000000").as("day"))
      .distinct()
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(min("day").as("start_day"), max("day").as("end_day"),
        count(lit(1)).as("n_days"))
      .select("user_id", "start_day", "end_day", "n_days")
  }

  /** Ordered-funnel analysis: for each user, the earliest time each step
    * of `steps` was reached IN ORDER — step i+1 must occur strictly after
    * the user's earliest completion of step i (the product-analytics
    * "view → click → purchase" conversion funnel). Returns one row per
    * user with nullable `t1..tN` epoch columns; a null `tK` means the
    * funnel stalled before step K (and all later t's are null too, by
    * construction of the strictly-after chain).
    *
    * Scale shape: ONE shuffle on user_id — the N chained step minima are
    * N Window aggregates over the SAME partitioning (Catalyst plans one
    * exchange; no per-step join, no ordering sort — unbounded-partition
    * min needs no sort key), and the final per-user collapse reuses the
    * partitioning again. Cost is N scans of each user partition in
    * memory, not N shuffles of the corpus. */
  def funnel(events: DataFrame,
             steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val w = Window.partitionBy("user_id")
    var df = events
      .filter(col("user_id").isNotNull && col("epoch_us").isNotNull)
      .select("user_id", "event_type", "epoch_us")
    steps.zipWithIndex.foreach { case (s, i) =>
      // strictly after the previous step's earliest time; a stalled
      // previous step (null) nulls the comparison, so the chain stays null
      val afterPrev =
        if (i == 0) lit(true) else col("epoch_us") > col(s"t$i")
      df = df.withColumn(s"t${i + 1}",
        min(when(col("event_type") === s && afterPrev, col("epoch_us"))).over(w))
    }
    df.groupBy("user_id")
      .agg(max(col("t1")).as("t1"),
        (2 to steps.size).map(i => max(col(s"t$i")).as(s"t$i")): _*)
  }

  /** Gap-based sessionization per user: a new session starts when the gap
    * from the previous event exceeds `gapSeconds`. Single shuffle on
    * user_id; two window passes over the same partitioning (Catalyst reuses
    * the exchange). */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("epoch_us", "event_id")
    val gapUs = gapSeconds * 1000000L
    val prev = lag(col("epoch_us"), 1).over(byUser)
    val isNew = when(prev.isNull || col("epoch_us") - prev > gapUs, 1).otherwise(0)
    events
      .withColumn("_new", isNew)
      // same spec object as the lag pass — editing the ordering in one
      // place cannot silently split sessions differently between passes
      .withColumn("session_idx", sum(col("_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("epoch_us")).as("start_us"),
        max(col("epoch_us")).as("end_us"))
      .withColumn("duration_ms", ((col("end_us") - col("start_us")) / 1000L).cast("long"))
  }
}
