package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-analytics rollups behind the registry queries. */
object Analytics {

  private val usPerDay = 86400000000L

  /** Cohort retention triangle: users grouped by first-active day,
    * distinct actives per (cohort day, day offset). Scale shape: one
    * (user, day) DISTINCT collapse first (the only corpus-sized shuffle,
    * 16-byte keys — raw events never reach the join), a per-user min
    * agg, a user-key join that reuses that partitioning, and one final
    * hash agg. No windows, no per-user state. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val ud = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"),
        floor(col("epoch_us") / lit(usPerDay)).as("day"))
      .distinct()
    val cohort = ud.groupBy("user_id").agg(min("day").as("cohort_day"))
    ud.join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Re-aggregatable distinct-count sketches: partial DataSketches HLL
    * per (event_type, day) — the grain a daily ingest job persists —
    * merged per event_type with hll_union_agg. Sketch once, roll up to
    * any coarser grain without touching raw data again; the shuffle
    * carries one binary sketch per group per map task, never user ids.
    * Returns (event_type, approx) — callers compare against the exact
    * distinct under their own tolerance contract. */
  def sketchRollup(events: DataFrame): DataFrame =
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_type"), col("user_id"),
        floor(col("epoch_us") / lit(usPerDay)).as("day"))
      .groupBy("event_type", "day")
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      .groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx"))
}
