package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — for each left row, the single right row with
  * the greatest timestamp <= the left row's timestamp within the same key
  * (ties -> greatest id). Spark has no native ASOF join; the naive
  * formulation (range join + per-left-row max) explodes into a cross
  * product per key.
  *
  * Scale shape: union both sides with a side tag, ONE shuffle on the key,
  * and a running `last(right_id, ignoreNulls)` window ordered by
  * (ts, side, id) — right rows sort before left rows at equal ts, so
  * "at or before" is exact, and the carry-forward costs O(rows) per
  * partition with no candidate multiplication. This is the standard
  * pattern for point-in-time feature lookups (the latest profile/model
  * version visible to each event) at 10^12-row scale.
  *
  * Skew: the default window partitions by key only, so ONE pathologically
  * hot key serializes its whole timeline into a single task (the time-axis
  * analogue of the hot-cell spatial join). `bucketFn` opts into the
  * standard two-pass fix — see [[joinAsOf]].
  */
object AsOf {

  /** Time-bucket function for timestamp columns: floor(unix_micros / width).
    * Monotone non-decreasing in ts, as [[joinAsOf]]'s `bucketFn` requires. */
  def timeBuckets(widthMicros: Long): Column => Column = {
    require(widthMicros > 0, s"bucket width must be positive: $widthMicros")
    t => floor(unix_micros(t) / lit(widthMicros)).cast("long")
  }

  /** left/right must both carry the key `user_id`, the timestamp `ts` and
    * the id `event_id`. Returns the left rows' (user_id, event_id, ts) plus
    * `asof_id`/`asof_ts` of the matched right row (null when no right row
    * precedes). EVERY left row is returned: a left
    * row with a NULL timestamp matches nothing (`v.ts <= c.ts` is never true
    * for null — the SQL semantics) and comes back with null asof_id/asof_ts;
    * RIGHT rows with a null timestamp (no position on the time axis) or a
    * null id (no referencable identity to match) are ignored.
    *
    * `bucketFn` (optional): a MONOTONE NON-DECREASING coarse time-bucket id
    * over the ts column (e.g. [[timeBuckets]]) enables the two-pass skewed
    * variant: pass 1 runs the carry-forward window per (key, bucket) — a hot
    * key's timeline splits across one task PER BUCKET instead of one task
    * total — and pass 2 computes each bucket's incoming carry (the latest
    * right row of any earlier bucket) on the per-(key, bucket) SUMMARY table
    * (one row per occupied bucket — the only per-key-serial step, and it is
    * |buckets|-sized, not |rows|-sized), joined back by (key, bucket).
    * Identical output to the one-pass plan for any monotone bucketing. */
  def joinAsOf(left: DataFrame, right: DataFrame,
               bucketFn: Option[Column => Column] = None): DataFrame = {
    val idType = right.schema("event_id").dataType
    val tsType = right.schema("ts").dataType
    // a null-ts RIGHT row would sort FIRST in the window (nulls-first) and
    // become a spurious carry-forward match with asof_ts = null; a null-ID
    // right row carries no referencable identity (the match IS its id) and
    // would split the (asof_id, asof_ts) pair across two rows in the
    // ignoreNulls carry — drop both kinds, on every code path, so the
    // one-pass and bucketed variants can never diverge on them.
    // Null-ts LEFT rows stay IN: they sort nulls-first too, so their frame
    // holds only other null-ts left rows (every right row with a real ts is
    // after them, and null-ts right rows are gone), making their
    // carry-forward — and hence asof_id/asof_ts — naturally NULL, which is
    // the correct "matches nothing" answer without a second scan of `left`
    val l = left
      .select(col("user_id").as("k"), col("ts").as("t"), col("event_id").as("lid"))
      .withColumn("side", lit(1)).withColumn("rid", lit(null).cast(idType))
    val r = right.where(col("ts").isNotNull && col("event_id").isNotNull)
      .select(col("user_id").as("k"), col("ts").as("t"), col("event_id").as("rid"))
      .withColumn("side", lit(0)).withColumn("lid", lit(null).cast(idType))
    val u = l.unionByName(r)
    val matched = bucketFn match {
      case None =>
        val w = Window.partitionBy("k")
          .orderBy(col("t"), col("side"), coalesce(col("rid"), col("lid")))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        u.withColumn("asof_id", last(col("rid"), ignoreNulls = true).over(w))
          .withColumn("asof_ts",
            last(when(col("side") === 0, col("t")).cast(tsType),
              ignoreNulls = true).over(w))
      case Some(bf) =>
        val ub = u.withColumn("b", bf(col("t")))
        // pass 1: carry-forward WITHIN each (key, bucket) slice
        val w1 = Window.partitionBy("k", "b")
          .orderBy(col("t"), col("side"), coalesce(col("rid"), col("lid")))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val in1 = ub
          .withColumn("in_id", last(col("rid"), ignoreNulls = true).over(w1))
          .withColumn("in_ts",
            last(when(col("side") === 0, col("t")).cast(tsType),
              ignoreNulls = true).over(w1))
        // pass 2: per-(key, bucket) summary — the bucket's LAST right row by
        // the same (t, id) order (max of the struct: lexicographic t then id,
        // so equal-ts ties break to the greatest id exactly as the window
        // does); groups come from BOTH sides so every occupied bucket has a
        // summary row (m null when the bucket holds no right row)
        val summary = ub.groupBy(col("k"), col("b"))
          .agg(max(when(col("side") === 0,
            struct(col("t"), col("rid")))).as("m"))
        val w2 = Window.partitionBy("k").orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val carry = summary
          .withColumn("p", last(col("m"), ignoreNulls = true).over(w2))
          .select(col("k"), col("b"),
            col("p.rid").as("pre_id"), col("p.t").cast(tsType).as("pre_ts"))
        in1.join(carry, Seq("k", "b"), "left_outer")
          .withColumn("asof_id", coalesce(col("in_id"), col("pre_id")))
          .withColumn("asof_ts", coalesce(col("in_ts"), col("pre_ts")))
    }
    matched
      .where(col("side") === 1)
      .select(col("k").as("user_id"), col("lid").as("event_id"), col("t").as("ts"),
        col("asof_id"), col("asof_ts"))
  }
}
