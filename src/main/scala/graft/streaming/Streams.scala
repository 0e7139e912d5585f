package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming layer: the span -> point -> tile operators are
  * stateless per row, so streaming tile assignment IS the batch operator
  * chain on a streaming frame —
  * `Tiler.assign(SpatialJoin.extractPoints(stream), zoom)` — with no
  * streaming copy of either; aggregations get watermarked event-time
  * windows; custom per-key state (session tracking) uses
  * flatMapGroupsWithState.
  *
  * The batch spatial join streams on the fact side as is:
  * `SpatialJoin.joinWithIndex` takes a streaming point frame against the
  * static broadcast polygon index, a stream-static join with no state. */
object Streams {

  /** Watermarked event counts per 5-minute window (slide = width; late
    * data dropped after a 10-minute watermark). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes", "5 minutes"), col("event_type"))
      // sum through DECIMAL: exact and order-independent, so the streaming
      // result is bit-identical to the batch plan (and to a SQL oracle)
      // regardless of micro-batch/partition arrival order
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 6)))
          .cast("double").as("total"))

  /** Streaming exact dedup: keep the first occurrence of each content hash.
    * State is bounded by the watermark: duplicates arriving more than
    * `watermark` after the first occurrence's event time may re-emit (the
    * documented trade-off of watermark-scoped dedup state at 10^12 rows —
    * unbounded-state dropDuplicates is the non-scalable alternative). */
  def dedupStream(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-STREAM inner join with an event-time range condition: each left
    * row pairs with same-key right rows whose event time lies in
    * [l_ts - 3600 s, l_ts]. BOTH sides are watermarked and the join
    * condition bounds the time skew, so each side's join state expires once
    * the other side's watermark passes ts + 3600 s — the state-bounded shape
    * stream-stream joins require at 10^12 rows (an unconstrained join would
    * buffer both streams forever). Inner-join matches emit as rows arrive
    * (no watermark wait), so the result set equals the batch interval join
    * under any micro-batch slicing. */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         watermark: String = "2 hours"): DataFrame = {
    val l = left.select(col("user_id"), col("event_id").as("l_event"),
        col("ts").cast("timestamp").as("l_ts"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("user_id").as("r_user"), col("event_id").as("r_event"),
        col("ts").cast("timestamp").as("r_ts"))
      .withWatermark("r_ts", watermark)
    l.join(r,
        col("user_id") === col("r_user") &&
          col("r_ts") <= col("l_ts") &&
          col("r_ts") >= col("l_ts") - org.apache.spark.sql.functions.expr(
            "INTERVAL 3600 SECONDS"))
      .select(col("user_id"), col("l_event"), col("r_event"),
        col("l_ts"), col("r_ts"))
  }

  /** Incremental tile-pyramid maintenance from a document STREAM — the
    * ingest tick of a production tile server: each micro-batch extracts its
    * points (stateless kernels), aggregates the batch's base-zoom tile
    * DELTA (O(batch points)), commits it as one tick of a tick store,
    * then rebuilds the pyramid from the summed live deltas via
    * [[graft.engine.Tiler.pyramidFromBase]] — O(occupied tiles), never
    * re-reading earlier batches' points. The deltas grow by one small
    * per-tile histogram per tick; nothing here folds them (see
    * [[pyramidTick]]). AvailableNow
    * drains a staged backlog; use a processing-time trigger on a live
    * stream. Pyramid lands at `workDir`/pyramid. */
  def pyramidStream(spark: SparkSession, docs: DataFrame, workDir: String,
                    minZoom: Int, maxZoom: Int,
                    checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        pyramidTick(spark, batch, workDir, minZoom, maxZoom, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** One ingest tick of [[pyramidStream]]: append `batch`'s base-zoom tile
    * delta as tick `batchId` of the tick store at `workDir`/base_deltas and
    * rebuild the pyramid from the store's live rows summed per tile. Each
    * tick re-reads every live delta (one small per-tile histogram per
    * tick); a [[graft.engine.Ticks.fold]] with the same per-tile sum merges
    * them into one generation and leaves the pyramid unchanged.
    * IDEMPOTENT per batchId: a replayed batch overwrites its own tick, or,
    * once folded, lands below the watermark and stays invisible — never
    * double-counted (gated by the StreamingSpec replay tests). */
  def pyramidTick(spark: SparkSession, batch: DataFrame, workDir: String,
                  minZoom: Int, maxZoom: Int, batchId: Long): Unit = {
    import graft.engine.{SpatialJoin, Ticks, Tiler}
    val deltas = s"$workDir/base_deltas"
    val delta = Tiler.raster(SpatialJoin.extractPoints(batch), maxZoom)
    Ticks.append(delta, deltas, batchId)
    // nothing live: every delta so far was empty, and so is the base
    val base = Ticks.live(spark, deltas).getOrElse(delta)
      .groupBy(col("tile_id")).agg(sum(col("n_points")).as("n_points"))
    Tiler.pyramidFromBase(base, minZoom, maxZoom)
      .write.mode("overwrite").parquet(s"$workDir/pyramid")
  }

  /** Streaming IVF-index ingest — the vector-side analogue of
    * [[pyramidStream]]: each micro-batch of (vec_id, embedding) rows is
    * assigned to a FIXED centroid set and committed as one tick of the
    * same tick store ([[graft.engine.Ann.ivfIngestTick]]: each batch
    * overwrites its own dir = exactly-once on crash replay). The accumulated
    * index equals the batch-built one over the unioned corpus regardless of
    * batch slicing, and is searchable mid-stream with
    * [[graft.engine.Ann.searchIvfIndex]] (probes prune the cid partition
    * dirs exactly as for a batch-built index). */
  def ivfIngest(spark: SparkSession, vectors: DataFrame,
                cents: Array[(Long, Array[Double])], path: String,
                checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.engine.Ann.ivfIngestTick(batch, cents, path, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  final case class SessionState(count: Long, lastUs: Long, sessions: Long)
  final case class SessionUpdate(user_id: Long, sessions: Long, events: Long)

  final case class FenceState(inside: Boolean)
  final case class FenceHit(doc_id: String, offset: Int, lat: Double,
                            lon: Double, transition: String)

  /** Streaming geofence enter/exit detection: per-track last-inside state
    * carried ACROSS micro-batches (flatMapGroupsWithState, Append), so a
    * transition whose two points land in different batches is still seen.
    * `points` must carry (doc_id, offset, lat, lon); the fence-inside flag
    * is computed as a batch column (codegen'd haversine chain — state only
    * does the lag logic). Rows are sorted by offset WITHIN a batch; across
    * batches the source must deliver each track's points in offset order
    * (the usual CDC/ingest-ordering contract; the gate stages files that
    * way). Batch semantics ≡ [[graft.engine.Track.geofenceTransitions]]. */
  def geofenceStream(spark: SparkSession, points: DataFrame,
                     fences: Seq[(Double, Double)], radiusM: Double): DataFrame = {
    import spark.implicits._
    val inside =
      graft.engine.Track.minFenceDist(fences, col("lat"), col("lon")) <= lit(radiusM)
    points
      .select(col("doc_id"), col("offset").cast("int"),
        col("lat").cast("double"), col("lon").cast("double"), inside.as("inside"))
      .as[(String, Int, Double, Double, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FenceState, FenceHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (doc: String, rows: Iterator[(String, Int, Double, Double, Boolean)],
         state: GroupState[FenceState]) =>
          var last = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[FenceHit]
          for ((_, off, la, lo, in) <- rows.toSeq.sortBy(_._2)) {
            if (last.exists(_.inside != in))
              out += FenceHit(doc, off, la, lo, if (in) "enter" else "exit")
            last = Some(FenceState(in))
          }
          last.foreach(state.update)
          out.iterator
      }
      .toDF()
  }

  /** Custom keyed state: per-user session counting with a 30-minute gap rule
    * (flatMapGroupsWithState, update mode). */
  def sessionize(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[SessionState]) =>
          var s = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
          for ((_, us) <- rows.toSeq.sortBy(_._2)) {
            val newSession = s.lastUs == Long.MinValue || us - s.lastUs > 1800000000L
            s = SessionState(s.count + 1, us, s.sessions + (if (newSession) 1 else 0))
          }
          state.update(s)
          Iterator(SessionUpdate(user, s.sessions, s.count))
      }
      .toDF()
  }
}
