package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trajectory / movement analytics over ordered point sequences.
  *
  * A "track" is one entity's extracted points in sequence order — here a
  * document's span points ordered by span offset (the interleaved corpus's
  * native notion of a path). Every operator reads (doc_id, offset, lat,
  * lon): doc_id names the track and offset orders its points.
  *
  * Scale shape: every operator is ONE hash shuffle on the track id (the
  * window partition), followed by map-side work — no self-joins, no
  * candidate multiplication. Track length is bounded by document span count,
  * so the per-task unit stays small no matter the corpus size; 10^12 rows
  * means 10^11-ish tracks of ~10 points, which partitions evenly. The
  * consecutive-pair frame deliberately projects plain (lat, lon) columns
  * THROUGH the window exchange before any trig runs: the exchange is a
  * pipeline barrier, so the span-parse pipeline upstream is evaluated once
  * per row, never duplicated into the per-leg expressions
  * (CollapseProject would otherwise inline it into every consumer).
  */
object Track {

  /** Consecutive-leg frame: each row pairs a point with its predecessor on
    * the same track. Columns: doc_id, offset, lat, lon, p_lat, p_lon, leg_m
    * (haversine metres), bearing_deg (initial great-circle bearing
    * predecessor -> point). First point of each track carries nulls. */
  def legs(pts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("offset"))
    pts.select(col("doc_id"), col("offset"), col("lat"), col("lon"))
      .withColumn("p_lat", lag("lat", 1).over(w))
      .withColumn("p_lon", lag("lon", 1).over(w))
      .withColumn("leg_m",
        call_function("st_haversine", col("p_lat"), col("p_lon"), col("lat"), col("lon")))
      .withColumn("bearing_deg",
        call_function("st_bearing", col("p_lat"), col("p_lon"), col("lat"), col("lon")))
  }

  /** Per-track summary: point count, path length, net displacement
    * (first -> last point), sinuosity = length / net. Length and net are
    * rounded to mm before the ratio so the output is reassociation-stable
    * (haversine leg sums drift ~1e-12 relative under different partition
    * orders). Single-point tracks get length 0 and null sinuosity. */
  def stats(pts: DataFrame): DataFrame = {
    val lengthR = round(coalesce(col("len_raw"), lit(0.0)), 3) + 0.0
    val netR = round(call_function("st_haversine",
      col("a.lat"), col("a.lon"), col("b.lat"), col("b.lon")), 3) + 0.0
    legs(pts)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("leg_m")).as("len_raw"),
        min_by(struct(col("lat"), col("lon")), col("offset")).as("a"),
        max_by(struct(col("lat"), col("lon")), col("offset")).as("b"))
      .select(col("doc_id"), col("n_points"),
        lengthR.as("length_m"), netR.as("net_m"))
      .withColumn("sinuosity",
        when(col("net_m") > 0.0, round(col("length_m") / col("net_m"), 6) + 0.0))
  }

  /** Geofence enter/exit detection against a small static fence set: a point
    * is "inside" when within `radiusM` metres of ANY fence centre; a
    * transition row is emitted wherever a track's inside-flag flips between
    * consecutive points. The fence set is dimension-sized (driver Seq) and
    * becomes a chain of codegen'd haversines under `least` — no join, no
    * extra shuffle; the only exchange is the track window.
    *
    * The inside flag is computed ONCE per point BEFORE the window (a
    * Generate barrier upstream keeps the span parse single-evaluation, so
    * only cheap struct-field reads feed the chain) and the PREDECESSOR flag
    * is `lag(inside)` — one boolean through the exchange. The earlier
    * formulation lagged raw (lat, lon) and evaluated the fence chain on
    * both ends post-window, which Catalyst expanded to 3 chain evaluations
    * per row in the Filter plus 1 in the Project (~60+ haversines/row at 20
    * fences, measured in the r06 before-plan); this shape pays exactly one
    * chain per point — the same pre-state shape Streams.geofenceStream
    * already uses. */
  def geofenceTransitions(pts: DataFrame, fences: Seq[(Double, Double)],
                          radiusM: Double): DataFrame = {
    require(fences.nonEmpty, "geofenceTransitions needs at least one fence centre")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("offset"))
    pts.select(col("doc_id"), col("offset"), col("lat"), col("lon"),
        (Track.minFenceDist(fences, col("lat"), col("lon")) <= lit(radiusM)).as("inside"))
      .withColumn("p_inside", lag(col("inside"), 1).over(w))
      .where(col("p_inside").isNotNull && col("p_inside") =!= col("inside"))
      .select(col("doc_id"), col("offset"), col("lat"), col("lon"),
        when(col("inside"), lit("enter")).otherwise(lit("exit")).as("transition"))
  }

  /** Distance to the nearest fence centre as one codegen'd haversine chain
    * (Spark's `least` needs >= 2 arguments, so a single fence is its own
    * distance). Shared by the batch and streaming geofence operators. */
  private[graft] def minFenceDist(fences: Seq[(Double, Double)],
                                  la: Column, lo: Column): Column = {
    require(fences.nonEmpty, "need at least one fence centre")
    val ds = fences.map { case (fla, flo) =>
      call_function("st_haversine", lit(fla), lit(flo), la, lo)
    }
    if (ds.lengthCompare(1) == 0) ds.head else least(ds: _*)
  }

  /** Origin-destination matrix: each track contributes one (first-tile,
    * last-tile) pair at zoom `z`; output is the pair histogram. Two
    * shuffles: per-track argmin/argmax, then the pair count — both with
    * map-side partial aggregation. */
  def odMatrix(pts: DataFrame, z: Int): DataFrame =
    pts.select(col("doc_id"), col("offset"),
        call_function("st_tile_id", col("lat"), col("lon"), lit(z)).as("tid"))
      .groupBy(col("doc_id"))
      .agg(min_by(col("tid"), col("offset")).as("o_tile"),
        max_by(col("tid"), col("offset")).as("d_tile"))
      .groupBy(col("o_tile"), col("d_tile"))
      .agg(count(lit(1)).as("n_tracks"))
}
