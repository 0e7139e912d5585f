package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Cells.{TileXShift, TileXYMask, TileZShift}

/** Raster<->vector tile assignment + tile aggregation (slippy-map z/x/y).
  *
  * Point->tile is stateless per row (streamable); polygon->tiles is a
  * covering explode. Multi-resolution rollups use grouping sets over packed
  * tile ids at several zooms — partial aggregation (map-side combine) comes
  * from Catalyst for free.
  */
object Tiler {

  // Column codec for the packed z|x|y tile id (layout: Cells.tileId). The
  // decoded parts are longs; callers cast z to int where it is an output.
  private def tileZ(t: Column): Column = shiftrightunsigned(t, TileZShift)
  private def tileX(t: Column): Column =
    shiftrightunsigned(t, TileXShift).bitwiseAND(lit(TileXYMask))
  private def tileY(t: Column): Column = t.bitwiseAND(lit(TileXYMask))
  private def packTile(z: Column, x: Column, y: Column): Column =
    shiftleft(z, TileZShift) + shiftleft(x, TileXShift) + y

  /** points(doc_id, lat, lon, ...) -> + tile_id (packed z|x|y long). */
  def assign(points: DataFrame, zoom: Int): DataFrame =
    points.withColumn("tile_id",
      call_function("st_tile_id", col("lat"), col("lon"), lit(zoom)))

  /** Single-zoom tile raster: points(lat, lon, ...) -> (tile_id, n_points)
    * at `zoom`. The input contract of [[pyramidFromBase]], [[zonalStats]],
    * [[focalSmooth]], [[hotspotGi]] and [[moranI]], which all read the
    * `n_points` column. */
  def raster(points: DataFrame, zoom: Int): DataFrame =
    assign(points, zoom).groupBy(col("tile_id")).agg(count(lit(1)).as("n_points"))

  /** Per-tile doc histogram at one zoom: (tile_id, z, x, y, n_points,
    * n_docs). Default n_docs is approx_count_distinct at 5% rsd — single-pass,
    * and the default 2.3% rsd costs a 16 KB HLL sketch per (tile x task),
    * which dominated the whole query at high tile cardinality. `exact = true`
    * switches to exact count(distinct) (a second shuffle pass) for
    * oracle-comparable output. */
  def histogram(points: DataFrame, zoom: Int, exact: Boolean = false): DataFrame =
    assign(points, zoom)
      .groupBy(col("tile_id"))
      .agg(count(lit(1)).as("n_points"),
        (if (exact) countDistinct(col("doc_id"))
         else approx_count_distinct(col("doc_id"), 0.05)).as("n_docs"))
      .withColumn("z", tileZ(col("tile_id")).cast("int"))
      .withColumn("x", tileX(col("tile_id")))
      .withColumn("y", tileY(col("tile_id")))

  /** Multi-zoom rollup in one pass: tile ids at each requested zoom become
    * grouping-set columns. */
  def multiZoomHistogram(points: DataFrame, zooms: Seq[Int]): DataFrame = {
    val withTiles = zooms.foldLeft(points) { (df, z) =>
      df.withColumn(s"tile_z$z",
        call_function("st_tile_id", col("lat"), col("lon"), lit(z)))
    }
    val cols = zooms.map(z => col(s"tile_z$z"))
    withTiles.rollup(cols: _*)
      .agg(count(lit(1)).as("n_points"))
  }

  /** Parent tile id (zoom z -> z-1) by pure bit arithmetic on the packed
    * z|x|y long: slippy tiles nest by halving, so x>>1 / y>>1 is exact —
    * including at the clamped antimeridian/polar edges (floor division
    * commutes with the clamp). */
  def parentTileId(t: Column): Column =
    packTile(tileZ(t) - 1, shiftrightunsigned(tileX(t), 1),
      shiftrightunsigned(tileY(t), 1))

  /** Tile pyramid minZoom..maxZoom in one pass over the POINTS plus one
    * cheap rollup per coarser level: the base histogram aggregates the
    * points once at maxZoom; every other level reads the PREVIOUS level's
    * already-aggregated (and strictly smaller) output via [[parentTileId]]
    * — O(tiles) per level instead of O(points), the standard incremental
    * pyramid build a tile server runs at ingest. Output: (tile_id, z,
    * n_points) for every zoom in [minZoom, maxZoom]. */
  def pyramid(points: DataFrame, minZoom: Int, maxZoom: Int): DataFrame = {
    require(0 <= minZoom && minZoom <= maxZoom && maxZoom <= 29,
      s"bad zoom range [$minZoom, $maxZoom]")
    pyramidFromBase(raster(points, maxZoom), minZoom, maxZoom)
  }

  /** Pyramid seeded from an ALREADY-MATERIALIZED single-zoom histogram
    * (tile_id, n_points) at `maxZoom` — the path for a pipeline that has
    * just committed the base level: no re-aggregation of the points, every
    * level O(previous level's tiles). */
  def pyramidFromBase(base: DataFrame, minZoom: Int, maxZoom: Int): DataFrame = {
    require(0 <= minZoom && minZoom <= maxZoom && maxZoom <= 29,
      s"bad zoom range [$minZoom, $maxZoom]")
    val b = base.select(col("tile_id"), col("n_points"))
    val levels = Iterator.iterate(b) { prev =>
      prev.select(parentTileId(col("tile_id")).as("tile_id"), col("n_points"))
        .groupBy(col("tile_id")).agg(sum(col("n_points")).as("n_points"))
    }.take(maxZoom - minZoom + 1).toSeq
    levels.reduce(_ unionByName _)
      .withColumn("z", tileZ(col("tile_id")).cast("int"))
      .select("tile_id", "z", "n_points")
  }

  /** polygons(poly_id, ring) -> (poly_id, tile_id) covering at `zoom`
    * (vector->raster assignment). */
  def polyfill(polys: DataFrame, zoom: Int): DataFrame =
    polys.select(col("poly_id"),
      explode(call_function("st_tile_polyfill", col("ring"), lit(zoom))).as("tile_id"))

  /** Zonal statistics: per-polygon aggregates of a single-zoom tile
    * raster. zones: (poly_id, ring); tiles: (tile_id, n_points) at
    * `zoom`. Output: (poly_id, n_zone_tiles, n_data_tiles, total) —
    * covering size, covered tiles with data, and the value sum (exact
    * long arithmetic).
    *
    * Scale shape: the raster is the fact side and NEVER shuffles — the
    * dimension-sized zone covering is broadcast and the raster streams
    * through the hash join; only matched rows reach the poly_id groupBy.
    * Zones with no data come from a dimension-side-only aggregate, not an
    * outer join against the raster (Spark cannot preserve a broadcast
    * side, and outer-joining the raster would shuffle it). */
  def zonalStats(polys: DataFrame, tiles: DataFrame, zoom: Int): DataFrame = {
    val zones = polyfill(polys, zoom)
    val hits = tiles.select(col("tile_id"), col("n_points").cast("long").as("v"))
      .join(broadcast(zones), Seq("tile_id"))
      .groupBy(col("poly_id"))
      .agg(count(lit(1)).as("n_data_tiles"), sum(col("v")).as("total"))
    zones.groupBy(col("poly_id")).agg(count(lit(1)).as("n_zone_tiles"))
      .join(hits, Seq("poly_id"), "left_outer")
      .select(col("poly_id"), col("n_zone_tiles"),
        coalesce(col("n_data_tiles"), lit(0L)).as("n_data_tiles"),
        coalesce(col("total"), lit(0L)).as("total"))
  }

  private def choose(n: Int, k: Int): Long =
    (1 to k).foldLeft(1L)((acc, i) => acc * (n - k + i) / i)

  /** Shared neighbour-scatter machinery for the window operators
    * (focalSmooth / hotspotGi / moranI): decode the packed tile_id, explode
    * each row to its (dx, dy) window offsets, wrap x across the
    * antimeridian (mod 2^z), clamp y at the poles, and re-pack the
    * NEIGHBOUR position as `tile_id`. `keep` columns of `t` are carried
    * through; the offset struct stays available as `o`. An in-plan
    * assert_true rejects rows whose zoom makes the window wider than the x
    * ring (2r+1 > 2^z) — the wrap would otherwise reach the same column
    * from two different dx offsets and double-count contributions. */
  private def scatterWindow(t: DataFrame, offs: Column,
                            width: Int, keep: Seq[String]): DataFrame = {
    val id = col("tile_id")
    val ring = expr("shiftleft(1L, cast(z as int))")
    t.select(Seq(tileZ(id).as("z"), tileX(id).as("x"), tileY(id).as("y"),
        explode(offs).as("o")) ++
        keep.map(col): _*)
      .where(assert_true(lit(width.toLong) <= ring,
        lit(s"neighbour window of width $width is wider than the x ring at this zoom " +
          "(wrapped columns would be double-counted)")).isNull)
      .select(Seq(
        packTile(col("z"), pmod(col("x") + col("o.dx"), ring),
          col("y") + col("o.dy")).as("tile_id"),
        (col("y") + col("o.dy")).as("ny"), ring.as("ring"), col("o")) ++
        keep.map(col): _*)
      .where(col("ny") >= 0 && col("ny") < col("ring"))
      .drop("ny", "ring")
  }

  /** Binomial-kernel focal smoothing of a single-zoom tile raster
    * (tile_id, n_points) — the classic raster "focal statistics" /
    * heatmap-blur operator. Each output tile's value is the kernel-weighted
    * sum of n_points over its (2r+1)² neighborhood with separable weights
    * w(d) = C(2r, r+d) (the discrete binomial approximation of a Gaussian;
    * weights are INTEGERS, so the sums are exact longs — order-independent,
    * no float drift anywhere).
    *
    * Edge semantics: x wraps at the antimeridian (mod 2^z — longitude is
    * periodic); y clamps (no polar wrap; contributions that fall off the
    * top/bottom are dropped, the standard "ignore outside" focal policy).
    * Output covers the input's dilation by r: every tile that receives at
    * least one contribution appears, with (tile_id, z, sm).
    *
    * Scale shape: the input is an already-aggregated tile histogram (never
    * the raw points), the kernel explode is a bounded (2r+1)² factor, and
    * the single groupBy shuffles tile-sized data with map-side partial
    * aggregation. Weights overflow-check: sum(n·w) <= total_points · C(2r,r)²
    * — at r <= 8 that headroom is > 2^40 points. */
  def focalSmooth(tiles: DataFrame, r: Int = 1): DataFrame = {
    require(r >= 1 && r <= 8, s"kernel radius out of range [1,8]: $r")
    val w = (-r to r).map(d => choose(2 * r, r + d))
    val offs = array((for (dx <- -r to r; dy <- -r to r) yield
      struct(lit(dx).as("dx"), lit(dy).as("dy"),
        lit(w(dx + r) * w(dy + r)).as("w"))): _*)
    scatterWindow(tiles.select(col("tile_id"), col("n_points").cast("long").as("v")),
        offs, 2 * r + 1, keep = Seq("v"))
      .groupBy(col("tile_id"))
      .agg(sum(col("v") * col("o.w")).as("sm"))
      .withColumn("z", tileZ(col("tile_id")).cast("int"))
      .select("tile_id", "z", "sm")
  }

  /** Getis-Ord Gi* hot/cold-spot z-scores over the (sparse) tile raster
    * (tile_id, n_points):
    * for each OBSERVED tile, the weighted neighbourhood is the 3x3 window
    * (binary weights, self included) intersected with the observed tile set,
    * and
    *   gi = (wsum - mean*wn) / (s * sqrt((n*wn - wn^2) / (n - 1)))
    * with mean/s the global mean/population-std of the tile values and
    * wn the number of observed window tiles. x wraps at the antimeridian,
    * y clamps at the poles (same edge semantics as [[focalSmooth]]).
    *
    * Plan shape: ONE bounded 9x explode of the ALREADY-AGGREGATED tile
    * table scattered to neighbour positions and ONE hash shuffle grouping
    * by target tile — the self offset marks observedness and carries the
    * tile's own value, so no join back to the tile table and no second
    * evaluation of the input pipeline — plus a broadcast of the 1-row
    * global aggregate (computed from the grouped frame; its exchange is
    * reused). The raster itself is never re-shuffled, so the operator
    * scales with tile count, not point count. Values must be integral
    * counts (exact double sums); n >= 2 tiles required for a defined std;
    * tile_id must be unique (an aggregated raster).
    */
  def hotspotGi(tiles: DataFrame): DataFrame = {
    val t = tiles.select(col("tile_id"), col("n_points").cast("double").as("v"))
    val offs = array((for (dx <- -1 to 1; dy <- -1 to 1) yield
      struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
    // ONE evaluation of `tiles`: the dx=dy=0 contribution every observed
    // tile scatters to itself doubles as (a) the observedness marker that
    // used to need a join back to t and (b) the carrier of the tile's own
    // value for the global mean/std — so the upstream pipeline feeding
    // `tiles` runs once instead of three times (t, window, globals), and
    // the t⋈window equi-join disappears. Requires tile_id unique in
    // `tiles` (an aggregated raster — already the documented contract; a
    // duplicated id would double window sums in the old shape too).
    val isSelf = col("o.dx") === 0 && col("o.dy") === 0
    val grouped = scatterWindow(t, offs, width = 3, keep = Seq("v"))
      .groupBy(col("tile_id"))
      .agg(sum(col("v")).as("wsum"), count(lit(1)).as("wn"),
        max(when(isSelf, lit(1))).as("self_n"),
        max(when(isSelf, col("v"))).as("v_self"))
      .where(col("self_n") === 1)
    val globals = grouped.agg(count(lit(1)).as("n"), sum("v_self").as("sv"),
      sum(col("v_self") * col("v_self")).as("svv"))
    val mean = col("sv") / col("n")
    val s = sqrt(col("svv") / col("n") - mean * mean)
    val den = s * sqrt((col("n") * col("wn") - col("wn") * col("wn")) / (col("n") - 1.0))
    grouped.crossJoin(broadcast(globals))
      .select(col("tile_id"), col("wn"), col("wsum").cast("long").as("wsum"),
        when(den > 0.0, round((col("wsum") - mean * col("wn")) / den, 6) + 0.0).as("gi"))
  }

  /** Inverse-distance-weighted interpolation of a point measurement onto
    * the z tile grid: every tile within Chebyshev radius 1 of an occupied
    * tile gets est = sum(v_i / d_i^2) / sum(1 / d_i^2) over the points in
    * its 3x3 window, d_i = haversine(tile centre, point). The cutoff
    * is by tile adjacency (not metric radius) — the standard gridded-IDW
    * search window. Points exactly on a tile centre (d = 0) are excluded
    * (measure-zero; the limit est there is the point's own value).
    *
    * Output: (tile_id, n_contrib, est) — note tiles with NO points of
    * their own still get estimates from neighbouring points (the point of
    * interpolation: point samples -> continuous raster). Plan: one bounded
    * 9x explode of the point table + ONE shuffle with map-side
    * partial sums; scales with points, never materializes the full grid. */
  def idw(points: DataFrame, zoom: Int, valueCol: String): DataFrame = {
    require(3 <= (1L << zoom),
      s"window of width 3 is wider than the x ring at zoom $zoom — " +
        "the wrap would double-count contributions")
    val offs = array((for (dx <- -1 to 1; dy <- -1 to 1) yield
      struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
    val n = 1L << zoom
    points
      .select(col("lat"), col("lon"), col(valueCol).cast("double").as("v"),
        call_function("st_tile", col("lat"), col("lon"), lit(zoom)).as("t"))
      .select(col("lat"), col("lon"), col("v"), col("t.x").as("x"), col("t.y").as("y"),
        explode(offs).as("o"))
      .select(col("lat"), col("lon"), col("v"),
        pmod(col("x") + col("o.dx"), lit(n)).as("nx"),
        (col("y") + col("o.dy")).as("ny"))
      .where(col("ny") >= 0 && col("ny") < lit(n))
      .withColumn("c", call_function("st_tile_center", lit(zoom), col("nx"), col("ny")))
      .withColumn("dist", call_function("st_haversine",
        col("c.lat"), col("c.lon"), col("lat"), col("lon")))
      .where(col("dist") > 0.0)
      .groupBy(packTile(lit(zoom.toLong), col("nx"), col("ny")).as("tile_id"))
      .agg(count(lit(1)).as("n_contrib"),
        sum(col("v") / (col("dist") * col("dist"))).as("sw"),
        sum(lit(1.0) / (col("dist") * col("dist"))).as("w"))
      .select(col("tile_id"), col("n_contrib"),
        (round(col("sw") / col("w"), 6) + 0.0).as("est"))
  }

  /** Global Moran's I spatial autocorrelation over the (sparse) tile raster
    * (tile_id, n_points) with binary queen contiguity (8 neighbours, observed tiles only):
    *   I = (n / W) * sum_i (xi - m)(sum_nbr_i - wn_i * m) / sum_i (xi - m)^2
    * where sum_nbr_i / wn_i are the observed-neighbour value sum / count
    * (so sum_j w_ij (xj - m) = sum_nbr_i - wn_i * m) and W = sum wn_i.
    * Returns ONE row (n_tiles, w_pairs, moran_i): positive = clustered,
    * ~0 = random, negative = dispersed. Isolated tiles keep their
    * denominator contribution (wn = 0 from the lone self row).
    *
    * Same scale shape as [[hotspotGi]]: ONE bounded 9x scatter of the
    * aggregated tile table (8 neighbours + the self observedness marker),
    * one shuffle, everything else folds into one global aggregate —
    * the input pipeline is evaluated once. tile_id must be unique. */
  def moranI(tiles: DataFrame): DataFrame = {
    val t = tiles.select(col("tile_id"), col("n_points").cast("double").as("v"))
    // Same single-evaluation shape as [[hotspotGi]]: scatter ALL nine
    // offsets, but the self row only marks observedness and carries the
    // tile's own value — it is excluded from nsum/wn, so the neighbour
    // semantics (8 queen neighbours, observed only) are unchanged and the
    // old t-left-join-nbr (a second and third evaluation of `tiles`)
    // disappears. Isolated observed tiles receive just their self row:
    // nsum = 0 / wn = 0, exactly what the left join's coalesce produced.
    val offs = array((for (dx <- -1 to 1; dy <- -1 to 1) yield
      struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
    val isSelf = col("o.dx") === 0 && col("o.dy") === 0
    val grouped = scatterWindow(t, offs, width = 3, keep = Seq("v"))
      .groupBy(col("tile_id"))
      .agg(sum(when(!isSelf, col("v"))).as("nsum0"),
        count(when(!isSelf, lit(1))).as("wn"),
        max(when(isSelf, lit(1))).as("self_n"),
        max(when(isSelf, col("v"))).as("v_self"))
      .where(col("self_n") === 1)
      .select(col("v_self").as("v"), coalesce(col("nsum0"), lit(0.0)).as("nsum"),
        col("wn"))
    val globals = grouped.agg(count(lit(1)).as("n"), sum("v").as("sv"))
    val mean = col("sv") / col("n")
    grouped.crossJoin(broadcast(globals))
      .agg(count(lit(1)).as("n_tiles"), sum(col("wn")).as("w_pairs"),
        sum((col("v") - mean) * (col("nsum") - col("wn") * mean)).as("num"),
        sum((col("v") - mean) * (col("v") - mean)).as("den"))
      .select(col("n_tiles"), col("w_pairs"),
        when(col("w_pairs") > 0 && col("den") > 0.0,
          round(col("n_tiles") / col("w_pairs") * col("num") / col("den"), 6) + 0.0)
          .as("moran_i"))
  }
}
