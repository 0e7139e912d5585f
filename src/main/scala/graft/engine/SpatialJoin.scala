package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expr.GraftFunctions._

/** Distributed spatial join: point extraction -> cell index -> equi-join on
  * cell -> exact point-in-polygon refine.
  *
  * Scale design (SURVEY §2B "Joins"):
  *  - the fact side (doc spans) is exploded once, parsed once, and carries a
  *    single cell id — one shuffle key, no point duplication;
  *  - the polygon side is exploded into its covering cells (superset-exact
  *    covering) — polygons are the small side and are broadcast by default,
  *    so the fact side never shuffles for the join itself;
  *  - for polygon layers too large to broadcast, `salt = S > 1` spreads hot
  *    cells: the fact side gets salt = pmod(xxhash64(doc_id, offset), S) and
  *    the polygon side replicates each covering cell S times on a shuffle
  *    join (explicit skew handling; AQE skew-join remains as a backstop for
  *    that shuffle join).
  */
object SpatialJoin {

  /** Default cell level 5 (~4.9 x 4.9 km cells): matches hotspot sigma. */
  val DefaultLevel = 5

  /** Extract per-span points from the interleaved-doc table.
    * Output: doc_id, offset, lat, lon, cell. Spans without a parseable
    * in-bounds coordinate are dropped (null path).
    *
    * The parse result is emitted through explode(array(...)) — a Generate
    * barrier. Without it, the `isNotNull` filter gets pushed below the
    * projection and Catalyst re-inlines the full parse into the Filter,
    * evaluating `st_parse_point` twice per span (measured ~2x on the parse
    * benchmark); a filter on a generator's output cannot be pushed below the
    * Generate, so the parse runs exactly once. */
  def extractPoints(docs: DataFrame, level: Int = DefaultLevel): DataFrame = {
    docs
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("span_idx", "span")))
      .where(col("span.kind") === "text")
      .select(col("doc_id"), col("span.offset").as("offset"),
        explode(array(call_function("st_parse_point", col("span.text")))).as("pt"))
      .where(col("pt").isNotNull)
      .select(col("doc_id"), col("offset"),
        col("pt.lat").as("lat"), col("pt.lon").as("lon"))
      .withColumn("cell", call_function("st_cell", col("lat"), col("lon"), lit(level)))
  }

  /** Per-polygon cell budget for the adaptive covering: big polygons get
    * coarser cells so no polygon is ever dropped and the broadcast side
    * stays bounded at |polys| * MaxCellsPerPolygon rows. */
  val MaxCellsPerPolygon = 1024

  /** Polygon layer -> (poly_id, cell) multi-resolution covering rows.
    * Each polygon is covered at the finest level <= `level` that stays under
    * MaxCellsPerPolygon; the geohash prefix encodes its own level.
    *
    * The covering carries ONLY (poly_id, cell) — the ring geometry is NOT
    * duplicated per covering cell. The joins re-attach each polygon's ring
    * exactly once per MATCHED candidate via a second dimension join on
    * poly_id (the same payload-dedup joinMulti always used): the broadcast /
    * dimension shuffle shrinks by the per-polygon cell count times the
    * geometry size, which at a production layer (10^6 polygons x up to 1024
    * cells x KB-scale rings) is the difference between a feasible and an
    * impossible broadcast. */
  def polygonCells(polys: DataFrame, level: Int = DefaultLevel): DataFrame =
    polys.select(col("poly_id"), explode(call_function("st_cover_cells_adaptive",
      col("ring"), lit(level), lit(MaxCellsPerPolygon))).as("cell"))

  /** Prepared polygon side: covering rows (poly_id, cell), the distinct
    * covering levels, and the ring geometry (poly_id, ring) — one row per
    * polygon, attached to candidates AFTER the cell join so rings never
    * multiply into the covering. Build once per polygon-layer version and
    * reuse across jobs — the covering and the levels probe are per-layer
    * costs, not per-query. */
  final case class PolygonIndex(cells: DataFrame, levels: Array[Int],
                                rings: DataFrame)

  /** PRECONDITION: rings must not cross the antimeridian — coverings and
    * PIP run in planar lon space. The covering KERNEL enforces it (throws
    * mid-job with the offending lon range, zero extra Spark jobs);
    * `validateLayer` is the opt-in pre-flight that additionally NAMES the
    * offending polygons — run it once when onboarding a new layer. */
  def validateLayer(polys: DataFrame): Unit = {
    val span = array_max(transform(col("ring"), p => p("lon"))) -
      array_min(transform(col("ring"), p => p("lon")))
    val bad = polys.select(col("poly_id"))
      .where(span > 180.0).limit(5).collect().map(_.get(0))
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"polygon ring(s) appear to cross the antimeridian (lon span > 180 deg): " +
        s"${bad.mkString(", ")} — split them at +-180 before joining")
  }

  def buildIndex(polys: DataFrame, level: Int = DefaultLevel,
                 cache: Boolean = false): PolygonIndex = {
    val pc = polygonCells(polys, level)
    val pcc = if (cache) pc.cache() else pc
    val rings = polys.select(col("poly_id"), col("ring"))
    val ringsC = if (cache) rings.cache() else rings
    val levels = pcc.select(length(col("cell")).as("l"))
      .distinct().collect().map(_.getInt(0)).sorted
    PolygonIndex(pcc, levels, ringsC)
  }

  /** Join extracted points against polygons: multi-resolution cell equi-join
    * + PIP refine. Output: doc_id, offset, lat, lon, cell, poly_id.
    *
    * The point side joins once per distinct covering level present in the
    * polygon layer (its level-L prefix); each polygon is covered at exactly
    * one level so no duplicate matches arise. The distinct-levels probe is a
    * plan-time action on the dimension-sized polygon side only.
    *
    * `salt` = 1 (the default) broadcasts the (small) polygon-cell side;
    * `salt` > 1 plans a shuffle join keyed on (cell, salt) that splits hot
    * cells across reducers. */
  def join(points: DataFrame, polys: DataFrame, level: Int = DefaultLevel,
           salt: Int = 1): DataFrame =
    joinWithIndex(points, buildIndex(polys, level), salt)

  /** Points keyed for the per-level equi-join: one row per distinct covering
    * level, `jcell` = the point cell's prefix at that level. */
  private def keyed(points: DataFrame, levels: Array[Int]): DataFrame =
    points.withColumn("jcell", explode(array(levels.map(l => substring(col("cell"), 1, l)): _*)))

  /** The broadcast cell probe: keyed points join the broadcast (poly_id,
    * cell) covering on `jcell`, then each candidate picks up its polygon's
    * geometry from a second broadcast keyed on poly_id (one row per polygon
    * — never one per covering cell). Both joins use `how`; the caller runs
    * the PIP refine. */
  private def probe(points: DataFrame, index: PolygonIndex, how: String): DataFrame =
    keyed(points, index.levels)
      .join(broadcast(index.cells.withColumnRenamed("cell", "jcell")), Seq("jcell"), how)
      .join(broadcast(index.rings), Seq("poly_id"), how)

  /** Join against a prebuilt polygon index (static-layer fast path; the
    * points may be a streaming frame — the index is a static dimension, so
    * the stream-static join needs no state). Same arms as [[join]].
    *
    * The salted arm rebuilds the ring-carrying covering with a
    * DIMENSION-side join first, so the fact side still shuffles exactly once
    * on the (cell, salt) key (attaching rings after the shuffle join would
    * re-shuffle fact-sized candidates by poly_id instead). */
  def joinWithIndex(points: DataFrame, index: PolygonIndex, salt: Int = 1): DataFrame = {
    val outCols = points.columns.map(col) :+ col("poly_id")
    val cand =
      if (salt > 1)
        keyed(points, index.levels)
          .withColumn("salt", pmod(xxhash64(col("doc_id"), col("offset")), lit(salt)).cast("int"))
          .join(index.cells.join(index.rings, Seq("poly_id"))
            .withColumnRenamed("cell", "jcell")
            .withColumn("salt", explode(sequence(lit(0), lit(salt - 1)))),
            Seq("jcell", "salt"), "inner")
      else probe(points, index, "inner")
    cand.where(call_function("st_point_in_polygon", col("lat"), col("lon"), col("ring")))
      .select(outCols: _*)
  }

  /** Prefix range-join variant: joins WITHOUT exploding the fact side.
    *
    * The multi-resolution path in [[joinWithIndex]] explodes each point into
    * one row per distinct covering level — at many levels that multiplies the
    * fact side. Geohash prefixes nest, so instead: both sides project a
    * single pivot key (the coarsest covering level's prefix), equi-join on
    * it, and refine with a prefix-containment filter (the interval test
    * cellMin <= cell < cellMax, expressed as startsWith) + exact PIP. One row
    * per point and one row per covering cell enter the join regardless of
    * how many covering levels the layer mixes. The covering is broadcast
    * ring-free; the prefix-containment filter prunes candidates BEFORE each
    * survivor picks up its ring from the one-row-per-polygon broadcast.
    *
    * Trade-off: candidate pairs = points x covering-cells within each pivot
    * cell, so a very coarse pivot level concentrates more candidates per key
    * than the per-level equi-join; the PIP refine is unchanged. Prefer this
    * variant when the layer mixes many covering levels, the default when it
    * uses one or two.
    *
    * Requires points extracted at a level >= index.levels.max (the default
    * extraction level is also the covering maxLevel, so this holds). An
    * empty polygon layer has no levels and joins no rows. */
  def joinRangeWithIndex(points: DataFrame, index: PolygonIndex): DataFrame = {
    // empty layer: any pivot works, the empty covering matches nothing
    val pivot = index.levels.minOption.getOrElse(1)
    val outCols = points.columns.map(col) :+ col("poly_id")
    // join key = xxhash64 of the pivot prefix, not the string itself: long
    // hashing/equality beats per-row string hashing in the build-side probe
    // (measured -20% on the join phase at 1M docs). EXACT despite hashing:
    // a colliding pair has different pivot prefixes, and `cell startsWith
    // ccell` forces equal pivot prefixes (len(ccell) >= pivot), so no
    // collision can survive the containment re-check below.
    val cells = index.cells.select(col("poly_id"), col("cell").as("ccell"),
      xxhash64(substring(col("cell"), 1, pivot)).as("pkey"))
    points.withColumn("pkey", xxhash64(substring(col("cell"), 1, pivot)))
      .join(broadcast(cells), Seq("pkey"), "inner")
      .where(col("cell").startsWith(col("ccell")))
      .join(broadcast(index.rings), Seq("poly_id"), "inner")
      .where(call_function("st_point_in_polygon", col("lat"), col("lon"), col("ring")))
      .select(outCols: _*)
  }

  /** Multi-ring spatial join: polygons with holes and/or multipolygons
    * (`polys`: poly_id, rings: array<array<struct<lat,lon>>>).
    *
    * Covering: the union of each ring's adaptive covering — holes only
    * subtract area so any covering that includes the outer ring's cells is
    * superset-exact, and covering every component handles multipolygons.
    * Rings of one polygon may cover at different adaptive levels, which
    * would let the same (point, poly) candidate arise through two NESTED
    * cells; instead of deduping the fact-side pairs (a full shuffle of all
    * candidates before the refine — measured 3.7x the single-ring join),
    * cells nested under a coarser cell of the same polygon are removed on
    * the dimension side (tiny, broadcast). The survivors are pairwise
    * disjoint per polygon, so each point matches at most one covering cell
    * per polygon and the plan stays shuffle-free after the broadcast join.
    * Refine: st_point_in_polygon_multi (even-odd over all rings). Each ring
    * is covered at the finest level <= DefaultLevel that stays under
    * MaxCellsPerPolygon cells. */
  def joinMulti(points: DataFrame, polys: DataFrame,
                broadcastPolys: Boolean = true): DataFrame = {
    // The covering machinery moves ONLY (poly_id, cell) string pairs —
    // carrying the full nested `rings` geometry through the dedup/prune
    // shuffles (and duplicating it per covering cell in the broadcast)
    // multiplies the dimension payload by the per-polygon cell count; the
    // geometry is re-attached once per MATCHED row by a second broadcast
    // join on poly_id, where each polygon's rings ship exactly once.
    // per-ring covering, compacted (st_compact_cells — complete sibling
    // sets collapse, coverage exactly preserved): fewer (poly_id, cell)
    // rows enter the dedup/prune shuffles and the broadcast below
    val rawCells = polys
      .select(col("poly_id"), explode(col("rings")).as("ring"))
      .select(col("poly_id"),
        explode(call_function("st_compact_cells",
          call_function("st_cover_cells_adaptive",
            col("ring"), lit(DefaultLevel), lit(MaxCellsPerPolygon)))).as("cell"))
    // Nested-cell prune: drop cells strictly nested under a coarser cell of
    // the SAME polygon — coverage is unchanged (the coarser cell contains
    // them) and the remaining per-polygon cells are pairwise disjoint.
    //
    // Broadcast path: the covering is DIMENSION-sized (it is about to be
    // broadcast anyway), so collect the RAW per-ring covering once and run
    // the dedup + prune as driver set operations — the pre-r06 formulation
    // ran a dropDuplicates shuffle plus a broadcast anti-join and then
    // collected the result anyway, paying two extra dimension-side jobs for
    // work a hash set does in microseconds at this size. The levels probe
    // reads the same driver copy and the join side is a LocalRelation. No
    // executor cache is pinned for the session (a .cache() here is never
    // unpersistable: the returned lazy plan still references it).
    //
    // Non-broadcast path (big dimension): keep the fully distributed plan —
    // dropDuplicates, then the prune as a shuffled sort-merge anti-join
    // keyed on poly_id, where both sides co-partition and each polygon's
    // cells (<= MaxCellsPerPolygon per ring) meet within one task.
    val ringsDim = polys.select(col("poly_id"), col("rings"))
    val cand =
      if (broadcastPolys) {
        val rows = rawCells.collect()
        val byPoly = rows.groupBy(_.getString(0))
          .view.mapValues(_.map(_.getString(1)).toSet)
        val keep = byPoly.toSeq.sortBy(_._1).flatMap { case (poly, cells) =>
          val lens = cells.map(_.length)
          cells.toSeq.sorted
            .filterNot(c => lens.exists(l => l < c.length && cells(c.substring(0, l))))
            .map(c => org.apache.spark.sql.Row(poly, c))
        }
        val ls = keep.map(_.getString(1).length).distinct.sorted
        val local = rawCells.sparkSession.createDataFrame(
          java.util.Arrays.asList(keep: _*), rawCells.schema)
        probe(points, PolygonIndex(local, ls.toArray, ringsDim), "inner")
      } else {
        val cells0 = rawCells.dropDuplicates("poly_id", "cell")
        val pruned = cells0.alias("a").join(cells0.hint("merge").alias("b"),
            col("a.poly_id") === col("b.poly_id") &&
              length(col("b.cell")) < length(col("a.cell")) &&
              col("a.cell").startsWith(col("b.cell")), "left_anti")
          .select(col("a.poly_id").as("poly_id"), col("a.cell").as("jcell"))
        val ls = pruned.select(length(col("jcell")).as("l"))
          .distinct().collect().map(_.getInt(0)).sorted
        keyed(points, ls)
          .join(pruned.hint("merge"), Seq("jcell"), "inner")
          .join(ringsDim.hint("merge"), Seq("poly_id"), "inner")
      }
    cand
      .where(call_function("st_point_in_polygon_multi",
        col("lat"), col("lon"), col("rings")))
      .drop("rings", "jcell")
  }

  /** Fixed-radius distance join: every (site, point) pair within `radiusM`
    * metres — the "all points near each site" query between kNN (nearest k)
    * and PIP containment (polygon membership).
    *
    * Shape: each site explodes into its cell DISK of Chebyshev radius k,
    * where k is the smallest ring count whose provable outside-disk
    * distance bound ([[Knn.outsideDiskLowerBound]], worst-cased over the
    * sites' maximum |lat| — one dimension-sized driver aggregate) reaches
    * `radiusM`; a point within the radius is therefore ALWAYS inside the
    * disk, so equi-join on cell + exact haversine refine is exact, with no
    * point-side explode and no candidate duplication (a disk is a set, so
    * each site meets each point's cell at most once).
    *
    * sites: (qid, lat, lon) — the small side (broadcast); points:
    * (pid, lat, lon[, cell]) — the fact side, which never shuffles; a
    * present `cell` column is REUSED and must have been computed at
    * DefaultLevel (extractPoints' default).
    * Output: (qid, pid, dist) with dist <= radiusM. */
  def withinDistance(sites: DataFrame, points: DataFrame, radiusM: Double): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
    require(radiusM > 0, s"radiusM must be positive: $radiusM")
    val spark = sites.sparkSession
    // per-site disk radius k (sites are dimension-sized — they are about to
    // be broadcast — so computing k on the driver costs one small collect).
    // Near the poles the Chebyshev bound COLLAPSES (cell lon-width -> 0 as
    // cos(lat) -> 0, and growing the disk pushes its worst-case |lat|
    // toward 90 faster than the bound grows), so sites whose bound cannot
    // reach radiusM within k <= 64 rings take the exact LAT-BAND path
    // instead: |lat(point) - lat(site)| <= radius-in-latitude-degrees is a
    // NECESSARY condition for any within-radius pair (meridian arc is the
    // shortest way to change latitude), and near the pole that band is a
    // tiny fraction of the corpus.
    // qid is collected GENERICALLY (any type — the output keeps it);
    // lat/lon are cast so float-typed site coords work too. Null site
    // coords fail fast rather than silently matching nothing.
    val qidType = sites.schema("qid").dataType
    val siteRows = sites.select(col("qid"),
        col("lat").cast("double").as("lat"), col("lon").cast("double").as("lon"))
      .collect()
      .map { r =>
        require(!r.isNullAt(1) && !r.isNullAt(2),
          s"site ${r.get(0)} has null lat/lon")
        (r.get(0), r.getDouble(1), r.getDouble(2))
      }
    def siteDf(rows: Seq[Row], extra: Seq[StructField]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("qid", qidType),
          StructField("q_lat", DoubleType, nullable = false),
          StructField("q_lon", DoubleType, nullable = false)) ++ extra))
    // STRICT > radiusM: the refine predicate is dist <= radiusM, so a point
    // at distance exactly equal to a merely ">=" bound could be a true
    // match outside the disk. (MetersPerDegree's round-down already makes
    // that unreachable, but exactness must not hinge on a constant's
    // rounding direction — Knn uses the same strict discipline.)
    def kFor(lat: Double): Option[Int] =
      (1 to 64).find(k => Knn.outsideDiskLowerBound(lat, DefaultLevel, k) > radiusM)
    val withK = siteRows.map(s => (s, kFor(s._2)))
    val regular = withK.collect { case ((q, la, lo), Some(k)) => (q, la, lo, k) }
    val polar = withK.collect { case (s, None) => s }
    def refine(cand: DataFrame): DataFrame =
      cand.withColumn("dist", call_function("st_haversine",
          col("q_lat"), col("q_lon"), col("lat"), col("lon")))
        .where(col("dist") <= radiusM)
        .select(col("qid"), col("pid"), col("dist"))
    // reuse the caller's cell column when present — extractPoints already
    // pays the encode; it MUST have been computed at DefaultLevel
    val pts =
      if (points.columns.contains("cell")) points
      else points.withColumn("cell",
        call_function("st_cell", col("lat"), col("lon"), lit(DefaultLevel)))
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (regular.nonEmpty) {
      val siteCells = siteDf(regular.toSeq.map { case (q, la, lo, k) => Row(q, la, lo, k) },
          Seq(StructField("k", IntegerType, nullable = false)))
        .withColumn("scell",
          call_function("st_cell", col("q_lat"), col("q_lon"), lit(DefaultLevel)))
        .withColumn("cell",
          explode(call_function("st_cell_disk", col("scell"), col("k"))))
        .select(col("qid"), col("q_lat"), col("q_lon"), col("cell"))
      parts += refine(pts.join(broadcast(siteCells), Seq("cell")))
    }
    if (polar.nonEmpty) {
      // conservative band half-width: true lat delta <= radius / (meridian
      // metres per degree), and MetersPerDegree is rounded DOWN. The band
      // test is discretized into an integer band id so the join is an
      // EQUI-join (broadcast HASH join): a raw |lat - q_lat| <= bandDeg
      // predicate would plan a broadcast nested-loop join — a full fact
      // scan per polar site batch. |dlat| <= bandDeg implies the point's
      // band id is within +-1 of the site's, so each site covers 3 band
      // keys and the haversine refine keeps exactness.
      val bandDeg = radiusM / Knn.MetersPerDegree
      val polarDf = siteDf(polar.toSeq.map { case (q, la, lo) => Row(q, la, lo) }, Nil)
        .withColumn("lat_band", explode(array((-1 to 1).map(d =>
          floor(col("q_lat") / lit(bandDeg)).cast("long") + lit(d.toLong)): _*)))
      parts += refine(
        pts.withColumn("lat_band", floor(col("lat") / lit(bandDeg)).cast("long"))
          .join(broadcast(polarDf), Seq("lat_band")))
    }
    if (parts.isEmpty) // empty site set -> correctly-typed empty frame
      sites.select(col("qid")).where(lit(false))
        .crossJoin(points.select(col("pid")).where(lit(false)))
        .withColumn("dist", lit(0.0))
    else parts.reduce(_ unionByName _)
  }

  /** Both containment answers from ONE PASS over the points: (doc_id,
    * status) with status 'in' (>= 1 point in any polygon) or 'out'.
    *
    * The cell join runs LEFT_OUTER against the broadcast covering, so
    * non-matching points stay in the stream and the per-doc max(hit)
    * aggregate yields the split directly — the point pipeline is evaluated
    * once and shuffled once (map-side partial max per doc). The previous
    * shape (inner join for the hit set + a second distinct over the points
    * for the domain) evaluated the upstream point extraction twice: the
    * hit-set subtree and the domain subtree differ, so exchange reuse
    * could never merge them. PIP on an unmatched candidate sees a null
    * ring and returns null (= no hit). */
  def containmentSplit(points: DataFrame, polys: DataFrame): DataFrame = {
    val index = buildIndex(polys)
    if (index.levels.isEmpty)
      // empty polygon layer: every doc with >= 1 point is 'out' (what the
      // join-then-probe shape produced); explode(array()) would instead
      // drop every row and empty the domain
      return points.select(col("doc_id")).distinct()
        .withColumn("status", lit("out"))
    probe(points.select(col("doc_id"), col("lat"), col("lon"), col("cell")), index, "left_outer")
      .groupBy(col("doc_id"))
      .agg(max(when(call_function("st_point_in_polygon",
        col("lat"), col("lon"), col("ring")), 1).otherwise(0)).as("hit"))
      .select(col("doc_id"),
        when(col("hit") === 1, lit("in")).otherwise(lit("out")).as("status"))
  }
}
