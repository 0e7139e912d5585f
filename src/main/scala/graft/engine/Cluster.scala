package graft.engine

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Density-based spatial clustering (grid DBSCAN) and the distributed
  * fixed-radius NEIGHBOR SELF-JOIN it is built on.
  *
  * [[SpatialJoin.withinDistance]] answers "all points near each SITE" for a
  * dimension-sized site list (sites are collected and broadcast). The
  * self-join here is the fact-×-fact shape — every point is both a site and
  * a candidate — so nothing is collected: both sides shuffle on a cell key
  * and meet in a plain equi-join. That is the shape that survives 100 TB;
  * a broadcast formulation cannot (the "site" side IS the corpus).
  *
  * Exactness reuses the kNN disk bound ([[Knn.outsideDiskLowerBound]]):
  * a point within `radiusM` of another is provably inside the other's cell
  * disk of radius k, where k depends only on |lat|. k is precomputed per
  * 0.5°-|lat| band on the driver (pure math over ≤181 rows — no data is
  * collected) and attached with a broadcast join. Near the poles the bound
  * collapses (cell lon-width → 0); those rows take an integer LAT-BAND
  * equi-join instead (|Δlat| ≤ radius in latitude degrees is a necessary
  * condition for any within-radius pair), exactly like withinDistance's
  * polar arm. Hot cells (a dense city in one cell) skew the shuffle join;
  * AQE's skew-join handles the sort-merge path — the same backstop as the
  * polygon joins (SpatialJoin scaladoc).
  */
object Cluster {

  /** |lat| band width (degrees) for the per-band disk-radius lookup. */
  val BandDegWidth = 0.5

  private def nBands: Int = math.ceil(90.0 / BandDegWidth).toInt

  /** Smallest disk radius k whose outside-disk lower bound clears `radiusM`
    * for EVERY latitude in band b (the bound is monotone non-increasing in
    * |lat|, so the band's poleward edge is the worst case); -1 marks a
    * polar band where no k <= 64 suffices. Strict `>`: the refine keeps
    * dist <= radiusM, so a bound exactly equal to the radius could sit on
    * a true match outside the disk (Knn's discipline). */
  private def diskKByBand(radiusM: Double): Seq[(Int, Int)] =
    (0 until nBands).map { b =>
      val worstLat = math.min(90.0, (b + 1) * BandDegWidth)
      val k = (1 to 64).find(k =>
        Knn.outsideDiskLowerBound(worstLat, SpatialJoin.DefaultLevel, k) > radiusM)
      (b, k.getOrElse(-1))
    }

  /** Every ORDERED pair of distinct points within `radiusM` metres
    * (haversine): (pid_a, pid_b, dist) with dist <= radiusM — each
    * unordered pair appears exactly twice, once per direction, and no
    * ordered pair appears more than once (a's disk is a cell SET and b has
    * one cell, so a candidate pair meets in at most one join key; the
    * regular/polar arms partition on a's band so they cannot overlap).
    *
    * points: (pid, lat, lon[, cell]) — pid of any type, assumed unique; a
    * present `cell` column is reused and must have been computed at
    * SpatialJoin.DefaultLevel. Rows with a null lat or lon are DROPPED
    * (they have no location; a null coordinate cannot be within any
    * radius).
    *
    * Plan shape: one explode of the left side into its (2k+1)² disk cells
    * (k = 1-2 for city-scale radii at the default level), one shuffle
    * equi-join on the cell string, haversine refine. No broadcast of
    * anything fact-sized, no driver collect of any data. */
  def neighborPairs(points: DataFrame, radiusM: Double): DataFrame = {
    require(radiusM > 0, s"radiusM must be positive: $radiusM")
    val spark = points.sparkSession
    import spark.implicits._
    val pts0 = points
      .where(col("lat").isNotNull && col("lon").isNotNull)
      .select(col("pid"), col("lat").cast("double").as("lat"),
        col("lon").cast("double").as("lon"),
        (if (points.columns.contains("cell")) col("cell")
         else call_function("st_cell", col("lat"), col("lon"),
           lit(SpatialJoin.DefaultLevel))).as("cell"))
    val bands = diskKByBand(radiusM).toDF("band", "k")
    val banded = pts0
      .withColumn("band",
        least(floor(abs(col("lat")) / lit(BandDegWidth)).cast("int"), lit(nBands - 1)))
      .join(broadcast(bands), Seq("band"))
    val right = banded.select(col("pid").as("pid_b"), col("lat").as("b_lat"),
      col("lon").as("b_lon"), col("cell").as("jcell"), (col("k") === -1).as("b_polar"))
    def refine(cand: DataFrame): DataFrame =
      cand.where(col("pid_a") =!= col("pid_b"))
        .withColumn("dist", call_function("st_haversine",
          col("a_lat"), col("a_lon"), col("b_lat"), col("b_lon")))
        .where(col("dist") <= radiusM)
    // regular arm: a explodes into its disk, meets EVERY b (polar or not)
    // keyed by b's single cell — covers all ordered pairs with a regular
    val reg = banded.where(col("k") =!= -1)
      .select(col("pid").as("pid_a"), col("lat").as("a_lat"), col("lon").as("a_lon"),
        explode(call_function("st_cell_disk", col("cell"), col("k"))).as("jcell"))
    val part1 = refine(reg.join(right, Seq("jcell")))
      .select(col("pid_a"), col("pid_b"), col("dist"), col("b_polar"))
    // ordered pairs with a POLAR left side: (polar, regular) is the exact
    // mirror of part1's (regular, polar) rows — haversine is symmetric —
    // and (polar, polar) pairs meet in the lat-band arm below
    val mirrored = part1.where(col("b_polar"))
      .select(col("pid_b").as("pid_a"), col("pid_a").as("pid_b"), col("dist"))
    val polar = banded.where(col("k") === -1)
    val bandDeg = radiusM / Knn.MetersPerDegree // MPD rounded DOWN => band is conservative
    val polarL = polar.select(col("pid").as("pid_a"), col("lat").as("a_lat"),
      col("lon").as("a_lon"),
      explode(array((-1 to 1).map(d =>
        floor(col("lat") / lit(bandDeg)).cast("long") + lit(d.toLong)): _*)).as("lband"))
    val polarR = polar.select(col("pid").as("pid_b"), col("lat").as("b_lat"),
      col("lon").as("b_lon"), floor(col("lat") / lit(bandDeg)).cast("long").as("lband"))
    val part2 = refine(polarL.join(polarR, Seq("lband")))
      .select(col("pid_a"), col("pid_b"), col("dist"))
    part1.select(col("pid_a"), col("pid_b"), col("dist"))
      .unionByName(mirrored).unionByName(part2)
  }

  /** Grid DBSCAN over (pid, lat, lon[, cell]) with haversine metric.
    * Output: (pid, cluster, is_core) —
    *  - core: |N_eps(p)| >= minPts, the point itself INCLUDED (the standard
    *    DBSCAN definition); cluster = the minimum core pid reachable
    *    through core-core eps-edges (connected components of the core
    *    graph, so the label is canonical and deterministic);
    *  - border: non-core with >= 1 core neighbor; cluster = the MINIMUM
    *    cluster label among its core neighbors (textbook DBSCAN leaves
    *    border assignment scan-order-dependent; a distributed operator
    *    must not, so ties break to the smallest label);
    *  - noise: everything else; cluster is NULL.
    *
    * Scale shape: the eps-graph comes from [[neighborPairs]] (shuffle
    * equi-join, nothing broadcast), and the core components run through
    * [[Dedup.connectedComponents]] (min-label + pointer doubling: O(log
    * diameter) rounds, per-round shuffles touch only the label table).
    * Worst case remains inherently quadratic in a ball of radius eps — the
    * metric's own property (a corpus with 10⁶ coincident points has 10¹²
    * eps-pairs no matter the algorithm); callers bound it by choosing eps
    * against their density, not by a silent cap.
    *
    * The pair graph and the per-point flag table each feed several
    * consumers, so each is [[pinned]] for the call: the connected-components
    * phase's own actions, inside this call, fill both caches, and the
    * returned lazy frame reads them. Nothing is written to disk and no
    * checkpoint dir is needed; Spark's ContextCleaner releases the blocks
    * once the caller has dropped the result and it is garbage-collected. */
  def dbscan(points: DataFrame, epsM: Double, minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1: $minPts")
    // the upstream point pipeline feeds both pinned frames — the pair join
    // (whose a/b sides already share one exchange) and the flag table's
    // base — so without this it is evaluated twice while they fill.
    // Persisted for the call, which fills both (lineage is NOT truncated,
    // so a lost cache partition recomputes from the caller's input). An
    // input the caller already cached is used as-is and stays cached.
    val owned = points.storageLevel == StorageLevel.NONE
    if (owned) points.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      dbscanBuilt(points, epsM, minPts)
    } finally if (owned) points.unpersist()
  }

  /** `df` persisted at the RDD level (MEMORY_AND_DISK) and wrapped back
    * into a DataFrame, so that its consumers share one computation. The
    * first action over it fills the cache and later plans read the blocks.
    * Lineage is NOT truncated: a lost block recomputes from `df`'s plan.
    * Nothing is registered in the CacheManager; Spark's ContextCleaner
    * unpersists the blocks once the RDD is garbage-collected, i.e. once
    * no live frame references it. */
  private def pinned(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      df.rdd.persist(StorageLevel.MEMORY_AND_DISK), df.schema)

  private def dbscanBuilt(points: DataFrame, epsM: Double, minPts: Int): DataFrame = {
    val prs = pinned(neighborPairs(points, epsM))
    val base = points
      .where(col("lat").isNotNull && col("lon").isNotNull)
      .select(col("pid"))
    val degrees = prs.groupBy(col("pid_a").as("pid")).agg(count(lit(1)).as("nn"))
    // flagged has MANY consumers (core ids, core-edge semi-joins, border
    // candidates, the final outer join, plus the CC regime's node set);
    // unpinned, the final plan re-evaluates the upstream point pipeline and
    // the degree aggregation FOUR times (r06 before-plan: 4 identical parse
    // subtrees, 4 identical degree exchanges)
    val flagged = pinned(
      base.join(degrees, Seq("pid"), "left_outer")
        .select(col("pid"),
          (coalesce(col("nn"), lit(0L)) + lit(1L) >= minPts).as("is_core")))
    val coreIds = flagged.where(col("is_core")).select(col("pid"))
    // each unordered core-core edge once (pairs carry both directions)
    val coreEdges = prs.where(col("pid_a") < col("pid_b"))
      .join(coreIds.withColumnRenamed("pid", "pid_a"), Seq("pid_a"), "left_semi")
      .join(coreIds.withColumnRenamed("pid", "pid_b"), Seq("pid_b"), "left_semi")
    // validateNodes = false: core-edge endpoints are semi-joined against
    // coreIds above, so endpoint ⊆ nodes holds by construction
    val labels = Dedup.connectedComponents(
      coreIds.select(col("pid").as("doc_id")),
      coreEdges.select(col("pid_a").as("doc_a"), col("pid_b").as("doc_b")),
      maxIter = 30, validateNodes = false, Dedup.DriverEdgeCap)
    val coreLabeled = labels.select(col("doc_id").as("pid"), col("rep").as("cluster"))
    val borderLabeled = prs
      .join(flagged.where(!col("is_core")).select(col("pid").as("pid_a")),
        Seq("pid_a"), "left_semi")
      .join(coreLabeled.select(col("pid").as("pid_b"), col("cluster")), Seq("pid_b"))
      .groupBy(col("pid_a").as("pid")).agg(F.min(col("cluster")).as("cluster"))
    val assigned = coreLabeled.unionByName(borderLabeled)
    flagged.join(assigned, Seq("pid"), "left_outer")
      .select(col("pid"), col("cluster"), col("is_core"))
  }
}
