package graft.engine

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Cells

/** k-nearest-neighbour via cell-ring expansion (engine operator named in the
  * north star; no reference counterpart).
  *
  * Round r joins each still-unresolved query against points in its cell disk
  * of Chebyshev radius r, keeps the top-k by haversine distance
  * (window row_number over dist), and resolves a query when its k-th
  * neighbour is provably closer than anything outside the disk — the bound
  * uses the cell's minimum metric dimension at the query's latitude band
  * (geohash cells are anisotropic; we take the worst case over the disk).
  * Unresolved queries expand to the next ring, bounded at `MaxRounds`;
  * any residual is finished exactly with a targeted brute-force pass, so
  * the result always equals true top-k. The round state (the unresolved
  * queries and each resolved query's k rows) is query-sized and lives on
  * the driver: one collect per round, nothing written to disk, no
  * emptiness job.
  */
object Knn {

  /** Metres per degree of great-circle arc on the haversine sphere
    * (R = 6371008.8 m, matching `st_haversine`): 2*pi*R/360 = 111194.9267...
    * Rounded DOWN so every product below stays a true lower bound. */
  val MetersPerDegree = 111194.0

  /** Cell level of the ring expansion (geohash 4, ~39 x 20 km cells): a
    * smaller level means bigger cells, so fewer rounds but more candidates
    * per round. */
  private val Level = 4

  /** Ring rounds before the residual brute-force pass. */
  private val MaxRounds = 6

  /** Correction factor for the lon-separation bound: the haversine distance
    * between two points Δλ apart at |lat| <= φ is
    *   2R·asin(√(cos²φ')·sin(Δλ/2)) >= 2R·cosφ·sin(Δλ/2)
    * and sin(t) >= t·(1 - t²/6), so with x = Δλ in radians
    *   dist >= R·x·cosφ·(1 - x²/24).
    * Without this factor the straight parallel-arc estimate R·x·cosφ
    * OVERSTATES the true minimum by up to ~x²/24 — a resolved query could
    * then miss a marginally closer point just outside the disk. */
  private def lonChordSlack(xRad: Double): Double = math.max(0.0, 1.0 - xRad * xRad / 24.0)

  /** Lower bound (metres) on the distance from a point inside the centre
    * cell to any point outside the disk of radius r at latitude `lat`.
    * A point outside the disk is >= r cells away in lat or in lon:
    *  - lat case: meridian arc is exact, dist >= r·latDeg·(pi·R/180);
    *  - lon case: dist >= r·lonDeg·(pi·R/180)·cos(maxAbsLat)·slack, where
    *    maxAbsLat bounds |lat| over the disk plus one cell (the outside
    *    point's own cell) and slack is the chord correction above. */
  def outsideDiskLowerBound(lat: Double, level: Int, r: Int): Double = {
    val (latDeg, lonDeg) = Cells.cellSizeDeg(level)
    // worst-case |lat| anywhere in the disk + the adjacent outside cell
    val maxAbsLat = math.min(90.0, math.abs(lat) + (r + 1) * latDeg)
    val latM = latDeg * MetersPerDegree
    val lonM = lonDeg * MetersPerDegree *
      math.max(0.0, math.cos(math.toRadians(maxAbsLat))) *
      lonChordSlack(math.toRadians(r * lonDeg))
    r * math.min(latM, lonM)
  }

  /** queries: (qid, lat, lon); points: (pid, lat, lon).
    * Returns (qid, pid, dist, rank) with rank 1..k per query.
    *
    * Round state lives on the driver: the query list is collected once and
    * each row gets a driver index `qi`; every round ships the unresolved
    * queries as a local relation, joins their disk against the cached
    * points and collects the top-k rows per query (one collect per round,
    * one for the residual pass). No checkpoint dir is needed and a call
    * leaves no files behind. The driver therefore holds k rows per query:
    * a query set whose results exceed `spark.driver.maxResultSize` fails
    * the collect loudly rather than spilling. Each query row is its own
    * query, so duplicate qids each get their own k rows. */
  def knn(spark: SparkSession, queries: DataFrame, points: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.functions.{call_function => cf}
    val pts = points
      .select(col("pid"), col("lat").as("p_lat"), col("lon").as("p_lon"))
      .withColumn("cell", cf("st_cell", col("p_lat"), col("p_lon"), lit(Level)))
    pts.cache()
    val qs = queries
      .select(col("qid"), col("lat").cast("double"), col("lon").cast("double")).collect()
    val qSchema = StructType(Seq(StructField("qi", IntegerType, nullable = false),
      StructField("q_lat", DoubleType), StructField("q_lon", DoubleType)))
    // the still-unresolved queries as a driver-built relation
    def relation(qis: Seq[Int]): DataFrame = spark.createDataFrame(
      qis.map(i => Row(i, qs(i).get(1), qs(i).get(2))).asJava, qSchema)
    val w = Window.partitionBy("qi").orderBy(col("dist"), col("pid"))
    def topK(cand: DataFrame): Map[Int, Array[Row]] = cand
      .withColumn("dist",
        cf("st_haversine", col("q_lat"), col("q_lon"), col("p_lat"), col("p_lon")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qi", "pid", "dist", "rank")
      .collect().groupBy(_.getInt(0))

    val found = new Array[Array[Row]](qs.length)
    var open: Seq[Int] = qs.indices
    var round = 1
    while (round <= MaxRounds && open.nonEmpty) {
      val got = topK(relation(open)
        .withColumn("qcell", cf("st_cell", col("q_lat"), col("q_lon"), lit(Level)))
        .withColumn("cell", explode(cf("st_cell_disk", col("qcell"), lit(round))))
        .join(pts, Seq("cell"), "inner"))
      // a query resolves when it has k hits and the k-th is strictly inside
      // the outside-disk bound: at equality an outside point could still win
      // the (dist, pid) tie-break
      val (done, rest) = open.partition(i => got.get(i).exists(rows =>
        rows.length == k &&
          rows.map(_.getDouble(2)).max < outsideDiskLowerBound(qs(i).getDouble(1), Level, round)))
      done.foreach(i => found(i) = got(i))
      open = rest
      round += 1
    }
    // Exact completion for the residual: queries still unresolved after
    // MaxRounds (sparse regions, polar anisotropy) get a brute-force pass —
    // one broadcast of the (small) residual query set against the point
    // table. Output is therefore always exactly the true top-k, and ring
    // expansion is purely an optimization that resolves the dense majority
    // without scanning all points.
    if (open.nonEmpty) {
      val got = topK(pts.crossJoin(broadcast(relation(open))))
      open.foreach(i => found(i) = got.getOrElse(i, Array.empty[Row]))
    }
    pts.unpersist()
    val schema = StructType(Seq(queries.schema("qid"), points.schema("pid"),
      StructField("dist", DoubleType), StructField("rank", IntegerType, nullable = false)))
    spark.createDataFrame(found.indices.flatMap(i => found(i).map(r =>
      Row(qs(i).get(0), r.get(1), r.get(2), r.get(3)))).asJava, schema)
  }
}
