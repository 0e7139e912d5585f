package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
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
  * Unresolved queries expand to the next ring, bounded at `maxRounds`;
  * any residual is finished exactly with a targeted brute-force pass, so
  * the result always equals true top-k.
  */
object Knn {

  /** Metres per degree of great-circle arc on the haversine sphere
    * (R = 6371008.8 m, matching `st_haversine`): 2*pi*R/360 = 111194.9267...
    * Rounded DOWN so every product below stays a true lower bound. */
  val MetersPerDegree = 111194.0

  /** Correction factor for the lon-separation bound: the haversine distance
    * between two points Δλ apart at |lat| <= φ is
    *   2R·asin(√(cos²φ')·sin(Δλ/2)) >= 2R·cosφ·sin(Δλ/2)
    * and sin(t) >= t·(1 - t²/6), so with x = Δλ in radians
    *   dist >= R·x·cosφ·(1 - x²/24).
    * Without this factor the straight parallel-arc estimate R·x·cosφ
    * OVERSTATES the true minimum by up to ~x²/24 — a resolved query could
    * then miss a marginally closer point just outside the disk. */
  def lonChordSlack(xRad: Double): Double = math.max(0.0, 1.0 - xRad * xRad / 24.0)

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
    * `level` picks the cell resolution; smaller level = bigger cells =
    * fewer rounds but more candidates per round.
    *
    * PRECONDITION (cluster callers): per-round state is RELIABLY
    * checkpointed, so on any non-local master `spark.checkpoint.dir`
    * (SparkContext.setCheckpointDir) MUST point at SHARED storage
    * (HDFS / object store) before calling — the method fails fast with an
    * IllegalArgumentException otherwise. On local[*] masters a process-
    * private tmp dir is auto-provisioned and removed at JVM exit. This is a
    * deliberate durability change from the earlier localCheckpoint design,
    * which silently lost the job on a single executor failure. */
  def knn(spark: SparkSession, queries: DataFrame, points: DataFrame, k: Int,
          level: Int = 4, maxRounds: Int = 6): DataFrame = {
    import org.apache.spark.sql.functions.{call_function => cf}
    // Durability: the per-round accumulators below are RELIABLY checkpointed
    // (written to the checkpoint dir, readable after executor loss), not
    // localCheckpoint'ed — localCheckpoint stores blocks on executors and
    // TRUNCATES lineage, so on a real cluster one lost executor after round r
    // would kill the whole job with no way to recompute. The checkpointed
    // data is query-side only (<= k rows per query + the unresolved query
    // list), never the point table, so the write cost is negligible at any
    // scale. Checkpoint-dir contract and the persist-then-checkpoint
    // mechanics live in [[Durable]] (shared with connectedComponents).
    // The remaining driver-side serialization points are one isEmpty
    // action per round plus one after the loop (at most maxRounds + 1 tiny
    // jobs) — inherent to the adaptive loop.
    Durable.ensureCheckpointDir(spark)
    def durable(df: DataFrame): DataFrame = Durable.durable(df)
    // superseded `unresolved` snapshots are deleted as soon as the next
    // round commits (Durable.Rounds) — without this a long-lived session
    // retains every round of every knn call. The per-round `parts`
    // checkpoints stay until JVM exit by design: they BACK the returned
    // result (bounded: <= maxRounds + 1 small query-side sets per call).
    val rounds = new Durable.Rounds(spark)
    val pts = points
      .select(col("pid"), col("lat").as("p_lat"), col("lon").as("p_lon"))
      .withColumn("cell", cf("st_cell", col("p_lat"), col("p_lon"), lit(level)))
    pts.cache()

    var unresolved = queries
      .select(col("qid"), col("lat").as("q_lat"), col("lon").as("q_lon"))
      .withColumn("qcell", cf("st_cell", col("q_lat"), col("q_lon"), lit(level)))
    // each round's resolved rows are checkpointed ONCE and buffered; the
    // union happens at the end — re-checkpointing a growing accumulator
    // every round would rewrite all previously-resolved rows each time
    // (O(rounds * |result|) checkpoint I/O)
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 1
    val w = Window.partitionBy("qid").orderBy(col("dist"), col("pid"))

    while (round <= maxRounds && !unresolved.isEmpty) {
      // persisted: the round's three consumers (the resolvedQ broadcast
      // build, the resolvedRows probe, and the unresolved anti-join's own
      // resolvedQ copy) otherwise EACH re-run the disk join + window —
      // measured 3 evaluations per round in the r06 before-plan. The
      // post-rank frame is bounded at k rows per unresolved query, so the
      // cache is query-side-sized; lineage is NOT truncated (unlike
      // localCheckpoint), so an executor loss just recomputes from the
      // round checkpoint + cached points — the durability story is
      // unchanged. Unpersisted at the bottom of the round.
      val cand = unresolved
        .withColumn("cell", explode(cf("st_cell_disk", col("qcell"), lit(round))))
        .join(pts, Seq("cell"), "inner")
        .withColumn("dist",
          cf("st_haversine", col("q_lat"), col("q_lon"), col("p_lat"), col("p_lon")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select("qid", "q_lat", "q_lon", "qcell", "pid", "dist", "rank")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

      // a query resolves when it has k hits and the k-th is inside the
      // provable bound for this round's disk (pure column math, no UDF;
      // same derivation as outsideDiskLowerBound)
      val kth = cand.groupBy("qid", "q_lat", "qcell")
        .agg(count(lit(1)).as("n"), max(col("dist")).as("kth"))
      val (latDeg, lonDeg) = Cells.cellSizeDeg(level)
      val maxAbsLat = least(lit(90.0), abs(col("q_lat")) + lit((round + 1) * latDeg))
      val slack = lonChordSlack(math.toRadians(round * lonDeg))
      val bound = lit(round) * least(
        lit(latDeg * MetersPerDegree),
        lit(lonDeg * MetersPerDegree * slack) * greatest(lit(0.0), cos(radians(maxAbsLat))))
      // strict <: the derivation guarantees outside-disk distance >= bound,
      // so at exact equality an outside point could still win the (dist, pid)
      // tie-break — only kth strictly inside the bound proves the top-k
      val resolvedQ = kth.where(col("n") === k && col("kth") < bound).select("qid")

      val resolvedRows = cand.join(broadcast(resolvedQ), Seq("qid"), "left_semi")
      // materialize this round's results before mutating `unresolved`
      // (reliable checkpoint: survives executor loss, see header note)
      parts += durable(resolvedRows.select("qid", "pid", "dist", "rank"))
      // checkpoint: without this the unresolved plan references itself twice
      // per round (directly and via resolvedQ), re-executing every earlier
      // round's disk join on each isEmpty/join/crossJoin
      unresolved = rounds.commit(
        unresolved.join(broadcast(resolvedQ), Seq("qid"), "left_anti"))
      rounds.dropPrevious() // this round's parts snapshot is already on disk
      cand.unpersist() // parts + unresolved are durably committed above
      round += 1
    }
    // Exact completion for the residual: queries still unresolved after
    // maxRounds (sparse regions, polar anisotropy) get a brute-force pass —
    // one broadcast of the (small) residual query set against the point
    // table. Output is therefore always exactly the true top-k, and ring
    // expansion is purely an optimization that resolves the dense majority
    // without scanning all points.
    if (!unresolved.isEmpty) {
      val rest = pts.crossJoin(broadcast(unresolved.select("qid", "q_lat", "q_lon")))
        .withColumn("dist",
          cf("st_haversine", col("q_lat"), col("q_lon"), col("p_lat"), col("p_lon")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select("qid", "pid", "dist", "rank")
      parts += durable(rest)
    }
    // the residual pass above was the last reader of the unresolved set —
    // every surviving result row lives in the separately-durable `parts`
    // snapshots, so the final unresolved checkpoint is reclaimable NOW
    // rather than at JVM exit (one stale snapshot per call otherwise)
    rounds.close()
    pts.unpersist()
    // union of per-round checkpointed pieces: each piece was written exactly
    // once; the union itself is lineage-cheap (reads the checkpoint files).
    // Empty query set -> a correctly-typed empty frame (never null)
    if (parts.isEmpty)
      queries.select(col("qid")).where(lit(false))
        .crossJoin(points.select(col("pid")).where(lit(false)))
        .withColumn("dist", lit(0.0)).withColumn("rank", lit(1))
        .select("qid", "pid", "dist", "rank")
    else parts.reduce(_ unionByName _)
  }
}
