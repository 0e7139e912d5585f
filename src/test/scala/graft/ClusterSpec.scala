package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine._

/** Fixed-radius neighbor self-join exactness (vs brute force, including the
  * polar lat-band arm and date-line wrap) and DBSCAN semantics. */
class ClusterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.expr.GraftFunctions.register(s)
    s
  }

  private def haversine(la1: Double, lo1: Double, la2: Double, lo2: Double): Double = {
    val R = 6371008.8
    val dLat = math.toRadians(la2 - la1); val dLon = math.toRadians(lo2 - lo1)
    val h = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(la1)) * math.cos(math.toRadians(la2)) *
        math.pow(math.sin(dLon / 2), 2)
    2 * R * math.asin(math.min(1.0, math.sqrt(h)))
  }

  /** Mixed corpus: a dense mid-lat blob, a high-lat blob, POLAR points
    * (|lat| > 89.5 — forces the lat-band arm), date-line straddlers, and
    * uniform scatter. Deterministic rng. */
  private def mixedPoints: Seq[(String, Double, Double)] = {
    val rng = new java.util.Random(7L)
    def jitter(s: Double) = rng.nextGaussian() * s
    val blob1 = (0 until 60).map(i => (f"b1-$i%03d", 48.85 + jitter(0.01), 2.35 + jitter(0.01)))
    val blob2 = (0 until 40).map(i => (f"b2-$i%03d", 71.0 + jitter(0.01), 25.0 + jitter(0.02)))
    val polar = (0 until 25).map(i => (f"po-$i%03d", 89.6 + rng.nextDouble() * 0.39,
      rng.nextDouble() * 360.0 - 180.0))
    val dateline = (0 until 30).map(i => (f"dl-$i%03d", -41.0 + jitter(0.01),
      graft.core.GeoMath.wrap180(179.995 + jitter(0.01))))
    val scatter = (0 until 45).map(i => (f"sc-$i%03d", rng.nextDouble() * 170 - 85,
      rng.nextDouble() * 360 - 180))
    blob1 ++ blob2 ++ polar ++ dateline ++ scatter
  }

  test("neighborPairs equals brute force (polar arm, date-line wrap, mixed radii)") {
    import spark.implicits._
    val pts = mixedPoints
    val df = pts.toDF("pid", "lat", "lon")
    for (radius <- Seq(800.0, 5000.0, 60000.0)) {
      val got = Cluster.neighborPairs(df, radius)
        .select("pid_a", "pid_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val expect = for {
        (pa, la1, lo1) <- pts; (pb, la2, lo2) <- pts
        if pa != pb && haversine(la1, lo1, la2, lo2) <= radius
      } yield (pa, pb)
      assert(got.sorted == expect.sorted, s"radius $radius")
      assert(got.distinct.size == got.size, s"duplicate ordered pairs at radius $radius")
    }
  }

  test("neighborPairs drops null-coordinate rows and keeps generic pid types") {
    import spark.implicits._
    val df = Seq((1L, Some(10.0), Some(10.0)), (2L, Some(10.0), Some(10.0001)),
      (3L, None: Option[Double], Some(10.0)), (4L, Some(10.0), None: Option[Double]))
      .toDF("pid", "lat", "lon")
    val got = Cluster.neighborPairs(df, 100.0).select("pid_a", "pid_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1L, 2L), (2L, 1L)))
  }

  test("dbscan: core/border/noise semantics and deterministic min labels") {
    import spark.implicits._
    // blob A: 6 mutually-close points (all within 200 m of each other);
    // border point 150 m from one blob edge but > eps from the rest is NOT
    // possible at minPts=4 with this blob — instead: p-out sits within eps
    // of exactly 2 blob points (non-core degree 3 < 4) => border; far -> noise
    val mpd = 111194.9
    def at(dNorthM: Double, dEastM: Double, lat0: Double = 10.0, lon0: Double = 20.0) =
      (lat0 + dNorthM / mpd, lon0 + dEastM / (mpd * math.cos(math.toRadians(lat0))))
    val blob = (0 until 6).map { i =>
      val (la, lo) = at(60.0 * (i % 2), 60.0 * (i / 2)); (f"a$i", la, lo)
    }
    val (bla, blo) = at(30.0, 60.0 * 2 + 190.0) // ~190 m east of the a4/a5 column
    val (nla, nlo) = at(5000.0, 5000.0)
    val df = (blob ++ Seq(("edge", bla, blo), ("noise", nla, nlo)))
      .toDF("pid", "lat", "lon")
    val got = Cluster.dbscan(df, epsM = 250.0, minPts = 4)
      .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    val expect = (0 until 6).map(i => (s"a$i", Some("a0"), true)) ++
      Seq(("edge", Some("a0"), false), ("noise", None, false))
    assert(got == expect.sortBy(_._1))
  }

  test("dbscan: two separate clusters get distinct minimum-pid labels; lone core self-clusters") {
    import spark.implicits._
    val mpd = 111194.9
    def blobAt(tag: String, lat0: Double, lon0: Double, n: Int) =
      (0 until n).map { i =>
        (f"$tag$i", lat0 + 20.0 * i / mpd, lon0)
      }
    // two blobs 100 km apart + an isolated DUPLICATE-position pair: with
    // minPts=2 each of the pair is core (self + twin), forming a 2-point cluster
    val df = (blobAt("x", 0.0, 0.0, 4) ++ blobAt("y", 0.9, 0.0, 4) ++
      Seq(("z1", 45.0, 45.0), ("z2", 45.0, 45.0)))
      .toDF("pid", "lat", "lon")
    val got = Cluster.dbscan(df, epsM = 100.0, minPts = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).sortBy(_._1)
    assert(got.filter(_._1.startsWith("x")).forall(t => t._2 == "x0" && t._3))
    assert(got.filter(_._1.startsWith("y")).forall(t => t._2 == "y0" && t._3))
    assert(got.filter(_._1.startsWith("z")).forall(t => t._2 == "z1" && t._3))
  }

  test("dbscan matches a brute-force reference implementation on the mixed corpus") {
    import spark.implicits._
    val pts = mixedPoints
    val (epsM, minPts) = (3000.0, 4)
    val got = Cluster.dbscan(pts.toDF("pid", "lat", "lon"), epsM, minPts)
      .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    // reference: brute-force neighbors, core flags, BFS components over cores,
    // border = min core-neighbor's label
    val ids = pts.map(_._1)
    val pos = pts.map(p => p._1 -> (p._2, p._3)).toMap
    val nbrs = ids.map { a =>
      a -> ids.filter(b => b != a && {
        val (la1, lo1) = pos(a); val (la2, lo2) = pos(b)
        haversine(la1, lo1, la2, lo2) <= epsM
      })
    }.toMap
    val core = ids.filter(a => nbrs(a).size + 1 >= minPts).toSet
    val label = scala.collection.mutable.Map.empty[String, String]
    for (seed <- ids.sorted if core(seed) && !label.contains(seed)) {
      var frontier = List(seed); label(seed) = seed
      while (frontier.nonEmpty) {
        val nxt = frontier.flatMap(nbrs).filter(n => core(n) && !label.contains(n)).distinct
        nxt.foreach(label(_) = seed)
        frontier = nxt
      }
    }
    val expect = ids.map { a =>
      if (core(a)) (a, Some(label(a)), true)
      else {
        val cn = nbrs(a).filter(core).map(label)
        (a, if (cn.isEmpty) None else Some(cn.min), false)
      }
    }.sortBy(_._1)
    assert(got == expect)
  }

  test("dbscan leaves a caller-cached input cached") {
    import spark.implicits._
    val df = mixedPoints.toDF("pid", "lat", "lon").cache()
    try {
      df.count()
      val level = df.storageLevel
      assert(level != org.apache.spark.storage.StorageLevel.NONE)
      Cluster.dbscan(df, epsM = 3000.0, minPts = 4).collect()
      assert(df.storageLevel == level, "dbscan dropped or changed the caller's cache")
    } finally df.unpersist()
  }

  test("dbscan on an uncached input writes no checkpoint and registers no cache") {
    import spark.implicits._
    val sc = spark.sparkContext
    // the checkpoint dir (None when nothing set one) and its entries
    def checkpoints(): Option[Set[String]] = sc.getCheckpointDir.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(sc.hadoopConfiguration)
      if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName).toSet else Set.empty
    }
    // frames earlier suites left cached are no concern of this one
    spark.catalog.clearCache()
    val ckpt0 = checkpoints()
    val got = Cluster.dbscan(mixedPoints.toDF("pid", "lat", "lon"), epsM = 3000.0, minPts = 4)
    assert(got.collect().length == mixedPoints.length)
    assert(checkpoints() == ckpt0, "dbscan touched the checkpoint dir")
    assert(spark.sharedState.cacheManager.isEmpty, "dbscan left a CacheManager entry")
  }

  test("dbscan on the mixed corpus stays under its job ceiling") {
    import spark.implicits._
    val df = mixedPoints.toDF("pid", "lat", "lon")
    val jobs = JobTrace.jobs(spark) {
      Cluster.dbscan(df, epsM = 3000.0, minPts = 4).collect()
    }
    assert(!jobs.exists(_.contains("checkpoint")), jobs.mkString("\n"))
    // 32-34 measured: the pinned pair and flag frames' AQE stages, the
    // connected-components count and collect, and the result's collect with
    // its AQE stages (the same calls ran 31 with reliable snapshots, 10 of
    // them checkpoint writes; with no snapshot at all q90 ran ~3.7x its jobs)
    assert(jobs.length <= 36, s"dbscan ran ${jobs.length} jobs:\n${jobs.mkString("\n")}")
  }
}
