package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Dist
import graft.engine.{Layout, Track, Tiler}
import graft.expr.{GraftFunctions, K}

/** Trajectory analytics (legs/stats/geofence/OD), Gi* hotspot statistic, and
  * the z-ordered layout + manifest bbox pruning — each vs a straight-loop
  * brute-force oracle on a deterministic synthetic track set. */
class TrackSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-track-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }

  /** Deterministic synthetic tracks: 40 tracks of 1..8 points each,
    * hotspot-clustered like the corpus (first two fences see traffic). */
  private lazy val trackRows: Seq[(String, Int, Double, Double)] = {
    val rng = new java.util.Random(7)
    (0 until 40).flatMap { t =>
      val n = 1 + rng.nextInt(8)
      val (cLat, cLon) = Fences(t % Fences.length)
      (0 until n).map { i =>
        val lat = math.max(-85, math.min(85, cLat + rng.nextGaussian() * 0.3))
        val lon = graft.core.GeoMath.wrap180(cLon + rng.nextGaussian() * 0.3)
        (f"trk-$t%03d", i * 10, lat, lon)
      }
    }
  }
  private val Fences = Seq((40.7128, -74.0060), (51.5074, -0.1278), (-33.8688, 151.2093))
  private val FenceR = 25000.0

  private def ptsDf = {
    import spark.implicits._
    trackRows.toDF("doc_id", "offset", "lat", "lon").repartition(4)
  }

  test("st_bearing matches cardinal directions and the spherical formula") {
    GraftFunctions.register(spark)
    assert(K.bearing(0, 0, 0, 90) == 90.0)
    assert(K.bearing(0, 0, 89, 0) == 0.0)
    assert(math.abs(K.bearing(0, 0, -89, 0) - 180.0) < 1e-12)
    assert(math.abs(K.bearing(0, 0, 0, -90) - 270.0) < 1e-12)
    // classic fixture: Baghdad -> Osaka initial bearing ~ 60.16 deg
    assert(math.abs(K.bearing(35.0, 45.0, 35.0, 135.0) - 60.162) < 0.01)
  }

  test("st_destination inverts bearing+distance (direct vs inverse problem)") {
    val rng = new java.util.Random(11)
    for (_ <- 0 until 200) {
      val la1 = rng.nextDouble() * 160 - 80
      val lo1 = rng.nextDouble() * 360 - 180
      val la2 = rng.nextDouble() * 160 - 80
      val lo2 = rng.nextDouble() * 360 - 180
      val d = Dist.haversine(la1, lo1, la2, lo2)
      val b = K.bearing(la1, lo1, la2, lo2)
      val dest = K.destination(la1, lo1, b, d)
      val err = Dist.haversine(dest.getDouble(0), dest.getDouble(1), la2, lo2)
      assert(err < 1e-6 * math.max(1.0, d),
        s"direct(inverse) drifted ${err}m for ($la1,$lo1)->($la2,$lo2)")
    }
  }

  test("st_zorder interleaves lon into even and lat into odd bits") {
    assert(K.zorder(-90, -180, 8) == 0L)
    // top-right corner: all bits set
    assert(K.zorder(89.999, 179.999, 8) == (1L << 16) - 1)
    // x=1,y=0 -> z=1; x=0,y=1 -> z=2 at bits=1
    assert(K.zorder(-89.0, 1.0, 1) == 1L)
    assert(K.zorder(1.0, -179.0, 1) == 2L)
    // adjacent cells share high bits (locality): keys in one small box span
    // a tiny fraction of the keyspace
    val ks = for (i <- 0 to 10; j <- 0 to 10)
      yield K.zorder(40.0 + i * 0.01, -74.0 + j * 0.01, 16)
    assert((ks.max - ks.min).toDouble / (1L << 32).toDouble < 0.001)
  }

  test("st_hilbert is a bijection whose consecutive keys are grid-adjacent") {
    val b = 4
    val n = 1 << b
    // cell centres of the full n x n grid
    def keyOf(ix: Int, iy: Int): Long =
      K.hilbert(-90.0 + (iy + 0.5) * 180.0 / n, -180.0 + (ix + 0.5) * 360.0 / n, b)
    val cells = for (ix <- 0 until n; iy <- 0 until n) yield (ix, iy)
    val keys = cells.map { case (ix, iy) => keyOf(ix, iy) -> ((ix, iy)) }.toMap
    assert(keys.size == n * n, "hilbert keys collide — not a bijection")
    assert(keys.keySet == (0L until (n.toLong * n)).toSet)
    // THE Hilbert property (and what Morton lacks): walking the key order
    // never jumps — consecutive cells are Manhattan-distance-1 neighbours
    for (d <- 0L until (n.toLong * n - 1)) {
      val (x1, y1) = keys(d); val (x2, y2) = keys(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump between d=$d ($x1,$y1) and d+1 ($x2,$y2)")
    }
  }

  test("Track.stats matches the brute-force per-track oracle") {
    val got = Track.stats(ptsDf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) null else r.getDouble(4)))).toMap
    val byId = trackRows.groupBy(_._1)
    assert(got.keySet == byId.keySet)
    for ((id, rows) <- byId) {
      val sorted = rows.sortBy(_._2)
      val legs = sorted.sliding(2).collect {
        case Seq(a, b) => Dist.haversine(a._3, a._4, b._3, b._4)
      }.toSeq
      val len = graft.core.GeoMath.roundTo(legs.sum, 3)
      val net = graft.core.GeoMath.roundTo(
        Dist.haversine(sorted.head._3, sorted.head._4, sorted.last._3, sorted.last._4), 3)
      val (gn, gl, gnet, gsin) = got(id)
      assert(gn == rows.size)
      assert(math.abs(gl - len) < 1e-6, s"$id length $gl vs $len")
      assert(math.abs(gnet - net) < 1e-6)
      if (net > 0) assert(math.abs(gsin.asInstanceOf[Double] - graft.core.GeoMath.roundTo(len / net, 6)) < 1e-9)
      else assert(gsin == null)
    }
  }

  test("Track.geofenceTransitions finds exactly the brute-force flips") {
    val got = Track.geofenceTransitions(ptsDf, Fences, FenceR).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(4))).toSet
    val expected = trackRows.groupBy(_._1).flatMap { case (id, rows) =>
      val sorted = rows.sortBy(_._2)
      def in(la: Double, lo: Double) =
        Fences.map(f => Dist.haversine(f._1, f._2, la, lo)).min <= FenceR
      sorted.sliding(2).collect {
        case Seq(a, b) if in(a._3, a._4) != in(b._3, b._4) =>
          (id, b._2, if (in(b._3, b._4)) "enter" else "exit")
      }
    }.toSet
    assert(expected.nonEmpty, "fixture produced no transitions — widen sigma")
    assert(got == expected)
  }

  test("Track.odMatrix equals the brute-force first/last-tile histogram") {
    val z = 5
    val got = Track.odMatrix(ptsDf, z).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expected = trackRows.groupBy(_._1).toSeq.map { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      (K.tileIdOf(sorted.head._3, sorted.head._4, z).longValue(),
        K.tileIdOf(sorted.last._3, sorted.last._4, z).longValue())
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == expected)
  }

  test("Tiler.hotspotGi matches the brute-force Gi* over the tile raster") {
    val z = 6
    val tiles = Tiler.assign(ptsDf, z).groupBy(col("tile_id"))
      .agg(count(lit(1)).as("n_points"))
    val got = Tiler.hotspotGi(tiles).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap

    val counts = trackRows.groupBy(p => K.tileIdOf(p._3, p._4, z).longValue())
      .map { case (t, v) => t -> v.size.toDouble }
    val n = counts.size.toDouble
    val mean = counts.values.sum / n
    val s = math.sqrt(counts.values.map(v => v * v).sum / n - mean * mean)
    assert(got.keySet == counts.keySet)
    for ((tid, (wn, wsum, gi)) <- got) {
      val zz = tid >>> 58; val xx = (tid >>> 29) & ((1L << 29) - 1); val yy = tid & ((1L << 29) - 1)
      val nPer = 1L << zz
      val win = for {
        dx <- -1 to 1; dy <- -1 to 1
        nx = ((xx + dx) % nPer + nPer) % nPer; ny = yy + dy
        if ny >= 0 && ny < nPer
        t = (zz << 58) + (nx << 29) + ny
        if counts.contains(t)
      } yield counts(t)
      assert(wn == win.size)
      assert(wsum == win.sum.toLong)
      val den = s * math.sqrt((n * win.size - win.size.toLong * win.size) / (n - 1.0))
      val want = graft.core.GeoMath.roundTo((win.sum - mean * win.size) / den, 6)
      assert(math.abs(gi - want) < 1e-9, s"tile $tid gi $gi vs $want")
    }
  }

  test("Tiler.moranI matches the brute-force statistic and detects clustering") {
    val z = 6
    val tiles = Tiler.assign(ptsDf, z).groupBy(col("tile_id"))
      .agg(count(lit(1)).as("n_points"))
    val row = Tiler.moranI(tiles).collect().head
    val (gn, gw, gi) = (row.getLong(0), row.getLong(1), row.getDouble(2))

    val counts = trackRows.groupBy(p => K.tileIdOf(p._3, p._4, z).longValue())
      .map { case (t, v) => t -> v.size.toDouble }
    val mean = counts.values.sum / counts.size
    var num = 0.0; var den = 0.0; var w = 0L
    for ((tid, v) <- counts) {
      val zz = tid >>> 58; val xx = (tid >>> 29) & ((1L << 29) - 1); val yy = tid & ((1L << 29) - 1)
      val nPer = 1L << zz
      val nbrs = for {
        dx <- -1 to 1; dy <- -1 to 1; if dx != 0 || dy != 0
        nx = ((xx + dx) % nPer + nPer) % nPer; ny = yy + dy
        if ny >= 0 && ny < nPer
        t = (zz << 58) + (nx << 29) + ny
        if counts.contains(t)
      } yield counts(t)
      num += (v - mean) * (nbrs.sum - nbrs.size * mean)
      den += (v - mean) * (v - mean)
      w += nbrs.size
    }
    val want = counts.size.toDouble / w * num / den
    assert(gn == counts.size && gw == w)
    assert(math.abs(gi - graft.core.GeoMath.roundTo(want, 6)) < 1e-6, s"I=$gi vs $want")
  }

  test("Tiler.moranI sign: smooth gradient positive, checkerboard negative") {
    import org.apache.spark.sql.Row
    def raster(f: (Long, Long) => Long) = {
      val rows = for (x <- 0L until 8L; y <- 0L until 8L)
        yield Row((6L << 58) + (x << 29) + y, f(x, y))
      spark.createDataFrame(spark.sparkContext.parallelize(rows),
        new org.apache.spark.sql.types.StructType()
          .add("tile_id", "long").add("n_points", "long"))
    }
    // NOTE x wraps mod 2^z=64 but our 8x8 block sits away from the seam.
    // Anti-correlation fixture is STRIPES, not a checkerboard: under queen
    // contiguity a checkerboard's four diagonal neighbours share its colour
    // (I ~ 0); stripes oppose on 6 of 8 neighbours.
    val smooth = Tiler.moranI(raster((x, _) => x * 10 + 1)).collect().head.getDouble(2)
    val stripes = Tiler.moranI(raster((x, _) => if (x % 2 == 0) 10 else 1))
      .collect().head.getDouble(2)
    assert(smooth > 0.5, s"gradient raster should autocorrelate, I=$smooth")
    assert(stripes < -0.3, s"stripes should anti-correlate, I=$stripes")
  }

  test("single-fence geofence works (least() needs two args; one fence is its own chain)") {
    val one = Track.geofenceTransitions(ptsDf, Fences.take(1), FenceR).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(4))).toSet
    val expected = trackRows.groupBy(_._1).flatMap { case (id, rows) =>
      val f = Fences.head
      def in(la: Double, lo: Double) = Dist.haversine(f._1, f._2, la, lo) <= FenceR
      rows.sortBy(_._2).sliding(2).collect {
        case Seq(a, b) if in(a._3, a._4) != in(b._3, b._4) =>
          (id, b._2, if (in(b._3, b._4)) "enter" else "exit")
      }
    }.toSet
    assert(one == expected)
  }

  test("window-wider-than-ring is rejected, not double-counted") {
    // idw: static require (zoom is a parameter)
    intercept[IllegalArgumentException] { Tiler.idw(ptsDf, zoom = 1, valueCol = "offset") }
    // focalSmooth: zoom is data — the in-plan assert fires at z=1 (ring 2 < 3)
    import spark.implicits._
    val tiny = Seq(((1L << 58) + (0L << 29) + 0L, 5L), ((1L << 58) + (1L << 29) + 1L, 7L))
      .toDF("tile_id", "n_points")
    val ex = intercept[Exception] { Tiler.focalSmooth(tiny).collect() }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse(""))).mkString(" | ")
    assert(rootMsg(ex).contains("wider than the x ring"), rootMsg(ex))
  }

  test("Tiler.idw matches the brute-force gridded interpolation") {
    val z = 7
    import spark.implicits._
    val pts = trackRows.map(p => (p._3, p._4, (p._2 + 1).toDouble))
      .toDF("lat", "lon", "v").repartition(4)
    val got = Tiler.idw(pts, z, "v").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    val nPer = 1L << z
    val contrib = scala.collection.mutable.Map.empty[Long, List[(Double, Double)]]
    for ((_, off, la, lo) <- trackRows) {
      val t = K.tileIdOf(la, lo, z).longValue()
      val xx = (t >>> 29) & ((1L << 29) - 1); val yy = t & ((1L << 29) - 1)
      for (dx <- -1 to 1; dy <- -1 to 1) {
        val nx = ((xx + dx) % nPer + nPer) % nPer; val ny = yy + dy
        if (ny >= 0 && ny < nPer) {
          val c = K.tileCenterOf(z, nx, ny)
          val d = Dist.haversine(c.getDouble(0), c.getDouble(1), la, lo)
          if (d > 0.0) {
            val tid = (z.toLong << 58) + (nx << 29) + ny
            contrib(tid) = ((off + 1).toDouble, d) :: contrib.getOrElse(tid, Nil)
          }
        }
      }
    }
    assert(got.keySet == contrib.keySet)
    // interpolation must reach tiles holding no points of their own
    val occupied = trackRows.map(p => K.tileIdOf(p._3, p._4, z).longValue()).toSet
    assert((got.keySet -- occupied).nonEmpty, "no empty tile got an estimate")
    for ((tid, (nc, est)) <- got) {
      val cs = contrib(tid)
      assert(nc == cs.size)
      val want = cs.map { case (v, d) => v / (d * d) }.sum / cs.map { case (_, d) => 1.0 / (d * d) }.sum
      assert(math.abs(est - graft.core.GeoMath.roundTo(want, 6)) < 1e-6, s"tile $tid: $est vs $want")
    }
  }

  test("Layout tolerates zero-row ghost part files, still rejects non-empty ones") {
    import spark.implicits._
    // every point identical -> one distinct zkey -> repartitionByRange can
    // only fill one range partition. The manifest is derived from ROWS, so
    // a zero-row part file can exist on disk without an entry; loadManifest
    // must tolerate it (provably content-free — footer row count 0) while
    // still failing loudly on any NON-empty unlisted file (the real
    // interrupted-write crash window).
    val dir = TestTmp.dir("layout_degen")
    val pts = (0 until 200).map(i => (s"p$i", 40.0, -74.0)).toDF("pid", "lat", "lon")
    Layout.writeZOrdered(pts, dir, bits = 16, numFiles = 8)
    assert(Layout.readBBox(spark, dir, 39.0, -75.0, 41.0, -73.0).count() == 200L)
    // inject a zero-row ghost with the data files' exact schema
    val dataDir = new java.io.File(s"$dir/data")
    spark.read.parquet(dataDir.getPath).limit(0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_ghost_src")
    val emptyPart = new java.io.File(s"$dir/_ghost_src").listFiles()
      .filter(_.getName.endsWith(".parquet")).headOption
    emptyPart.foreach { src =>
      java.nio.file.Files.copy(src.toPath,
        java.nio.file.Paths.get(dataDir.getPath, "part-99999-ghost.parquet"))
      // tolerated: the ghost holds no rows, so the read is unchanged
      assert(Layout.readBBox(spark, dir, 39.0, -75.0, 41.0, -73.0).count() == 200L)
    }
    // a NON-empty unlisted file (a duplicated real part file) must fail loudly
    val realPart = dataDir.listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.contains("ghost")).head
    java.nio.file.Files.copy(realPart.toPath,
      java.nio.file.Paths.get(dataDir.getPath, "part-99998-bad.parquet"))
    val ex = intercept[IllegalArgumentException] {
      Layout.readBBox(spark, dir, 39.0, -75.0, 41.0, -73.0).count()
    }
    assert(ex.getMessage.contains("manifest out of sync"))
  }

  test("Layout round-trips, prunes files, and readBBox equals the plain filter") {
    val dir = TestTmp.dir("layout")
    Layout.writeZOrdered(ptsDf, dir, bits = 16, numFiles = 8)
    val (south, west, north, east) = (39.5, -75.5, 42.0, -72.5)
    val expected = trackRows.filter(p =>
      p._3 >= south && p._3 <= north && p._4 >= west && p._4 <= east)
      .map(p => (p._1, p._2)).toSet
    val got = Layout.readBBox(spark, dir, south, west, north, east)
      .select("doc_id", "offset").collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(got == expected)
    val (sel, tot) = Layout.pruneStats(spark, dir, south, west, north, east)
    assert(tot == 8L, s"expected 8 layout files, manifest has $tot")
    assert(sel < tot, s"bbox selected all $tot files — z-clustering failed")
    // empty-result box (mid-Pacific) must prune to zero rows without error
    assert(Layout.readBBox(spark, dir, -5.0, -150.0, -4.0, -149.0).count() == 0L)
    // stale-manifest crash window must fail LOUDLY, not prune wrongly: after
    // tampering with the data dir the file-set check rejects every read
    val victim = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val ex = intercept[IllegalArgumentException] {
      Layout.readBBox(spark, dir, south, west, north, east).count()
    }
    assert(ex.getMessage.contains("manifest out of sync"))
  }

  test("Layout file boxes skip NaN and null coordinates") {
    import spark.implicits._
    val (south, west, north, east) = (39.0, -75.0, 41.0, -73.0)
    // one file: 100 in-box points next to one NaN-latitude row
    val dir = TestTmp.dir("layout_nan")
    val pts = ((0 until 100).map(i => (s"p$i", Option(40.0 + i * 0.001), -74.0)) :+
      (("nan", Option(Double.NaN), -74.0))).toDF("pid", "lat", "lon")
    Layout.writeZOrdered(pts, dir, numFiles = 1)
    val plain = pts.where(col("lat") >= south && col("lat") <= north &&
      col("lon") >= west && col("lon") <= east).select("pid").as[String].collect().toSet
    assert(plain.size == 100)
    val got = Layout.readBBox(spark, dir, south, west, north, east)
      .select("pid").as[String].collect().toSet
    assert(got == plain)
    assert(Layout.pruneStats(spark, dir, south, west, north, east) == ((1L, 1L)))
    // a file holding only null/NaN latitudes gets an empty box no query hits
    val blankDir = TestTmp.dir("layout_blank")
    val blank = Seq(("null", Option.empty[Double], -74.0), ("nan", Option(Double.NaN), -74.0))
      .toDF("pid", "lat", "lon")
    Layout.writeZOrdered(blank, blankDir, numFiles = 1)
    assert(Layout.pruneStats(spark, blankDir, -90.0, -180.0, 90.0, 180.0) == ((0L, 1L)))
    assert(Layout.readBBox(spark, blankDir, -90.0, -180.0, 90.0, 180.0).count() == 0L)
  }

  test("Layout.pruneStats runs no Spark job: the manifest is a driver-side log read") {
    val dir = TestTmp.dir("layout_jobs")
    Layout.writeZOrdered(ptsDf, dir, bits = 16, numFiles = 8)
    val pruneJobs = JobTrace.jobs(spark) {
      val (sel, tot) = Layout.pruneStats(spark, dir, 39.5, -75.5, 42.0, -72.5)
      assert(tot == 8L && sel < tot, s"pruneStats gave ($sel, $tot)")
    }
    assert(pruneJobs.isEmpty, s"pruneStats ran ${pruneJobs.length} Spark jobs")
  }
}
