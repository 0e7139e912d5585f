package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Dist, Pip, Cells}
import graft.engine._
import graft.expr.GraftFunctions

/** Engine e2e: spatial join vs a single-threaded brute-force oracle,
  * parallelism invariance, kNN vs brute force, tiling, checkpoint-resume,
  * and the span-sequence-equality row invariant. */
class EngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-engine-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }

  private val NDocs = 1000L

  /** Brute-force oracle: same kernels, straight loops, no Spark. */
  private def oracleJoin(nDocs: Long): Set[(String, Int, String)] = {
    val polys = (0 until 50).map(Corpus.genPoly)
    val rings = polys.map(p => p.poly_id -> p.ring.flatMap(q => Seq(q.lat, q.lon)).toArray)
    val out = scala.collection.mutable.Set.empty[(String, Int, String)]
    var i = 0L
    while (i < nDocs) {
      val doc = Corpus.genDoc(i)
      for (s <- doc.spans if s.kind == "text") {
        val pt = graft.core.Parsers.parsePoint(s.text)
        if (pt != null) {
          for ((pid, ring) <- rings if Pip.contains(pt(0), pt(1), ring))
            out += ((doc.doc_id, s.offset, pid))
        }
      }
      i += 1
    }
    out.toSet
  }

  test("corpus generation is partitioning-invariant") {
    val a = Corpus.documentsDf(spark, 200, partitions = 2).collect().map(_.toString).sorted
    val b = Corpus.documentsDf(spark, 200, partitions = 7).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("spatial join equals brute-force oracle (broadcast path)") {
    val docs = Corpus.documentsDf(spark, NDocs, partitions = 4)
    val polys = Corpus.polygons(spark).toDF()
    val points = SpatialJoin.extractPoints(docs)
    val got = SpatialJoin.join(points, polys)
      .select("doc_id", "offset", "poly_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val want = oracleJoin(NDocs)
    assert(got.size == want.size, s"got ${got.size}, want ${want.size}")
    assert(got == want)
    assert(want.nonEmpty, "oracle produced no rows - corpus/polygons misaligned")
  }

  test("salted join produces identical rows to broadcast join") {
    val docs = Corpus.documentsDf(spark, NDocs, partitions = 4)
    val polys = Corpus.polygons(spark).toDF()
    val points = SpatialJoin.extractPoints(docs)
    val plain = SpatialJoin.join(points, polys)
      .select("doc_id", "offset", "poly_id").collect().map(_.toString).sorted
    val salted = SpatialJoin.join(points, polys, salt = 8)
      .select("doc_id", "offset", "poly_id").collect().map(_.toString).sorted
    assert(plain.sameElements(salted))
  }

  test("join output invariant under shuffle partitions 1 vs 32") {
    val polys = Corpus.polygons(spark).toDF()
    def run(): Array[String] = {
      val docs = Corpus.documentsDf(spark, 300, partitions = 3)
      SpatialJoin.join(SpatialJoin.extractPoints(docs), polys)
        .select("doc_id", "offset", "poly_id").collect().map(_.toString).sorted
    }
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val a = run()
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    val b = run()
    spark.conf.set("spark.sql.shuffle.partitions", before)
    assert(a.sameElements(b))
  }

  test("multi-ring join: driver-side covering prune (broadcast) equals distributed prune") {
    // broadcastPolys=true runs the covering dedup + nested-cell prune as
    // driver set operations on the collected rows; broadcastPolys=false runs
    // the fully distributed dropDuplicates + sort-merge anti-join. Same
    // survivor set -> identical join output.
    val docs = Corpus.documentsDf(spark, NDocs, partitions = 4)
    val mp = Corpus.polygonsHoled(spark).toDF()
    val pts = SpatialJoin.extractPoints(docs)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "offset", "poly_id").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val bc = rows(SpatialJoin.joinMulti(pts, mp))
    val dist = rows(SpatialJoin.joinMulti(pts, mp, broadcastPolys = false))
    assert(bc.nonEmpty && bc == dist)
  }

  test("multi-ring join (holes + multipolygons) equals brute-force even-odd oracle") {
    val docs = Corpus.documentsDf(spark, NDocs, partitions = 4)
    val mp = Corpus.polygonsHoled(spark).toDF()
    val got = SpatialJoin.joinMulti(SpatialJoin.extractPoints(docs), mp)
      .select("doc_id", "offset", "poly_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    // brute force: same kernels, straight loops
    val ringsById = (0 until 50).map(Corpus.genPolyHoled).map(p =>
      p.poly_id -> p.rings.map(_.flatMap(q => Seq(q.lat, q.lon)).toArray).toArray)
    val want = scala.collection.mutable.Set.empty[(String, Int, String)]
    var i = 0L
    while (i < NDocs) {
      val doc = Corpus.genDoc(i)
      for (sp <- doc.spans if sp.kind == "text") {
        val pt = graft.core.Parsers.parsePoint(sp.text)
        if (pt != null) {
          for ((pid, rings) <- ringsById if Pip.containsRings(pt(0), pt(1), rings))
            want += ((doc.doc_id, sp.offset, pid))
        }
      }
      i += 1
    }
    assert(got == want.toSet, s"got ${got.size} vs want ${want.size}")
    // hole subtraction is actually exercised: some point inside an outer ring
    // must be excluded by its hole on this corpus
    val single = (0 until 50).map(Corpus.genPoly).map(p =>
      p.poly_id -> p.ring.flatMap(q => Seq(q.lat, q.lon)).toArray).toMap
    val excludedByHole = {
      var found = false
      var j = 0L
      while (j < NDocs && !found) {
        val doc = Corpus.genDoc(j)
        for (sp <- doc.spans if sp.kind == "text") {
          val pt = graft.core.Parsers.parsePoint(sp.text)
          if (pt != null)
            for ((pid, ring) <- single)
              if (Pip.contains(pt(0), pt(1), ring) &&
                  !want.contains((doc.doc_id, sp.offset, pid))) found = true
        }
        j += 1
      }
      found
    }
    assert(excludedByHole, "no point was excluded by a hole — layer not exercising holes")
  }

  test("semi/anti containment split covers all docs exactly once") {
    val docs = Corpus.documentsDf(spark, 500, partitions = 4)
    val polys = Corpus.polygons(spark).toDF()
    val points = SpatialJoin.extractPoints(docs).cache()
    val in = Containment.containedDocs(points, polys).collect().map(_.getString(0)).toSet
    val outD = Containment.uncontainedDocs(points, polys).collect().map(_.getString(0)).toSet
    val all = points.select("doc_id").distinct().collect().map(_.getString(0)).toSet
    assert((in intersect outD).isEmpty)
    assert((in union outD) == all)
    // the single-join split must agree with the semi/anti pair
    val split = SpatialJoin.containmentSplit(points, polys).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(split.keySet == all)
    assert(split.filter(_._2 == "in").keySet == in)
    assert(split.filter(_._2 == "out").keySet == outD)
    points.unpersist()
  }

  test("containment split on an EMPTY polygon layer: every doc is 'out'") {
    // the single-pass shape explodes the covering-level prefixes; with no
    // polygons there are no levels, and explode(array()) would silently
    // empty the domain — this pins the guarded fallback
    val docs = Corpus.documentsDf(spark, 50, partitions = 2)
    val points = SpatialJoin.extractPoints(docs)
    val polys = Corpus.polygons(spark).toDF().where(lit(false))
    val split = SpatialJoin.containmentSplit(points, polys).collect()
    assert(split.length == points.select("doc_id").distinct().count())
    assert(split.forall(_.getString(1) == "out"))
  }

  test("fixed-radius distance join equals brute force (incl. near-polar site)") {
    import spark.implicits._
    val docs = Corpus.documentsDf(spark, 500, partitions = 4)
    // plant deterministic points near the polar site so its path is tested
    // NON-vacuously: one inside the radius, one inside the lat band but far
    // away in longitude (a band candidate the refine must reject), one just
    // outside the band
    val planted = Seq(
      ("polar:in", 84.55, 10.3),
      ("polar:band-only", 84.5, -170.0),
      ("polar:outside", 83.0, 10.0)).toDF("pid", "lat", "lon")
    val pts = SpatialJoin.extractPoints(docs)
      .select(concat_ws(":", col("doc_id"), col("offset")).as("pid"),
        col("lat"), col("lon"))
      .unionByName(planted).cache()
    val sites = Seq(
      ("s0", Corpus.Hotspots(0)._1, Corpus.Hotspots(0)._2),
      ("s1", Corpus.Hotspots(3)._1, Corpus.Hotspots(3)._2),
      ("sp", 84.5, 10.0)) // near-polar: anisotropic cells stress the bound
      .toDF("qid", "lat", "lon")
    val radius = 75000.0
    val got = SpatialJoin.withinDistance(sites, pts, radius).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val ptRows = pts.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val siteRows = sites.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val brute = (for {
      (qid, sla, slo) <- siteRows
      (pid, pla, plo) <- ptRows
      if graft.core.Dist.haversine(sla, slo, pla, plo) <= radius
    } yield (qid, pid)).toSet
    pts.unpersist()
    assert(got == brute,
      s"distance join mismatch: missing=${brute.diff(got).take(5)} extra=${got.diff(brute).take(5)}")
    assert(brute.nonEmpty, "degenerate test: no pairs within radius")
    // the polar path specifically must have found its planted match and
    // rejected the band-only / out-of-band plants
    assert(got.contains(("sp", "polar:in")))
    assert(!got.contains(("sp", "polar:band-only")) && !got.contains(("sp", "polar:outside")))
  }

  test("distance join accepts non-string qid and float coords (generic schema)") {
    import spark.implicits._
    val sites = Seq((7L, 40.0f, -74.0f), (8L, 84.6f, 10.0f))
      .toDF("qid", "lat", "lon") // long qid, FLOAT lat/lon — Knn-style callers
    val pts = Seq(("p1", 40.01, -74.01), ("p2", 84.55, 10.3), ("p3", 10.0, 10.0))
      .toDF("pid", "lat", "lon")
    val got = SpatialJoin.withinDistance(sites, pts, radiusM = 25000.0).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((7L, "p1"), (8L, "p2")))
  }

  test("huge polygons are never dropped (adaptive covering)") {
    import spark.implicits._
    // radius ~30 deg octagon: would exceed any fixed fine-level cell cap
    val ring = (0 until 8).map { i =>
      val a = 2 * math.Pi * i / 8
      PointLL(30.0 * math.cos(a), 40.0 + 30.0 * math.sin(a))
    }
    val polys = Seq(Poly("big-0", ring)).toDF()
    val pts = Seq(("d1", 1, 0.0, 40.0), ("d2", 1, 0.0, 100.0)).toDF("doc_id", "offset", "lat", "lon")
      .withColumn("cell", call_function("st_cell", col("lat"), col("lon"), lit(5)))
    val got = SpatialJoin.join(pts, polys).select("doc_id").collect().map(_.getString(0)).toSet
    assert(got == Set("d1"), s"got $got") // centre point in, far point out
  }

  test("tile histogram counts match oracle") {
    val docs = Corpus.documentsDf(spark, 500, partitions = 4)
    val points = SpatialJoin.extractPoints(docs)
    val got = Tiler.histogram(points, 7).select("tile_id", "n_points").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // oracle
    val want = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    var i = 0L
    while (i < 500) {
      val doc = Corpus.genDoc(i)
      for (s <- doc.spans if s.kind == "text") {
        val pt = graft.core.Parsers.parsePoint(s.text)
        if (pt != null) want(Cells.tileId(pt(0), pt(1), 7)) += 1
      }
      i += 1
    }
    assert(got == want.toMap)
  }

  test("multi-zoom rollup totals are consistent") {
    val docs = Corpus.documentsDf(spark, 300, partitions = 2)
    val points = SpatialJoin.extractPoints(docs)
    val n = points.count()
    val roll = Tiler.multiZoomHistogram(points, Seq(3, 6)).collect()
    // the grand-total row (all nulls) must equal the point count
    val total = roll.filter(r => r.isNullAt(0) && r.isNullAt(1)).map(_.getLong(2)).sum
    assert(total == n)
  }

  test("polyfill tiles cover every joined point's tile") {
    val polys = Corpus.polygons(spark).toDF()
    val docs = Corpus.documentsDf(spark, 300, partitions = 2)
    val points = SpatialJoin.extractPoints(docs)
    val joined = SpatialJoin.join(points, polys, level = 5)
    val z = 9
    val pointTiles = Tiler.assign(joined, z).select("poly_id", "tile_id").distinct()
    val polyTiles = Tiler.polyfill(polys, z)
    val missing = pointTiles.join(polyTiles, Seq("poly_id", "tile_id"), "left_anti").count()
    assert(missing == 0, s"$missing point-tiles outside polyfill")
  }

  test("knn with an empty query set returns a typed empty frame") {
    import spark.implicits._
    val ptsDf = Seq(("p0", 40.0, -75.0), ("p1", 41.0, -74.0)).toDF("pid", "lat", "lon")
    val qsDf = Seq.empty[(String, Double, Double)].toDF("qid", "lat", "lon")
    val out = Knn.knn(spark, qsDf, ptsDf, k = 3)
    assert(out.columns.toSeq == Seq("qid", "pid", "dist", "rank"))
    assert(out.count() == 0)
  }

  /** The kNN fixture: 2,000 points and 40 queries in one 5° x 5° square. */
  private def knnFixture: (Seq[(String, Double, Double)], Seq[(String, Double, Double)]) = {
    val rngP = new java.util.Random(1000L)
    val pts = (0 until 2000).map { i =>
      (s"p$i", 40.0 + rngP.nextDouble() * 5, -75.0 + rngP.nextDouble() * 5)
    }
    val rngQ = new java.util.Random(5000L)
    val qs = (0 until 40).map { i =>
      (s"q$i", 40.0 + rngQ.nextDouble() * 5, -75.0 + rngQ.nextDouble() * 5)
    }
    (pts, qs)
  }

  /** Exact top-k by (dist, pid) with straight loops: (qid, pid, rank). */
  private def bruteForceKnn[Q](qs: Seq[(Q, Double, Double)], pts: Seq[(String, Double, Double)],
                               k: Int): Set[(Q, String, Int)] =
    qs.flatMap { case (qid, qla, qlo) =>
      pts.map { case (pid, pla, plo) => (pid, Dist.haversine(qla, qlo, pla, plo)) }
        .sortBy { case (pid, d) => (d, pid) }
        .take(k).zipWithIndex
        .map { case ((pid, _), idx) => (qid, pid, idx + 1) }
    }.toSet

  test("knn equals brute force") {
    import spark.implicits._
    val k = 5
    val (pts, qs0) = knnFixture
    // q_far is far from every point: no round's disk holds a candidate, so
    // only the residual brute-force pass answers it
    val qs = qs0 :+ (("q_far", -30.0, 100.0))
    val ptsDf = pts.toDF("pid", "lat", "lon")
    val got = Knn.knn(spark, qs.toDF("qid", "lat", "lon"), ptsDf, k)
      .select("qid", "pid", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == bruteForceKnn(qs, pts, k))
    // Long qids: the qid type rides through to the output unchanged
    val lqs = qs.zipWithIndex.map { case ((_, la, lo), i) => (i.toLong, la, lo) }
    val gotL = Knn.knn(spark, lqs.toDF("qid", "lat", "lon"), ptsDf, k)
      .select("qid", "pid", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(gotL == bruteForceKnn(lqs, pts, k))
  }

  test("knn runs one collect per round: no checkpoint, no emptiness job") {
    import spark.implicits._
    val (pts, qs) = knnFixture
    val qsDf = qs.toDF("qid", "lat", "lon")
    val ptsDf = pts.toDF("pid", "lat", "lon")
    val knnStages = JobTrace.jobs(spark) {
      assert(Knn.knn(spark, qsDf, ptsDf, k = 5).collect().length == qs.length * 5)
    }
    assert(!knnStages.exists(n => n.contains("checkpoint") || n.contains("isEmpty")),
      knnStages.mkString("\n"))
    // two rounds on this fixture: the cached points' build, then per round
    // the broadcast of the query disks, the window's shuffle map stage and
    // the collect (round state in reliable checkpoints ran 25 jobs)
    assert(knnStages.length <= 7,
      s"knn ran ${knnStages.length} jobs:\n${knnStages.mkString("\n")}")
  }

  test("prefix range-join equals the multi-resolution explode join") {
    val docs = Corpus.documentsDf(spark, 400, partitions = 4)
    val polys = Corpus.polygons(spark).toDF()
    val pts = SpatialJoin.extractPoints(docs)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "offset", "poly_id").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val classic = rows(SpatialJoin.join(pts, polys))
    val ranged = rows(SpatialJoin.joinRangeWithIndex(pts, SpatialJoin.buildIndex(polys)))
    assert(ranged == classic)
  }

  test("prefix range-join on an EMPTY polygon layer returns no rows, typed like joinWithIndex") {
    // an empty layer has no covering levels, so there is no pivot prefix
    val docs = Corpus.documentsDf(spark, 50, partitions = 2)
    val pts = SpatialJoin.extractPoints(docs)
    val index = SpatialJoin.buildIndex(Corpus.polygons(spark).toDF().limit(0))
    assert(index.levels.isEmpty)
    val ranged = SpatialJoin.joinRangeWithIndex(pts, index)
    val exploded = SpatialJoin.joinWithIndex(pts, index)
    assert(ranged.schema == exploded.schema)
    assert(ranged.collect().isEmpty && exploded.collect().isEmpty)
  }

  test("antimeridian-crossing polygons are rejected; the generator never makes one") {
    import spark.implicits._
    // generator precondition: every synthetic polygon stays within a
    // continuous lon frame (wrap180 in genPoly never actually activates)
    val spans = (0 until 50).map { p =>
      val lons = Corpus.genPoly(p).ring.map(_.lon)
      lons.max - lons.min
    }
    assert(spans.forall(_ <= 180.0))
    // a crossing ring is rejected: the covering kernel throws mid-job (no
    // extra validation action in the hot path)...
    val crossing = Seq(Poly("bad-poly", Seq(
      PointLL(10, 179.0), PointLL(10, -179.0), PointLL(-10, -179.0), PointLL(-10, 179.0))))
      .toDF()
    val e = intercept[Throwable] { SpatialJoin.buildIndex(crossing) }
    def chain(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t =>
      t.getMessage != null && t.getMessage.contains("antimeridian")), s"got: $e")
    // ...and the opt-in pre-flight names the offending polygons
    val e2 = intercept[IllegalArgumentException] { SpatialJoin.validateLayer(crossing) }
    assert(e2.getMessage.contains("antimeridian") && e2.getMessage.contains("bad-poly"))
  }

  test("knn equals brute force at the pole and across the date line") {
    import spark.implicits._
    val k = 5
    // polar cluster (|lat| > 80, where cell anisotropy is extreme) and a
    // date-line cluster straddling lon = +-180
    val rngP = new java.util.Random(7000L)
    val pts = (0 until 800).map { i =>
      (s"pp$i", 80.5 + rngP.nextDouble() * 4.0, rngP.nextDouble() * 360 - 180)
    } ++ (0 until 800).map { i =>
      val lon = graft.core.GeoMath.wrap180(179.0 + rngP.nextDouble() * 2.0)
      (s"pd$i", -10.0 + rngP.nextDouble() * 20.0, lon)
    } ++ (0 until 100).map { i => // extreme polar cap (top grid rows)
      (s"px$i", 89.0 + rngP.nextDouble() * 0.99, rngP.nextDouble() * 360 - 180)
    }
    val qs = Seq(
      ("q_pole1", 83.9, 10.0), ("q_pole2", 81.2, -170.0), ("q_pole3", 84.0, 179.9),
      ("q_cap1", 89.9, 0.0), ("q_cap2", 89.2, -120.0),
      ("q_dl1", 0.0, 179.98), ("q_dl2", 0.0, -179.98), ("q_dl3", 5.0, -180.0))
    val got = Knn.knn(spark, qs.toDF("qid", "lat", "lon"), pts.toDF("pid", "lat", "lon"), k)
      .select("qid", "pid", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val want = qs.flatMap { case (qid, qla, qlo) =>
      pts.map { case (pid, pla, plo) => (pid, Dist.haversine(qla, qlo, pla, plo)) }
        .sortBy { case (pid, d) => (d, pid) }
        .take(k).zipWithIndex
        .map { case ((pid, _), idx) => (qid, pid, idx + 1) }
    }.toSet
    assert(got == want)
  }

  test("checkpoint stage commits manifest and resumes without recompute") {
    val dir = graft.TestTmp.dir("graft-ckpt")
    var computes = 0
    def body = {
      computes += 1
      Corpus.documentsDf(spark, 100, partitions = 2)
        .withColumn("pfx", substring(col("doc_id"), 1, 5))
    }
    val (a, _) = Checkpoint.stage(spark, dir, "docs", "fp-v1", Some("pfx"))(body)
    assert(computes == 1 && a.count() == 100)
    val (b, _) = Checkpoint.stage(spark, dir, "docs", "fp-v1", Some("pfx"))(body)
    assert(computes == 1, "stage recomputed despite committed manifest")
    assert(b.count() == 100)
    val fp = Checkpoint.committed(spark, dir).map(_.fingerprint)
    assert(fp.contains("fp-v1"))
    // changed fingerprint -> recompute
    Checkpoint.stage(spark, dir, "docs", "fp-v2", Some("pfx"))(body)
    assert(computes == 2)
  }

  test("checkpoint stage recomputes when a committed part file is lost") {
    val dir = graft.TestTmp.dir("graft-ckpt-lost")
    var computes = 0
    def body = { computes += 1; Corpus.documentsDf(spark, 100, partitions = 4) }
    Checkpoint.stage(spark, dir, "docs", "fp-v1", None)(body)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length == 4 && parts.head.delete())
    val (df, m) = Checkpoint.stage(spark, dir, "docs", "fp-v1", None)(body)
    assert(computes == 2, "stage resumed over a lost part file")
    assert(df.count() == 100 && m.totalRows == 100)
  }

  test("span-sequence equality survives write/read round trip") {
    val dir = graft.TestTmp.dir("graft-spans")
    val docs = Corpus.documentsDf(spark, 200, partitions = 3)
    docs.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    // per-doc ordered span fingerprint (kind, text, media_ref, order)
    def fingerprint(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        sha2(to_json(col("spans")), 256).as("fp"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fingerprint(docs.toDF()) == fingerprint(back))
    // and offsets stay strictly increasing
    val bad = back.select(posexplode(col("spans")).as(Seq("i", "s")), col("doc_id"))
      .select(col("doc_id"), col("i"), col("s.offset").as("o"))
      .withColumn("prev", lag("o", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("i")))
      .where(col("prev").isNotNull && col("o") <= col("prev"))
      .count()
    assert(bad == 0)
  }

  test("focalSmooth: exact binomial weights, antimeridian x wrap, y clamp, r=2") {
    import spark.implicits._
    def tid(z: Long, x: Long, y: Long) = (z << 58) + (x << 29) + y
    val z = 3L; val n = 1L << z // 8x8 raster
    // single occupied tile in the middle: smoothing spreads the 3x3 kernel
    val one = Seq((tid(z, 4, 4), 10L)).toDF("tile_id", "n_points")
    val got1 = Tiler.focalSmooth(one, r = 1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got1.size == 9)
    assert(got1(tid(z, 4, 4)) == 40L) // center 4 * 10
    assert(got1(tid(z, 3, 4)) == 20L && got1(tid(z, 4, 3)) == 20L)
    assert(got1(tid(z, 3, 3)) == 10L && got1(tid(z, 5, 5)) == 10L)
    // x wraps: a tile at x=0 contributes to x = n-1; y clamps: y=0 sends
    // nothing above the top row (total mass drops by the clipped band)
    val edge = Seq((tid(z, 0, 0), 7L)).toDF("tile_id", "n_points")
    val got2 = Tiler.focalSmooth(edge, r = 1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got2.size == 6) // 3x3 minus the clipped y=-1 row
    assert(got2(tid(z, n - 1, 0)) == 14L) // wrapped west neighbor, w=2*1
    assert(got2(tid(z, n - 1, 1)) == 7L)
    assert(got2(tid(z, 0, 0)) == 28L)
    assert(!got2.contains(tid(z, 0, n - 1) + 1)) // nothing wrapped in y
    // r=2: separable (1,4,6,4,1) weights, center = 36
    val got3 = Tiler.focalSmooth(one, r = 2).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got3.size == 25)
    assert(got3(tid(z, 4, 4)) == 360L)
    assert(got3(tid(z, 2, 2)) == 10L && got3(tid(z, 4, 2)) == 60L)
    // mass conservation away from edges: kernel sums to 16 (r=1) / 256 (r=2)
    assert(got1.values.sum == 160L && got3.values.sum == 2560L)
  }
}
