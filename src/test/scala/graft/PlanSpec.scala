package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine._
import graft.expr.GraftFunctions

/** Physical-plan quality gates: the plans we ship must be the plans we'd
  * want at 100 TB — broadcast joins where a side is dimension-sized, filter
  * pushdown + column pruning reaching the parquet scan, and whole-stage
  * codegen spanning our custom expressions. */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }

  private val sf = "/root/testdata/sf0.001"

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("flagship spatial join broadcasts the polygon-cover side") {
    val docs = Corpus.documentsDf(spark, 200, partitions = 2)
    val polys = Corpus.polygons(spark).toDF()
    val df = SpatialJoin.join(SpatialJoin.extractPoints(docs), polys)
    df.collect() // finalize this plan's adaptive execution
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    // PIP refine must not force a separate non-codegen stage
    assert(plan.contains("codegen id"), s"no codegen span:\n${plan.take(1500)}")
  }

  test("q01 pushes the shipdate filter into the parquet scan") {
    val plan = SparkEntry.queries("q01_pricing_agg")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n${plan.take(2000)}")
  }

  test("q16 prunes to the two needed columns in the scan") {
    val plan = SparkEntry.queries("q16_text_stats")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan not pruned:\n${plan.take(2000)}")
  }

  test("q02 multi-join broadcasts the dimension tables") {
    val plan = SparkEntry.queries("q02_join_nation_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"dimension joins not broadcast:\n${plan.take(2000)}")
  }

  test("extractPoints evaluates st_parse_point exactly once per span") {
    val docs = Corpus.documentsDf(spark, 200, partitions = 2)
    val plan = physical(SpatialJoin.extractPoints(docs))
    val n = "parsePoint".r.findAllIn(plan).size
    assert(n == 1, s"expected 1 parsePoint eval in the plan, found $n:\n$plan")
  }

  test("prefix range-join adds no Generate beyond extraction (no fact explode)") {
    val docs = Corpus.documentsDf(spark, 200, partitions = 2)
    val polys = Corpus.polygons(spark).toDF()
    val pts = SpatialJoin.extractPoints(docs)
    // formatted explain mentions each Generate node twice (tree + details)
    val baseGen = "Generate".r.findAllIn(physical(pts)).size
    val ranged = physical(SpatialJoin.joinRangeWithIndex(pts, SpatialJoin.buildIndex(polys)))
    val rangedGen = "Generate".r.findAllIn(ranged).size
    // + one node (x2 mentions) for the DIMENSION-side covering explode only
    assert(rangedGen == baseGen + 2,
      s"range join fact side gained a Generate ($baseGen -> $rangedGen):\n${ranged.take(1500)}")
    // the classic multi-level join additionally explodes the fact side
    val classicGen = "Generate".r.findAllIn(physical(SpatialJoin.join(pts, polys))).size
    assert(classicGen == baseGen + 4, s"expected fact+dimension explodes, got $classicGen")
  }

  test("partial aggregation (map-side combine) present in tile histogram") {
    val docs = Corpus.documentsDf(spark, 200, partitions = 2)
    val plan = physical(Tiler.histogram(SpatialJoin.extractPoints(docs), 7))
    // two HashAggregate nodes (partial + final) around the exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
  }

  test("q42 fused text profile is one scan, zero joins, zero shuffles") {
    val df = SparkEntry.queries("q42_lang_quality")(spark, sf)
    val plan = physical(df)
    // one parquet scan of documents (formatted explain mentions each node
    // twice: tree + details); the old shape was 3 scans + 2 joins
    assert("Scan parquet".r.findAllIn(plan).size == 2, s"expected 1 scan:\n${plan.take(1500)}")
    assert(!plan.contains("Join"), s"unexpected join:\n${plan.take(1500)}")
    // orderBy adds one range-partition exchange; no hash shuffle allowed
    assert(!plan.contains("hashpartitioning"), s"unexpected hash shuffle:\n${plan.take(1500)}")
  }

  test("multi-ring join broadcasts the pruned covering and adds no fact-side shuffle") {
    val docs = Corpus.documentsDf(spark, 200, partitions = 2)
    val mp = Corpus.polygonsHoled(spark).toDF()
    val df = SpatialJoin.joinMulti(SpatialJoin.extractPoints(docs), mp)
    df.collect()
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n${plan.take(1200)}")
    // the nested-cell pruning removed the need to dedupe candidate pairs —
    // no shuffle may appear on the FACT side (the tree above the broadcast
    // subtree; the dimension side's own tiny dropDuplicates shuffle is the
    // per-layer index-build cost, not a per-row cost)
    val cut = { val i = plan.indexOf("BroadcastQueryStage")
      if (i >= 0) i else plan.indexOf("BroadcastExchange") }
    val factSide = plan.substring(0, cut)
    assert(!factSide.contains("hashpartitioning"),
      s"fact-side shuffle crept back in:\n${factSide.take(1500)}")
  }

  test("IVF ANN: list assignment is map-only (scan -> project -> broadcast join)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val queries = e.where(col("vec_id") < 4)
      .select(concat(lit("q"), col("vec_id")).as("qid"), col("embedding").as("q_emb"))
    val df = Ann.ivfTopK(e, queries, k = 5)
    df.collect()
    val plan = physical(df)
    val bhj = plan.indexOf("BroadcastHashJoin")
    assert(bhj >= 0, s"no broadcast candidate join:\n${plan.take(1200)}")
    // the fact subtree sits between the join node and its broadcast build
    // side in the formatted tree: it must be Scan -> Project only — the
    // centroid assignment adds NO exchange on the corpus side (the only
    // shuffles in the whole plan are the per-query top-k windows)
    val buildCut = { val i = plan.indexOf("BroadcastQueryStage", bhj)
      if (i >= 0) i else plan.indexOf("BroadcastExchange", bhj) }
    val factSide = plan.substring(bhj, buildCut)
    assert(!factSide.contains("Exchange") && !factSide.contains("hashpartitioning"),
      s"fact-side shuffle in IVF assignment:\n$factSide")
    assert(factSide.contains("Scan parquet"), s"fact side lost its scan:\n$factSide")
  }

  test("containment variants plan as left-semi / left-anti (no row multiplication)") {
    val docs = Corpus.documentsDf(spark, 200, partitions = 2)
    val polys = Corpus.polygons(spark).toDF()
    val pts = SpatialJoin.extractPoints(docs)
    val semi = physical(Containment.containedDocs(pts, polys))
    assert(semi.contains("LeftSemi"), s"no left-semi join:\n${semi.take(1500)}")
    val anti = physical(Containment.uncontainedDocs(pts, polys))
    assert(anti.contains("LeftAnti"), s"no left-anti join:\n${anti.take(1500)}")
  }

  test("persisted IVF index: probes prune list partitions via static PartitionFilters") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val queries = e.where(col("vec_id") < 4)
      .select(concat(lit("q"), col("vec_id")).as("qid"), col("embedding").as("q_emb"))
    val cents = Ann.firstNCentroids(e, 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfidx").toString
    try {
      Ann.writeIvfIndex(e, cents, tmp)
      val df = Ann.searchIvfIndex(spark, tmp, queries, cents, k = 5, nprobe = 2)
      val plan = df.queryExecution.executedPlan.toString
      // the index scan must carry a non-empty partition filter on cid —
      // file-level pruning to the probed inverted lists only
      val rx = "PartitionFilters: \\[[^\\]]*cid".r
      assert(rx.findFirstIn(plan).isDefined,
        s"index scan not partition-pruned:\n${plan.take(2500)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("tile pyramid: one FileScan, coarser levels reuse the previous level's exchange") {
    val docs = Corpus.documentsDf(spark, 300, partitions = 2)
    val df = Tiler.pyramid(SpatialJoin.extractPoints(docs), 4, 7)
    df.collect() // finalize AQE so reuse is visible
    // executedPlan.toString prints Final + Initial plan under AQE; count
    // scans in the FINAL section only
    val plan = df.queryExecution.executedPlan.toString
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert("Scan parquet|LocalTableScan".r.findAllIn(finalPlan).size <= 1,
      s"pyramid re-reads the points per level:\n${finalPlan.take(2000)}")
    assert(finalPlan.contains("ReusedExchange"),
      s"levels do not reuse the previous level's exchange:\n${finalPlan.take(2000)}")
  }

  test("as-of join plans exactly ONE shuffle (union-tag + carry-forward window)") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("user_id"), col("ts").cast("timestamp").as("ts"))
    val df = AsOf.joinAsOf(
      ev.where(col("event_id") % 2 === 0), ev.where(col("event_id") % 2 === 1))
    val plan = df.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1,
      s"expected exactly 1 shuffle, found $shuffles:\n${plan.take(2000)}")
  }

  test("polar distance-join fallback plans a broadcast HASH join, never nested-loop") {
    import spark.implicits._
    // a site this close to the pole cannot satisfy the cell-disk bound, so
    // it must take the lat-band fallback — which, equi-keyed on the integer
    // band id, plans a broadcast hash join; the old raw |dlat| <= bandDeg
    // predicate planned a BroadcastNestedLoopJoin (a full fact scan per
    // polar site batch)
    val sites = Seq(("sp", 89.5, 10.0)).toDF("qid", "lat", "lon")
    val pts = Seq(("p1", 89.51, 10.2), ("p2", 0.0, 0.0)).toDF("pid", "lat", "lon")
    val df = SpatialJoin.withinDistance(sites, pts, radiusM = 25000.0)
    val plan = physical(df)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"polar fallback still plans a nested-loop scan:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"polar fallback is not a broadcast hash join:\n${plan.take(1500)}")
    // and it still answers correctly
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("sp", "p1")))
  }

  test("as-of two-pass: pass-1 window partitions by (key, bucket)") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("user_id"), col("ts").cast("timestamp").as("ts"))
    val df = AsOf.joinAsOf(
      ev.where(col("event_id") % 2 === 0), ev.where(col("event_id") % 2 === 1),
      bucketFn = Some(AsOf.timeBuckets(3600L * 1000000L)))
    val plan = physical(df)
    // the hot-key fix: the row-level carry-forward window keys on BOTH the
    // key and the coarse time bucket (two partition expressions), so a hot
    // key spreads across one task per bucket
    assert("partitionBy=\\[k#\\d+L?, b#\\d+L?\\]|hashpartitioning\\(k#\\d+L?, b#\\d+L?"
      .r.findFirstIn(plan).isDefined,
      s"pass-1 window not partitioned by (key, bucket):\n${plan.take(2500)}")
  }

  test("bucketed co-located join: zero exchange on either side") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    try {
      val docs = Corpus.documentsDf(spark, 200, partitions = 2)
      val pts = SpatialJoin.extractPoints(docs)
        .select(col("doc_id"), col("cell").as("jcell"))
      val a = Bucketing.writeBucketed(pts, "graft_pts_b", s"$tmp/pts", "jcell", 8)
      val b = Bucketing.writeBucketed(pts.groupBy("jcell").count(),
        "graft_cnt_b", s"$tmp/cnt", "jcell", 8)
      val j = Bucketing.bucketedJoin(a, b, "jcell")
      j.collect()
      val plan = physical(j)
      assert(plan.contains("SortMergeJoin"), s"not a sort-merge join:\n${plan.take(1200)}")
      // the whole point: both scans carry the bucket spec, so the join needs
      // NO shuffle at all — pay it once at write time, join map-side forever
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n${plan.take(1500)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_pts_b")
      spark.sql("DROP TABLE IF EXISTS graft_cnt_b")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("salted join key includes the salt (skew split)") {
    val docs = Corpus.documentsDf(spark, 200, partitions = 2)
    val polys = Corpus.polygons(spark).toDF()
    val plan = physical(SpatialJoin.join(SpatialJoin.extractPoints(docs), polys, salt = 4))
    assert(plan.contains("salt"), s"salt missing from join keys:\n${plan.take(1500)}")
  }

  test("salt > 1 takes the shuffle join: no broadcast, same rows as the broadcast join") {
    val docs = Corpus.documentsDf(spark, 200, partitions = 2)
    val polys = Corpus.polygons(spark).toDF()
    val pts = SpatialJoin.extractPoints(docs)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "offset", "poly_id").collect().map(_.toString).sorted
    val plain = rows(SpatialJoin.join(pts, polys))
    // kill size-based broadcast: any BroadcastHashJoin left was forced
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val salted = SpatialJoin.join(pts, polys, salt = 4)
      val got = rows(salted)
      val plan = physical(salted)
      assert(!plan.contains("BroadcastHashJoin"), s"salted join broadcast:\n${plan.take(2000)}")
      assert(plain.nonEmpty && got.sameElements(plain))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("neighborPairs: fact-x-fact cell join is a SHUFFLE join; only the band lookup broadcasts") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_nbp").toString
    try {
      spark.range(500).select(
          concat(lit("p"), col("id")).as("pid"),
          (col("id") % 90 - 45).cast("double").as("lat"),
          (col("id") % 180 - 90).cast("double").as("lon"))
        .write.parquet(s"$tmp/pts")
      val pts = spark.read.parquet(s"$tmp/pts")
      // kill size-based broadcast so the static plan shows the SCALE shape:
      // any surviving BroadcastHashJoin was explicitly forced by the operator
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = try Cluster.neighborPairs(pts, 5000.0).queryExecution.executedPlan.toString
        finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"degenerate join in neighborPairs:\n${plan.take(2000)}")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"cell self-join is not a shuffle join:\n${plan.take(2000)}")
      // the per-band disk-radius lookup (<= 181 rows of pure math) is the
      // ONLY thing the operator itself broadcasts
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
      assert(bhj >= 1, s"band lookup not broadcast:\n${plan.take(2000)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("focalSmooth: exactly one shuffle, with map-side partial aggregation") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fs").toString
    try {
      spark.range(100).select(
          (lit(6L << 58) + shiftleft(col("id") % 10, 29) + floor(col("id") / 10).cast("long")).as("tile_id"),
          (col("id") + 1).as("n_points"))
        .write.parquet(s"$tmp/tiles")
      val df = Tiler.focalSmooth(spark.read.parquet(s"$tmp/tiles"), r = 1)
      val plan = df.queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(shuffles == 1, s"expected exactly 1 shuffle, found $shuffles:\n${plan.take(2000)}")
      assert("HashAggregate".r.findAllIn(plan).size >= 2,
        s"no partial aggregation:\n${plan.take(2000)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("zonalStats: raster streams through a broadcast join and never shuffles pre-join") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_zs").toString
    try {
      val docs = Corpus.documentsDf(spark, 200, partitions = 2)
      Tiler.raster(SpatialJoin.extractPoints(docs), 9)
        .write.parquet(s"$tmp/tiles")
      val polys = Corpus.polygons(spark).toDF()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = try Tiler.zonalStats(polys, spark.read.parquet(s"$tmp/tiles"), 9)
          .queryExecution.executedPlan.toString
        finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      val bhj = plan.indexOf("BroadcastHashJoin")
      assert(bhj >= 0, s"zone covering not broadcast:\n${plan.take(2000)}")
      // raster side sits between the join and its broadcast build side:
      // Scan -> (filter/project) -> join, no exchange
      val buildCut = plan.indexOf("BroadcastExchange", bhj)
      assert(buildCut > bhj, s"no broadcast build under the join:\n${plan.take(2000)}")
      val factSide = plan.substring(bhj, buildCut)
      assert(factSide.contains("Scan parquet") && !factSide.contains("Exchange"),
        s"raster shuffles before the zone join:\n$factSide")
      // bookkeeping shuffles: one per poly_id aggregate, nothing else
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(shuffles <= 3, s"unexpected extra shuffles ($shuffles):\n${plan.take(2500)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("Track.stats: window + per-track aggregate share ONE shuffle") {
    val docs = Corpus.documentsDf(spark, 200, partitions = 2)
    val plan = Track.stats(SpatialJoin.extractPoints(docs))
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1,
      s"expected the groupBy to reuse the window partitioning (1 shuffle), found $shuffles:\n${plan.take(2500)}")
  }

  test("Track.geofenceTransitions: fence chain is join-free, one window shuffle") {
    val docs = Corpus.documentsDf(spark, 200, partitions = 2)
    val plan = Track.geofenceTransitions(SpatialJoin.extractPoints(docs),
        Corpus.Hotspots.toSeq, 25000.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"fence test planned a join:\n${plan.take(2500)}")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 shuffle, found $shuffles:\n${plan.take(2500)}")
  }

  test("hotspotGi: 1-row globals broadcast; scatter aggregates map-side") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_gi").toString
    try {
      val docs = Corpus.documentsDf(spark, 200, partitions = 2)
      Tiler.raster(SpatialJoin.extractPoints(docs), 6)
        .write.parquet(s"$tmp/tiles")
      val plan = Tiler.hotspotGi(spark.read.parquet(s"$tmp/tiles"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
        s"globals not broadcast:\n${plan.take(2500)}")
      assert("HashAggregate".r.findAllIn(plan).size >= 2,
        s"no map-side partial aggregation:\n${plan.take(2500)}")
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(shuffles <= 3, s"unexpected extra shuffles ($shuffles):\n${plan.take(2500)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("Layout.readBBox pushes the residual bbox filter into the pruned scan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_zl").toString
    try {
      val docs = Corpus.documentsDf(spark, 200, partitions = 2)
      Layout.writeZOrdered(SpatialJoin.extractPoints(docs), tmp, bits = 16, numFiles = 4)
      val plan = Layout.readBBox(spark, tmp, 40.2, -74.6, 41.2, -73.4)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(lat), IsNotNull(lon), GreaterThanOrEqual(lat,40.2)"),
        s"bbox filter not pushed into the parquet scan:\n${plan.take(2500)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }
}
