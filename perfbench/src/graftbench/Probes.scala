package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Cells, Dist, Geohash, Olc, Parsers, Pip, Utm}
import graft.engine.{Corpus, SpatialJoin}

/** Layer probes of the traced run. Each times calls into one layer's public
  * functions from outside, on inputs cut from the seeded corpus, and
  * returns that layer's per-layer metrics. */
object Probes {
  /** Documents of the engine-phase and expression probes. */
  val ProbeDocs = 50000L

  /** Makes the probe inputs under `dir` and runs every layer probe, each
    * under its own job group. Probe calls are counted in `log`. */
  def all(spark: SparkSession, seed: Long, dir: String, sfDir: String, tl: TraceListener, log: OpLog,
          mismatches: Seq[String] => Unit): Seq[M] = {
    Inputs.rmrf(dir)
    val start = Inputs.windowStart(seed, ProbeDocs)
    val docsPath = s"$dir/docs"
    val polysPath = s"$dir/polys"
    Inputs.writeDocs(spark, start, ProbeDocs, docsPath, 4 * spark.sparkContext.defaultParallelism)
    Inputs.writePolys(spark, polysPath)
    val slice = s"$dir/slice"
    Inputs.writeDocs(spark, start, PipelineDocs, slice, spark.sparkContext.defaultParallelism)
    val batches = (0 until Ticks).map { t =>
      val p = s"$dir/batch$t"
      Inputs.writeDocs(spark, start + t * TickDocs, TickDocs, p, 1)
      p
    }
    QueryMix.ensureCorpus(spark, sfDir)
    def layer(name: String)(body: => Seq[M]): Seq[M] = log(s"probe.$name")(body).getOrElse(Nil)
    val coreM = layer("core")(core(seed))
    val m = coreM ++
      layer("expr")(expr(spark, spark.read.parquet(docsPath), coreM)) ++
      layer("engine")(engine(spark, docsPath, polysPath)) ++
      queries(spark, sfDir, tl, log) ++
      layer("pipeline")(pipeline(spark, slice, s"$dir/pipeline", mismatches)) ++
      layer("streaming")(streaming(spark, batches, s"$dir/ticks", mismatches))
    Inputs.rmrf(dir)
    m
  }

  private def now = System.nanoTime()
  private def secs(t0: Long) = (now - t0) / 1e9
  private def timed[T](body: => T): (T, Double) = { val t0 = now; val r = body; (r, secs(t0)) }

  // ---- graft.core --------------------------------------------------------

  @volatile private var sink = 0L

  /** Warm min-of-k nanoseconds per call of `f` over `n` inputs. */
  private def nsPerCall(n: Int, k: Int = 7)(f: Int => Long): Double = {
    var best = Double.MaxValue
    (0 until k + 2).foreach { rep =>
      val t0 = now
      var acc = 0L
      var i = 0
      while (i < n) { acc += f(i); i += 1 }
      val dt = (now - t0).toDouble / n
      sink += acc
      if (rep >= 2) best = math.min(best, dt) // the first two passes warm the JIT
    }
    best
  }

  def core(seed: Long): Seq[M] = {
    val start = Inputs.windowStart(seed, ProbeDocs)
    val texts = Iterator.from(0).map(i => Corpus.genDoc(start + i))
      .flatMap(_.spans.filter(_.kind == "text").map(_.text)).take(20000).toArray
    val pts = texts.flatMap(t => Option(Parsers.parsePoint(t))).filter(_.length >= 2)
    val lat = pts.map(_(0)); val lon = pts.map(_(1))
    val n = pts.length
    val rings = (0 until 50).map(p => Corpus.genPoly(p).ring.flatMap(q => Seq(q.lat, q.lon)).toArray).toArray
    def h(s: String): Long = if (s == null) 0L else s.length
    Seq(
      M("core.parsePoint_ns", nsPerCall(texts.length) { i =>
        val p = Parsers.parsePoint(texts(i)); if (p == null) 0L else 1L }, "ns"),
      M("core.cell_ns", nsPerCall(n)(i => h(Cells.cell(lat(i), lon(i), SpatialJoin.DefaultLevel))), "ns"),
      M("core.pip_contains_ns", nsPerCall(n)(i => if (Pip.contains(lat(i), lon(i), rings(i % 50))) 1L else 0L), "ns"),
      M("core.coverRingAdaptive_ns", nsPerCall(rings.length)(i =>
        Cells.coverRingAdaptive(rings(i), SpatialJoin.DefaultLevel, SpatialJoin.MaxCellsPerPolygon).length.toLong), "ns"),
      M("core.geohash_encode_ns", nsPerCall(n)(i => h(Geohash.encode(lat(i), lon(i), 7))), "ns"),
      M("core.geoToUtm_ns", nsPerCall(n)(i =>
        Utm.geoToUtm(lat(i), lon(i), 6378137.0, 1 / 298.257223563).zone.toLong), "ns"),
      M("core.olc_encode_ns", nsPerCall(n)(i => h(Olc.encode(lat(i), lon(i), 11))), "ns"),
      M("core.vincenty_ns", nsPerCall(n)(i =>
        Dist.vincentyWgs84(lat(i), lon(i), lat((i + 1) % n), lon((i + 1) % n)).toLong), "ns"))
  }

  // ---- graft.expr ----------------------------------------------------------

  /** Core-nanoseconds per row of a projection run through the noop sink:
    * wall time x cores / rows, over an in-memory input split evenly. */
  private def exprNs(spark: SparkSession, input: DataFrame, rows: Long, cols: Seq[org.apache.spark.sql.Column]): Double = {
    val cores = spark.sparkContext.defaultParallelism
    def once() = { val t0 = now; input.select(cols: _*).write.format("noop").mode("overwrite").save(); now - t0 }
    once(); once()
    (0 until 3).map(_ => once()).min.toDouble * cores / rows
  }

  def expr(spark: SparkSession, docs: DataFrame, coreMetrics: Seq[M]): Seq[M] = {
    val cores = spark.sparkContext.defaultParallelism
    val texts = Inputs.spanTexts(docs).repartition(cores).cache()
    val nTexts = texts.count()
    val pts = texts.select(call_function("st_parse_point", col("text")).as("p"))
      .where(col("p").isNotNull).select(col("p.lat").as("lat"), col("p.lon").as("lon"))
      .repartition(cores).cache()
    val nPts = pts.count()
    val parse = exprNs(spark, texts, nTexts, Seq(call_function("st_parse_point", col("text"))))
    val cell = exprNs(spark, pts, nPts,
      Seq(call_function("st_cell", col("lat"), col("lon"), lit(SpatialJoin.DefaultLevel))))
    texts.unpersist(); pts.unpersist()
    val coreParse = coreMetrics.find(_.name == "core.parsePoint_ns").map(_.value).getOrElse(Double.NaN)
    Seq(M("expr.st_parse_point_ns_per_row", parse, "ns"), M("expr.st_cell_ns_per_row", cell, "ns"),
      M("expr.codegen_ratio", parse / coreParse, "ratio"))
  }

  // ---- graft.engine flagship phases ---------------------------------------

  def engine(spark: SparkSession, docsPath: String, polysPath: String): Seq[M] = {
    val docs = spark.read.parquet(docsPath)
    val nDocs = docs.count()
    val (idx, buildS) = timed {
      val i = SpatialJoin.buildIndex(spark.read.parquet(polysPath), cache = true)
      i.cells.count(); i.rings.count(); i
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val pointsDf = SpatialJoin.extractPoints(docs)
    noop(pointsDf) // warm
    val (_, extractS) = timed(noop(pointsDf))
    val points = pointsDf.cache()
    val nPoints = points.count()
    val joinedDf = SpatialJoin.joinRangeWithIndex(points, idx)
    noop(joinedDf)
    val (_, joinS) = timed(noop(joinedDf))
    val joined = joinedDf.cache()
    joined.count()
    val agg = joined.groupBy(col("poly_id"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_points"))
    noop(agg)
    val (_, aggS) = timed(noop(agg))
    joined.unpersist(blocking = true)
    // the executed plan of an uncached join + aggregate carries the
    // refine's SQL metrics
    val probe = SpatialJoin.joinRangeWithIndex(points, idx).groupBy(col("poly_id")).count()
    probe.collect()
    val (hits, cands) = Plans.pipCounts(probe.queryExecution.executedPlan)
      .getOrElse(throw new IllegalStateException(
        "no point-in-polygon operator in the flagship plan:\n" + probe.queryExecution.executedPlan.treeString))
    Seq(points, idx.cells, idx.rings).foreach(_.unpersist())
    Seq(M("engine.buildIndex_s", buildS, "s"), M("engine.extractPoints_s", extractS, "s"),
      M("engine.joinRangeWithIndex_s", joinS, "s"), M("engine.aggregate_s", aggS, "s"),
      M("engine.candidate_hit_ratio", hits.toDouble / cands, "ratio"),
      M("engine.points_per_doc", nPoints.toDouble / nDocs, "ratio"))
  }

  // ---- graft.SparkEntry queries --------------------------------------------

  val TracedQueries = Seq("q31_spatial_join", "q32_spatial_join_salted", "q38_spatial_join_range",
    "q73_spatial_semi_anti", "q34_knn", "q80_dedup_components", "q90_dbscan", "q75_ann_ivf_trained",
    "q78_ann_ivf_q8", "q89_ann_ivf_hier", "q98_zorder_layout", "q102_hilbert_layout")

  /** Seconds and Spark jobs of one run of each traced query. */
  def queries(spark: SparkSession, sfDir: String, tl: TraceListener, log: OpLog): Seq[M] = {
    TracedQueries.flatMap { q =>
      val fn = graft.SparkEntry.queries(q)
      log(s"probe.query.$q")(fn(spark, sfDir).count())
      tl.flush(spark)
      val s = log.seconds(_ == s"probe.query.$q").lastOption.getOrElse(Double.NaN)
      Seq(M(s"query.$q.s", s, "s"),
        M(s"query.$q.jobs", tl.groups.get(s"probe.query.$q").map(_.jobs.toDouble).getOrElse(0.0), "count"))
    }
  }

  // ---- graft.Pipeline stages ---------------------------------------------

  /** Documents of the pipeline probe's input slice. */
  val PipelineDocs = 200L

  val Stages = Seq("clean", "profile", "points", "joined", "tiles", "pyramid")

  /** A staged `Pipeline.run` (dedup-clean, profile, points, joined, tiles,
    * pyramid, each committed through `Checkpoint`) on a fresh out-dir, then
    * the same run again, which must resume every stage with identical row
    * counts. Reports the cold run's stage seconds (from the returned stage
    * map), both wall times and what the cold run wrote. */
  def pipeline(spark: SparkSession, inputPath: String, out: String, mismatches: Seq[String] => Unit): Seq[M] = {
    Inputs.rmrf(out)
    def run() = graft.Pipeline.run(spark, inputPath, "synthetic", out, SpatialJoin.DefaultLevel, 7)
    val (cold, coldS) = timed(run())
    val bytes = Inputs.bytesUnder(out).toDouble
    val files = Inputs.filesUnder(out).toDouble
    val (resumed, resumeS) = timed(run())
    Inputs.rmrf(out)
    val bad = Seq(
      (cold.map(_._1) != Stages) -> s"pipeline: stages ${cold.map(_._1)}, expected $Stages",
      (resumed.map(_._1) != Stages || resumed.exists(!_._2._3)) ->
        s"pipeline: resume run did not resume every stage: ${resumed.map(x => x._1 -> x._2._3)}",
      (resumed.map(x => x._1 -> x._2._1) != cold.map(x => x._1 -> x._2._1)) ->
        s"pipeline: resume row counts ${resumed.map(_._2._1)} differ from cold ${cold.map(_._2._1)}")
    mismatches(bad.collect { case (true, msg) => msg })
    val stages = cold.toMap
    Stages.map(st => M(s"Pipeline.${st}_s", stages(st)._2, "s")) ++ Seq(
      M("Pipeline.cold_s", coldS, "s"), M("Pipeline.resume_s", resumeS, "s"),
      M("Pipeline.bytes_written", bytes, "bytes"), M("Pipeline.files_written", files, "count"),
      M("Pipeline.write_amp", bytes / Inputs.bytesUnder(inputPath), "ratio"))
  }

  // ---- graft.streaming --------------------------------------------------------

  val Ticks = 4
  val TickDocs = 5000L
  val MinZoom = 4
  val MaxZoom = 7

  /** Successive `Streams.pyramidTick` batches into one fresh work-dir. The
    * pyramid after the last tick must equal `Tiler.pyramidFromBase` over
    * the union of the batches. */
  def streaming(spark: SparkSession, batchPaths: Seq[String], workDir: String,
                mismatches: Seq[String] => Unit): Seq[M] = {
    // one untimed tick elsewhere, so the first timed tick is not the JVM's first
    graft.streaming.Streams.pyramidTick(spark, spark.read.parquet(batchPaths.head), s"$workDir-warm",
      MinZoom, MaxZoom, 0L)
    Inputs.rmrf(s"$workDir-warm")
    Inputs.rmrf(workDir)
    val ticks = batchPaths.zipWithIndex.map { case (p, t) =>
      timed(graft.streaming.Streams.pyramidTick(spark, spark.read.parquet(p), workDir, MinZoom, MaxZoom, t.toLong))._2
    }
    val deltas = Inputs.filesUnder(s"$workDir/base_deltas", ".parquet").toDouble
    val base = graft.engine.Tiler.assign(
      SpatialJoin.extractPoints(batchPaths.map(p => spark.read.parquet(p)).reduce(_ unionByName _)), MaxZoom)
      .groupBy(col("tile_id")).agg(count(lit(1)).as("n_points"))
    def rows(df: DataFrame) =
      df.select("tile_id", "z", "n_points").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = rows(graft.engine.Tiler.pyramidFromBase(base, MinZoom, MaxZoom))
    val got = rows(spark.read.parquet(s"$workDir/pyramid"))
    if (got != want || got.isEmpty)
      mismatches(Seq(s"streaming: ticked pyramid (${got.size} tiles) differs from the batch pyramid (${want.size} tiles)"))
    Inputs.rmrf(workDir)
    Seq(M("streaming.pyramidTick_first_s", ticks.head, "s"), M("streaming.pyramidTick_last_s", ticks.last, "s"),
      M("streaming.pyramidTick_slope_ms", Stats.slope(ticks) * 1000, "ms"),
      M("streaming.base_delta_files", deltas, "count"))
  }
}
