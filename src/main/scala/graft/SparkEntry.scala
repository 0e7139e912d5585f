package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.engine._
import graft.expr.GraftFunctions

/** Driver contract: `entry` is the flagship pipeline; `queries` maps operator
  * names to DataFrame builders over a scale-factor directory; `oracleSql`
  * holds DuckDB-equivalent SQL for every SQL-expressible query (the driver's
  * correctness gate). Kernel-heavy operators (geohash/OLC/UTM/PIP/kNN/LSH)
  * without practical ANSI-SQL equivalents are rows-only here and gated by the
  * golden-fixture + brute-force-oracle ScalaTest suites instead.
  *
  * Float discipline for oracle parity: sums go through DECIMAL (exact,
  * order-independent) and are cast back to DOUBLE; scalar doubles are
  * round()ed with identical formulas on both sides; outputs prefer integers.
  */
object SparkEntry {

  private def t(dir: String, name: String)(implicit spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Corpus size for a scale dir: sf0.001 -> 1k docs, sf0.01 -> 10k, sf0.1 -> 100k. */
  def corpusDocs(dir: String): Long = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1).toDouble).getOrElse(0.001)
    math.max(1000L, (sf * 1e6).toLong)
  }

  /** Doc-count caps for the quadratic-ish engine queries (kNN / media).
    * These bound the DRIVER-GATE inputs only (the DuckDB brute-force oracles
    * for kNN/media are quadratic); the operators themselves are uncapped.
    * Bench emits both caps in its JSON so the bound is never silent. */
  val KnnDocCap = 20000L
  val MediaDocCap = 10000L
  val DbscanDocCap = 2000L

  /** q55 flattening delta: International 1924 (1/297) minus WGS84 —
    * computed once so the oracle SQL embeds the identical double. */
  val MolodenskyDf: Double = 1.0 / 297.0 - 1.0 / 298.257223563

  private def prep(spark: SparkSession): SparkSession = {
    GraftFunctions.register(spark)
    spark
  }

  /** An EMPTY per-process scratch dir for the gates that write: deterministic
    * per (tag, scale) WITHIN a process so repeated runs in one JVM reuse and
    * wipe a single dir (bounded /tmp growth), and scoped by PID so two
    * concurrent JVMs (e.g. Bench and Verify at the same scale) can never
    * delete or overwrite each other's LIVE streaming sink/checkpoint/source.
    * A shutdown hook removes everything this process registered, and each
    * call first sweeps this (tag, scale)'s dirs of dead JVMs with
    * [[Scratch.sweepDead]], the sweep Durable's checkpoint dir shares. */
  private val scratchRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val scratchHook: Unit =
    java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchRoots.forEach(p => Scratch.delete(new java.io.File(p)))))
  private def scratchDir(tag: String, dir: String): String = {
    scratchHook
    val tmpRoot = new java.io.File(sys.props("java.io.tmpdir"))
    val stem = s"graft_${tag}_" + Integer.toHexString(dir.hashCode)
    Scratch.sweepDead(tmpRoot, stem)
    val d = new java.io.File(tmpRoot, s"${stem}_" + java.lang.ProcessHandle.current().pid())
    scratchRoots.add(d.getPath)
    org.apache.commons.io.FileUtils.deleteDirectory(d)
    require(d.mkdirs(), s"could not create scratch dir $d")
    d.getPath
  }

  /** Stage `parts` as one mtime-ordered parquet file each (b0, b1, ...) in
    * an empty scratch dir, so a file stream under maxFilesPerTrigger=1
    * reads them as that many micro-batches in order. Returns the dir and
    * the staged schema. Restaged on EVERY call: a stale staged copy after
    * the source is regenerated would silently desync the stream from the
    * oracle. */
  private def stageBatches(tag: String, dir: String,
                           parts: Seq[DataFrame]): (String, StructType) = {
    val src = new java.io.File(scratchDir(tag, dir))
    val now = System.currentTimeMillis()
    for ((part, i) <- parts.zipWithIndex)
      stageSingleParquet(part, src, s"b$i", now - (parts.size - 1 - i) * 600000L)
    (src.getPath, parts.head.sparkSession.read.parquet(s"${src.getPath}/b0.parquet").schema)
  }

  /** Run `stream` to completion under AvailableNow into an append-mode
    * parquet sink in the (tag, scale) scratch dir and read the sink back.
    * The read takes the stream's schema, nullable as parquet inference
    * would make it: a stream that runs no micro-batch writes no data file,
    * and a bare `spark.read.parquet` of its sink fails on schema inference
    * instead of returning an empty frame. */
  private[graft] def drain(stream: DataFrame, tag: String, dir: String): DataFrame = {
    val out = scratchDir(tag, dir)
    stream.writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    stream.sparkSession.read
      .schema(StructType(stream.schema.fields.map(_.copy(nullable = true))))
      .parquet(s"$out/data")
  }

  /** Write `df` as a SINGLE parquet file `destDir/name.parquet` with the
    * given mtime. FileStreamSource orders candidate files by mtime, so the
    * staged mtimes define micro-batch order under maxFilesPerTrigger=1. */
  private def stageSingleParquet(df: DataFrame, destDir: java.io.File,
                                 name: String, mtime: Long): Unit = {
    val tmp = new java.io.File(destDir, s"_tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).headOption
      .getOrElse(throw new IllegalStateException(s"no part file written under $tmp"))
    val dst = new java.io.File(destDir, s"$name.parquet")
    java.nio.file.Files.move(part.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    // batch ORDER depends on these mtimes — a silent setLastModified
    // failure would reorder batches and corrupt the gate, so fail loudly
    require(dst.setLastModified(mtime), s"setLastModified failed for $dst")
  }

  /** The 20 hotspot hubs as a (qid, lat, lon) frame — shared by the kNN and
    * distance-join gates so the site set can never desynchronize. */
  private def hubSites(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      Corpus.Hotspots.zipWithIndex.map { case ((la, lo), i) => (f"hub-$i%02d", la, lo) }.toSeq)
      .toDF("qid", "lat", "lon")

  /** The ANN gates' shared frames: `search` gets the (vec_id, embedding)
    * corpus and the eight q<vec_id> queries (q_emb) of the embeddings
    * table, and its (qid, vec_id, sim, rank) hits come back as the oracle
    * compares them: sim rounded to 6 places, ordered by (qid, rank). */
  private def annGate(spark: SparkSession, dir: String)
                     (search: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val e = t(dir, "embeddings")(spark)
    val emb = col("embedding").cast("array<double>")
    search(e.select(col("vec_id"), emb.as("embedding")),
      e.where(col("vec_id") < 8).select(concat(lit("q"), col("vec_id")).as("qid"), emb.as("q_emb")))
      .select(col("qid"), col("vec_id"), (round(col("sim"), 6) + 0.0).as("sim"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Derived deterministic points from customer keys (SQL-reproducible):
    * lat in [-80, 83.9], lon in [-180, 179.9]. */
  private def customerPoints(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    t(dir, "customer").select(
      col("c_custkey"),
      (col("c_custkey") % 1640 / lit(10.0) - 80.0).as("lat"),
      (col("c_custkey") * 7 % 3600 / lit(10.0) - 180.0).as("lon"))
  }
  // CAST to DOUBLE matters: DuckDB would otherwise run the /10.0 in exact
  // DECIMAL arithmetic while Spark computes in double.
  private val CustomerPointsSql =
    "SELECT c_custkey, CAST(c_custkey % 1640 AS DOUBLE)/10.0 - 80.0 AS lat, " +
      "CAST((c_custkey*7) % 3600 AS DOUBLE)/10.0 - 180.0 AS lon FROM customer"

  /** Flagship: full spatial pipeline (parse -> cell -> broadcast join -> PIP
    * -> per-polygon doc counts) on a 1k-doc corpus. */
  def entry(spark: SparkSession): DataFrame = {
    prep(spark)
    val docs = Corpus.documentsDf(spark, 1000L, partitions = 8)
    val polys = Corpus.polygons(spark).toDF()
    val points = SpatialJoin.extractPoints(docs)
    SpatialJoin.join(points, polys)
      .groupBy(col("poly_id"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_points"))
      .orderBy(col("poly_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (oracle-checked) --------------------------------
    "q01_pricing_agg" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      t(dir, "lineitem")
        .where(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("cnt"),
          round(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double"), 2).as("sum_qty"),
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(28, 10))).cast("double"), 2).as("revenue"),
          round(sum(col("l_discount").cast(DecimalType(18, 6))).cast("double") / count(lit(1)), 8)
            .as("avg_disc"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q02_join_nation_revenue" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      t(dir, "lineitem")
        .join(t(dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"),
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(28, 10))).cast("double"), 2).as("revenue"))
        .orderBy(col("n_name"))
    }),
    "q03_window_topcust" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(dir, "customer")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("c_mktsegment"), col("rn"), col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_mktsegment"), col("rn"))
    }),
    "q04_semi_exists" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      val disc = t(dir, "lineitem").where(col("l_discount") > 0.05)
        .select(col("l_orderkey"))
      t(dir, "orders").join(disc, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("o_orderpriority"))
    }),
    "q05_anti_noorders" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      t(dir, "customer")
        .join(t(dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("c_nationkey"))
    }),
    "q06_setop_except" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      t(dir, "orders").select(col("o_custkey").as("k"))
        .except(t(dir, "customer").where(col("c_acctbal") < 0)
          .select(col("c_custkey").as("k")))
        .orderBy(col("k"))
    }),
    "q07_rollup_counts" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      t(dir, "customer")
        .join(broadcast(t(dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .rollup(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("n_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first)
    }),
    // ---- spatial kernels, SQL-expressible (oracle-checked) ---------------
    "q08_tile_agg" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .withColumn("tile", call_function("st_tile", col("lat"), col("lon"), lit(8)))
        .groupBy(col("tile.x").as("tx"), col("tile.y").as("ty"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("tx"), col("ty"))
    }),
    "q09_haversine" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .select(col("c_custkey"),
          round(call_function("st_haversine",
            col("lat"), col("lon"), lit(48.8566), lit(2.3522)), 1).as("dist_m"))
        .orderBy(col("c_custkey"))
    }),
    "q10_utm_zone_band" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .select(col("c_custkey"),
          call_function("st_utm_zone", col("lat"), col("lon")).as("zone"),
          call_function("st_band", col("lat")).as("band"),
          when(col("lat") >= 0, "N").otherwise("S").as("hemisphere"))
        .orderBy(col("c_custkey"))
    }),
    "q11_box_contains" -> ((spark, dir) => {
      val s = prep(spark)
      implicit val ss: SparkSession = s
      val pts = customerPoints(s, dir)
      pts.join(broadcast(t(dir, "customer").select("c_custkey", "c_nationkey")), Seq("c_custkey"))
        .where(call_function("st_box_contains",
          lit(-10.0), lit(-30.0), lit(45.0), lit(60.0), col("lat"), col("lon")))
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("c_nationkey"))
    }),
    "q12_wrap_functions" -> ((spark, dir) => {
      val s = prep(spark)
      implicit val ss: SparkSession = s
      t(dir, "customer")
        .select(col("c_custkey"),
          (col("c_custkey") * 13 % 14400 / lit(10.0) - 720.0).as("v"))
        .select(col("c_custkey"),
          call_function("st_wrap90", col("v")).as("w90"),
          call_function("st_wrap180", col("v")).as("w180"),
          call_function("st_wrap360", col("v")).as("w360"))
        .orderBy(col("c_custkey"))
    }),
    "q13_ecef" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .withColumn("e", call_function("st_geo_to_ecef", col("lat"), col("lon"), lit(0.0)))
        .select(col("c_custkey"),
          (round(col("e.x"), 2) + 0.0).as("x"), (round(col("e.y"), 2) + 0.0).as("y"),
          (round(col("e.z"), 2) + 0.0).as("z"))
        .orderBy(col("c_custkey"))
    }),
    "q14_helmert" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .withColumn("e", call_function("st_geo_to_ecef", col("lat"), col("lon"), lit(0.0)))
        .withColumn("h", call_function("st_helmert7",
          col("e.x"), col("e.y"), col("e.z"),
          lit(-581.99), lit(-105.01), lit(-414.0),
          lit(1.04), lit(0.35), lit(-3.08), lit(-8.3)))
        .select(col("c_custkey"),
          (round(col("h.x"), 3) + 0.0).as("hx"), (round(col("h.y"), 3) + 0.0).as("hy"),
          (round(col("h.z"), 3) + 0.0).as("hz"))
        .orderBy(col("c_custkey"))
    }),
    // ---- training-data pipeline (oracle-checked where SQL allows) --------
    "q15_dedup_exact" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      t(dir, "documents")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("content_hash"))
    }),
    "q16_text_stats" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      t(dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("chars"),
        (length(col("text")) - length(translate(col("text"), " ", ""))).as("spaces"),
        length(translate(col("text"), "aeiou", "")).as("non_vowels"))
        .orderBy(col("doc_id"))
    }),
    "q17_events_window" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(dir, "events")
        .select(col("event_id"), row_number().over(w).as("rn"))
        .orderBy(col("event_id"))
    }),
    "q18_sessionize" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(dir, "events")
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("brk",
          when(col("prev_us").isNotNull && col("us") - col("prev_us") > 1800000000L, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg((sum(col("brk")) + 1).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),
    "q19_embed_norm" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      val emb = col("embedding").cast("array<double>")
      t(dir, "embeddings").select(col("vec_id"),
        round(aggregate(zip_with(emb, emb, (x, y) => x * y), lit(0.0), (a, x) => a + x), 6)
          .as("norm_sq"))
        .orderBy(col("vec_id"))
    }),
    "q20_cosine_to_query" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      val e = t(dir, "embeddings")
      val q = e.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("q_emb"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(Ann.cosine(col("embedding").cast("array<double>"), col("q_emb")), 6).as("cos_sim"))
        .orderBy(col("vec_id"))
    }),
    "q21_geohash_sql" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .select(col("c_custkey"),
          call_function("st_geohash", col("lat"), col("lon"), lit(5)).as("gh5"))
        .orderBy(col("c_custkey"))
    }),
    "q22_olc_sql" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .select(col("c_custkey"),
          call_function("olc_encode", col("lat"), col("lon"), lit(10)).as("olc10"))
        .orderBy(col("c_custkey"))
    }),
    // ---- spatial engine over the stored corpus (parquet; see Corpus.ensure)
    "q30_parse_extract" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      // raw doubles on purpose: the oracle mirrors the parse arithmetic
      // bit-for-bit, and round() half-ties at the 6th decimal differ between
      // engines (BigDecimal HALF_UP vs scaled-double rounding)
      SpatialJoin.extractPoints(docs)
        .select(col("doc_id"), col("offset"), col("lat"), col("lon"), col("cell"))
        .orderBy(col("doc_id"), col("offset"))
    }),
    "q31_spatial_join" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      val polys = Corpus.storedPolys(s, corpusDocs(dir))
      SpatialJoin.join(SpatialJoin.extractPoints(docs), polys)
        .select(col("doc_id"), col("offset"), col("poly_id"))
        .orderBy(col("doc_id"), col("offset"), col("poly_id"))
    }),
    "q32_spatial_join_salted" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      val polys = Corpus.storedPolys(s, corpusDocs(dir))
      SpatialJoin.join(SpatialJoin.extractPoints(docs), polys, salt = 8)
        .groupBy(col("poly_id")).agg(count(lit(1)).as("n_points"))
        .orderBy(col("poly_id"))
    }),
    "q33_tile_histogram" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      Tiler.histogram(SpatialJoin.extractPoints(docs), 7, exact = true)
        .select("tile_id", "z", "x", "y", "n_points", "n_docs")
        .orderBy(col("tile_id"))
    }),
    "q34_knn" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
        .where(col("doc_id") < lit(f"doc-${KnnDocCap}%09d"))
      val pts = SpatialJoin.extractPoints(docs)
        .select(concat_ws(":", col("doc_id"), col("offset")).as("pid"),
          col("lat"), col("lon"))
      val queries = hubSites(s)
      Knn.knn(s, queries, pts, k = 10)
        .select(col("qid"), col("pid"), (round(col("dist"), 3) + 0.0).as("dist"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),
    "q35_geohash_olc_mgrs" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .withColumn("gh", call_function("st_geohash", col("lat"), col("lon"), lit(7)))
        .withColumn("olc", call_function("olc_encode", col("lat"), col("lon"), lit(11)))
        .withColumn("m", call_function("st_geo_to_mgrs", col("lat"), col("lon")))
        .select(col("c_custkey"), col("gh"), col("olc"),
          col("m.zone").as("mz"), col("m.band").as("mb"),
          col("m.e100k").as("me"), col("m.n100k").as("mn"))
        .orderBy(col("c_custkey"))
    }),
    "q36_polyfill" -> ((spark, dir) => {
      val s = prep(spark)
      Tiler.polyfill(Corpus.storedPolys(s, corpusDocs(dir)), 9)
        .orderBy(col("poly_id"), col("tile_id"))
    }),
    "q37_media_features" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
        .where(col("doc_id") < lit(f"doc-${MediaDocCap}%09d"))
      Media.extractFeatures(s, docs)
        .select(col("doc_id"), col("media_ref"), col("width"), col("height"), col("n_frames"))
        .orderBy(col("doc_id"), col("media_ref"))
    }),
    "q38_spatial_join_range" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      val polys = Corpus.storedPolys(s, corpusDocs(dir))
      SpatialJoin.joinRangeWithIndex(SpatialJoin.extractPoints(docs), SpatialJoin.buildIndex(polys))
        .select(col("doc_id"), col("offset"), col("poly_id"))
        .orderBy(col("doc_id"), col("offset"), col("poly_id"))
    }),
    "q39_dedup_exact_groups" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      Dedup.exactGroups(t(dir, "documents"))
        .orderBy(col("content_hash"), col("doc_id"))
    }),
    "q40_dedup_minhash" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      Dedup.minhashLsh(t(dir, "documents").withColumn("doc_id", col("doc_id").cast("string")),
        threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    "q41_dedup_simhash" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      Dedup.simhashPairs(t(dir, "documents"), maxHamming = 6)
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    "q42_lang_quality" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      // fused single-scan profile (was langId JOIN quality JOIN fingerprint:
      // 3 scans + 2 shuffles; PlanSpec gates the single-FileScan shape)
      TextOps.profile(t(dir, "documents"))
        .orderBy(col("doc_id"))
    }),
    "q43_ann_topk" -> ((spark, dir) =>
      annGate(prep(spark), dir)(Ann.bruteForceTopK(_, _, k = 10))),
    "q47_vincenty" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .select(col("c_custkey"),
          (round(call_function("st_vincenty",
            col("lat"), col("lon"), lit(48.8566), lit(2.3522)), 3) + 0.0).as("dist_m"))
        .where(col("dist_m").isNotNull)
        .orderBy(col("c_custkey"))
    }),
    "q45_embed_neardup" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      Dedup.embeddingNearDup(
        t(dir, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding")),
        threshold = 0.2)
        .orderBy(col("vec_a"), col("vec_b"))
    }),
    "q46_token_counts" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      TextOps.tokenCounts(t(dir, "documents"))
        .orderBy(col("doc_id"))
    }),
    // ---- inverse / parse surface (round-3 driver-oracle coverage) ---------
    // q48: UTM -> geographic (Newton inverse + Krüger beta series), over
    // synthesized UTM positions; oracle = recursive-CTE Newton mirror.
    "q48_utm_to_geo" -> ((spark, dir) => {
      val s = prep(spark)
      implicit val ss: SparkSession = s
      t(dir, "customer")
        .select(col("c_custkey"),
          (col("c_custkey") % 60 + 1).cast("int").as("zone"),
          when(col("c_custkey") % 2 === 0, "N").otherwise("S").as("hemi"),
          (lit(200000.0) + (col("c_custkey") * 13 % 600000).cast("double")).as("easting"),
          (lit(1000000.0) + (col("c_custkey") * 7 % 8000000).cast("double")).as("northing"))
        .withColumn("g", call_function("st_utm_to_geo",
          col("zone"), col("hemi"), col("easting"), col("northing")))
        .select(col("c_custkey"), col("zone"), col("hemi"),
          (round(col("g.lat"), 6) + 0.0).as("lat"),
          (round(col("g.lon"), 6) + 0.0).as("lon"))
        .orderBy(col("c_custkey"))
    }),
    // q49: MGRS round trip geo -> MGRS -> UTM -> geo (letters + recovered
    // UTM + recovered geo); exercises st_geo_to_mgrs / st_mgrs_to_utm /
    // st_mgrs_to_geo against a forward-Krüger + walk + inverse-Newton oracle.
    "q49_mgrs_roundtrip" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .withColumn("m", call_function("st_geo_to_mgrs", col("lat"), col("lon")))
        .withColumn("u", call_function("st_mgrs_to_utm",
          col("m.zone"), col("m.band"), col("m.e100k"), col("m.n100k"),
          col("m.easting"), col("m.northing")))
        .withColumn("g", call_function("st_mgrs_to_geo",
          col("m.zone"), col("m.band"), col("m.e100k"), col("m.n100k"),
          col("m.easting"), col("m.northing")))
        .select(col("c_custkey"),
          col("m.zone").as("mz"), col("m.band").as("mb"),
          col("m.e100k").as("me"), col("m.n100k").as("mn"),
          col("u.hemisphere").as("uhemi"),
          (round(col("u.easting"), 3) + 0.0).as("ueast"),
          (round(col("u.northing"), 3) + 0.0).as("unorth"),
          (round(col("g.lat"), 6) + 0.0).as("rlat"),
          (round(col("g.lon"), 6) + 0.0).as("rlon"))
        .orderBy(col("c_custkey"))
    }),
    // q50: ECEF -> geographic (Bowring) round trip with altitude.
    "q50_ecef_to_geo" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .withColumn("alt", (col("c_custkey") % 5000).cast("double"))
        .withColumn("e", call_function("st_geo_to_ecef", col("lat"), col("lon"), col("alt")))
        .withColumn("g", call_function("st_ecef_to_geo", col("e.x"), col("e.y"), col("e.z")))
        .select(col("c_custkey"),
          (round(col("g.lat"), 6) + 0.0).as("rlat"),
          (round(col("g.lon"), 6) + 0.0).as("rlon"),
          (round(col("g.h"), 4) + 0.0).as("rh"))
        .orderBy(col("c_custkey"))
    }),
    // q51: free-text UTM + MGRS parsing over synthesized coordinate strings
    // (spaced-decimal and compact zero-padded MGRS forms; hemisphere vs
    // band letters both exercised).
    "q51_parse_utm_mgrs" -> ((spark, dir) => {
      val s = prep(spark)
      implicit val ss: SparkSession = s
      val bandLetters = "CDEFGHJKLMNPQRSTUVWX"
      val base = t(dir, "customer").select(
        col("c_custkey"),
        (col("c_custkey") % 60 + 1).cast("int").as("zone"),
        lit(bandLetters).substr((col("c_custkey") % 20).cast("int") + 1, lit(1)).as("letter"),
        (lit(200000) + col("c_custkey") * 13 % 600000).cast("long").as("e_int"),
        (col("c_custkey") * 7 % 9000000).cast("long").as("n_int"),
        lit("ABCDEFGH").substr((col("c_custkey") % 8).cast("int") + 1, lit(1)).as("ge"),
        lit("ABCDEFGHJKLMNPQRSTUV").substr((col("c_custkey") % 20).cast("int") + 1, lit(1)).as("gn"),
        (col("c_custkey") * 3 % 100000).cast("long").as("me_int"),
        (col("c_custkey") * 11 % 100000).cast("long").as("mn_int"))
      val withStrs = base
        .withColumn("utm_str", concat(col("zone"), lit(" "), col("letter"), lit(" "),
          col("e_int"), lit(".25 "), col("n_int"), lit(".75")))
        .withColumn("mgrs_str",
          when(col("c_custkey") % 2 === 0,
            concat(col("zone"), lit(" "), col("letter"), lit(" "), col("ge"), col("gn"),
              lit(" "), col("me_int"), lit(".5 "), col("mn_int"), lit(".25")))
          .otherwise(concat(col("zone"), col("letter"), col("ge"), col("gn"),
            lpad(col("me_int"), 5, "0"), lpad(col("mn_int"), 5, "0"))))
        .withColumn("pu", call_function("st_parse_utm", col("utm_str")))
        .withColumn("pm", call_function("st_parse_mgrs", col("mgrs_str")))
      withStrs.select(col("c_custkey"),
        col("pu.zone").as("u_zone"), col("pu.hemisphere").as("u_hemi"),
        col("pu.easting").as("u_east"), col("pu.northing").as("u_north"),
        col("pm.zone").as("m_zone"), col("pm.band").as("m_band"),
        col("pm.e100k").as("m_e100k"), col("pm.n100k").as("m_n100k"),
        col("pm.easting").as("m_east"), col("pm.northing").as("m_north"))
        .orderBy(col("c_custkey"))
    }),
    // q52: geohash decode / bounds / adjacent (all four directions) —
    // dyadic-rational arithmetic, compared RAW (bit-exact on both engines).
    "q52_geohash_inverse" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .withColumn("gh", call_function("st_geohash", col("lat"), col("lon"), lit(5)))
        .withColumn("d", call_function("st_geohash_decode", col("gh")))
        .withColumn("b", call_function("st_geohash_bounds", col("gh")))
        .select(col("c_custkey"), col("gh"),
          col("d.lat").as("clat"), col("d.lon").as("clon"),
          col("b.south").as("bs"), col("b.west").as("bw"),
          col("b.north").as("bn"), col("b.east").as("be"),
          call_function("st_geohash_adjacent", col("gh"), lit("n")).as("adj_n"),
          call_function("st_geohash_adjacent", col("gh"), lit("e")).as("adj_e"),
          call_function("st_geohash_adjacent", col("gh"), lit("s")).as("adj_s"),
          call_function("st_geohash_adjacent", col("gh"), lit("w")).as("adj_w"))
        .orderBy(col("c_custkey"))
    }),
    // q53: OLC decode / shorten / recover — integer-pipeline mirror; the
    // per-row reference offset cycles through the four shorten tiers.
    "q53_olc_inverse" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .withColumn("code", call_function("olc_encode", col("lat"), col("lon"), lit(11)))
        .withColumn("off",
          when(col("c_custkey") % 4 === 0, 0.0002)
            .when(col("c_custkey") % 4 === 1, 0.002)
            .when(col("c_custkey") % 4 === 2, 0.02)
            .otherwise(0.5))
        .withColumn("ref_lat", col("lat") + col("off"))
        .withColumn("ref_lon", col("lon") + col("off"))
        .withColumn("d", call_function("olc_decode", col("code")))
        .withColumn("short", call_function("olc_shorten",
          col("code"), col("ref_lat"), col("ref_lon")))
        .withColumn("rec", call_function("olc_recover",
          col("short"), col("ref_lat"), col("ref_lon")))
        .select(col("c_custkey"), col("code"),
          col("d.south").as("ds"), col("d.west").as("dw"),
          col("d.north").as("dn"), col("d.east").as("de"),
          col("d.length").as("dlen"), col("short"), col("rec"))
        .orderBy(col("c_custkey"))
    }),
    // q54: cartesian datum transforms — helmert3, helmert7 with the
    // reference's convention flags, Molodensky-Badekas, and the registry
    // datum shift (osgb1970) over derived ECEF positions.
    "q54_datum_transforms" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .withColumn("e", call_function("st_geo_to_ecef", col("lat"), col("lon"), lit(0.0)))
        .withColumn("h3", call_function("st_helmert3",
          col("e.x"), col("e.y"), col("e.z"), lit(100.5), lit(-200.25), lit(50.125)))
        .withColumn("h7x", call_function("st_helmert7_ex",
          col("e.x"), col("e.y"), col("e.z"),
          lit(-581.99), lit(-105.01), lit(-414.0),
          lit(1.04), lit(0.35), lit(-3.08), lit(-8.3),
          lit(true), (col("c_custkey") % 2 === 0)))
        .withColumn("mb", call_function("st_molodensky_badekas",
          col("e.x"), col("e.y"), col("e.z"),
          lit(-270.933), lit(115.599), lit(-360.226),
          lit(-5.266), lit(-1.238), lit(2.381),
          lit(2464351.59), lit(-5783466.61), lit(974809.81), lit(-5.109)))
        .withColumn("ds", call_function("st_datum_shift",
          col("e.x"), col("e.y"), col("e.z"), lit("osgb1970")))
        .select(col("c_custkey"),
          (round(col("h3.x"), 4) + 0.0).as("h3x"),
          (round(col("h7x.x"), 4) + 0.0).as("h7x"),
          (round(col("h7x.y"), 4) + 0.0).as("h7y"),
          (round(col("h7x.z"), 4) + 0.0).as("h7z"),
          (round(col("mb.x"), 4) + 0.0).as("mbx"),
          (round(col("mb.y"), 4) + 0.0).as("mby"),
          (round(col("mb.z"), 4) + 0.0).as("mbz"),
          (round(col("ds.x"), 4) + 0.0).as("dsx"),
          (round(col("ds.y"), 4) + 0.0).as("dsy"),
          (round(col("ds.z"), 4) + 0.0).as("dsz"))
        .orderBy(col("c_custkey"))
    }),
    // q55: abridged Molodensky direct geodetic shift (the reference's empty
    // geodetic5p stub completed) — WGS84 -> ED50-like (International 1924).
    "q55_molodensky" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .withColumn("alt", (col("c_custkey") % 3000).cast("double"))
        .withColumn("m", call_function("st_molodensky",
          col("lat"), col("lon"), col("alt"),
          lit(87.0), lit(98.0), lit(121.0),
          lit(251.0), lit(MolodenskyDf)))
        .select(col("c_custkey"),
          (round(col("m.lat"), 6) + 0.0).as("mlat"),
          (round(col("m.lon"), 6) + 0.0).as("mlon"),
          (round(col("m.h"), 4) + 0.0).as("mh"))
        .orderBy(col("c_custkey"))
    }),
    // q56: spatial join against a MULTI-RING layer (holes + multipolygons),
    // even-odd refine; oracle = brute-force crossing count over all rings.
    "q56_pip_multiring" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      val mp = Corpus.storedPolysHoled(s, corpusDocs(dir))
      SpatialJoin.joinMulti(SpatialJoin.extractPoints(docs), mp)
        .select(col("doc_id"), col("offset"), col("poly_id"))
        .orderBy(col("doc_id"), col("offset"), col("poly_id"))
    }),
    // q57: Structured Streaming tile assignment under Trigger.AvailableNow
    // over the stored corpus directory, parquet sink, read back for the
    // oracle compare — the batch extractPoints -> Tiler.assign chain on a
    // streaming frame, which puts the streaming path into the driver gate.
    "q57_stream_tiles" -> ((spark, dir) => {
      val s = prep(spark)
      val nDocs = corpusDocs(dir)
      val (docsPath, _) = Corpus.ensure(s, nDocs)
      val sch = s.read.parquet(docsPath).schema
      drain(Tiler.assign(
          SpatialJoin.extractPoints(s.readStream.schema(sch).parquet(docsPath)), 7)
        .select(col("doc_id"), col("offset"), col("tile_id")), "q57", dir)
        .orderBy(col("doc_id"), col("offset"), col("tile_id"))
    }),
    // q58: n-gram Jaccard for explicit candidate pairs (the similarity
    // verifier as its own operator, over all pairs of the first 20 docs).
    "q58_ngram_jaccard" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      val ids = t(dir, "documents").select(col("doc_id")).where(col("doc_id") < 20)
      val pairs = ids.select(col("doc_id").as("doc_a"))
        .crossJoin(ids.select(col("doc_id").as("doc_b")))
        .where(col("doc_a") < col("doc_b"))
      Dedup.ngramJaccard(t(dir, "documents"), pairs)
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    // q59: streaming watermarked tumbling-window counts under
    // Trigger.AvailableNow (complete mode, memory sink) — must equal the
    // batch aggregation exactly (the DECIMAL-routed sum is order-independent).
    "q59_stream_window" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      // readStream needs a DIRECTORY; q60 stages the same copy
      val (src, sch) = stageBatches("events", dir, Seq(t(dir, "events")))
      val qname = "graft_q59_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.Streams.windowedCounts(s.readStream.schema(sch).parquet(src))
        .select(unix_micros(col("window.start")).as("ws_us"),
          unix_micros(col("window.end")).as("we_us"),
          col("event_type"), col("n"), col("total"))
        .writeStream
        .format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname).orderBy(col("ws_us"), col("event_type"))
    }),
    "q44_ann_lsh" -> ((spark, dir) =>
      annGate(prep(spark), dir)(Ann.lshTopK(_, _, k = 10, dims = 64))),
    // q60: custom keyed streaming state (flatMapGroupsWithState sessionize)
    // under Trigger.AvailableNow — the last streaming shape missing from the
    // driver gate. The per-user counters it emits are MONOTONE, so max() per
    // user over the update stream is the final state no matter how the
    // source splits into micro-batches. The gap rule itself assumes per-key
    // event-time order ACROSS batches (within a batch the operator sorts):
    // guaranteed here because the single staged file is one AvailableNow
    // batch. The oracle is the batch gap-rule SQL (same as q18).
    "q60_stream_sessionize" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      val (src, sch) = stageBatches("events", dir, Seq(t(dir, "events")))
      val outBase = scratchDir("q60", dir)
      // update-mode output can't go to a parquet sink directly; foreachBatch
      // appends each batch's updates and the readback reduces to the final
      // (= max) counter per user
      val q = graft.streaming.Streams.sessionize(s, s.readStream.schema(sch).parquet(src))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$outBase/ckpt")
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("append").parquet(s"$outBase/data")
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$outBase/data")
        .groupBy(col("user_id"))
        .agg(max(col("sessions")).as("n_sessions"), max(col("events")).as("n_events"))
        .orderBy(col("user_id"))
    }),
    // q61: IVF-flat ANN (coarse quantizer + nprobe list search) — the
    // second scale path for similarity search next to q44's LSH buckets.
    "q61_ann_ivf" -> ((spark, dir) =>
      annGate(prep(spark), dir)(Ann.ivfTopK(_, _, k = 10, nCentroids = 16, nprobe = 4))),
    // q62: the cell/geohash/tile scalar surface that until now was
    // ScalaTest-gated only — parent/long-id/ring/neighbors/auto-precision/
    // cover-box/tile-bounds/box-center, every output mirrored exactly in
    // SQL (dyadic cell arithmetic raw; the two Mercator lat bounds and the
    // derived center lat are trig and compare at 6dp).
    "q62_cell_surface" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .withColumn("gh5", call_function("st_cell", col("lat"), col("lon"), lit(5)))
        .withColumn("parent3", call_function("st_cell_parent", col("gh5"), lit(3)))
        .withColumn("cl5", call_function("st_cell_long", col("lat"), col("lon"), lit(5)))
        .withColumn("c2l3", call_function("st_cell_to_long", col("parent3")))
        .withColumn("nb",
          concat_ws(",", call_function("st_geohash_neighbors", col("gh5"))))
        .withColumn("ring1",
          concat_ws(",", array_sort(call_function("st_cell_ring", col("gh5"), lit(1)))))
        // the decoded centre of a level-5 cell is a dyadic rational that is
        // NOT the centre of any coarser cell (2^k cannot divide an odd
        // numerator), so auto precision must terminate at exactly 5
        .withColumn("ctr", call_function("st_geohash_decode", col("gh5")))
        .withColumn("auto5",
          call_function("st_geohash_auto", col("ctr.lat"), col("ctr.lon")))
        // closed box = this cell plus one exact cell size north/east ->
        // the 2x2 walk [cell, E, N, NE]; customer lats/lons stay > one
        // level-5 cell away from the lat/lon axis edges, so no wrap arm
        .withColumn("gb", call_function("st_geohash_bounds", col("gh5")))
        .withColumn("cb", concat_ws(",", call_function("st_cover_box",
          col("gb.south"), col("gb.west"),
          col("gb.north") + lit(180.0 / 4096), col("gb.east") + lit(360.0 / 8192),
          lit(5))))
        .withColumn("tile", call_function("st_tile", col("lat"), col("lon"), lit(9)))
        .withColumn("tb",
          call_function("st_tile_bounds", col("tile.z"), col("tile.x"), col("tile.y")))
        .withColumn("bc", call_function("st_box_center",
          col("tb.south"), col("tb.west"), col("tb.north"), col("tb.east")))
        .select(col("c_custkey"), col("gh5"), col("parent3"), col("cl5"), col("c2l3"),
          col("nb"), col("ring1"), col("auto5"), col("cb"),
          (round(col("tb.south"), 6) + 0.0).as("tbs"),
          col("tb.west").as("tbw"),
          (round(col("tb.north"), 6) + 0.0).as("tbn"),
          col("tb.east").as("tbe"),
          (round(col("bc.lat"), 6) + 0.0).as("bclat"),
          col("bc.lon").as("bclon"))
        .orderBy(col("c_custkey"))
    }),
    // q63: the UTM/registry/validity scalar surface — full st_geo_to_utm
    // struct incl. convergence + scale (Karney eq 23-25, mirrored in SQL),
    // st_utm_band (inverse round trip -> band letter), band->hemisphere,
    // the validating ctors' null discipline, and the ellipsoid/datum
    // registry against independent EPSG literals.
    "q63_utm_registry_surface" -> ((spark, dir) => {
      val s = prep(spark)
      val datum = call_function("st_datum", lit("wgs84"))
      customerPoints(s, dir)
        // the round-trip lat returns within ~1e-9 deg of the input; a lat
        // EXACTLY on an 8-degree band boundary could floor differently
        // across engines, so boundary rows are excluded (identical filter
        // both sides, derived from the original input)
        .where(col("lat") % 8 =!= 0.0)
        .withColumn("u", call_function("st_geo_to_utm", col("lat"), col("lon")))
        .withColumn("band", call_function("st_utm_band",
          col("u.zone"), col("u.hemisphere"), col("u.easting"), col("u.northing")))
        .withColumn("uc", call_function("st_geo_to_utm_compat", col("lat"), col("lon")))
        .select(col("c_custkey"),
          col("u.zone").as("zone"), col("u.hemisphere").as("hemi"),
          (round(col("u.easting"), 4) + 0.0).as("easting"),
          (round(col("u.northing"), 4) + 0.0).as("northing"),
          (round(col("u.convergence"), 6) + 0.0).as("conv"),
          (round(col("u.scale"), 9) + 0.0).as("kscale"),
          col("band"),
          call_function("st_band_to_hemisphere",
            call_function("st_band", col("lat"))).as("bh"),
          call_function("st_geo_to_utm_full", col("lat"), col("lon"), lit(123.25))
            .getField("altitude").as("ualt"),
          call_function("st_utm_valid", col("u.zone"), col("u.hemisphere")).as("v_ok"),
          call_function("st_utm_valid", col("u.zone") + lit(61), col("u.hemisphere")).as("v_zone"),
          call_function("st_geo_valid", col("lat"), col("lon")).as("g_ok"),
          call_function("st_geo_valid", col("lat") + lit(200.0), col("lon")).as("g_lat"),
          call_function("st_geo", col("lat") + lit(200.0), col("lon")).isNull.as("gnull"),
          call_function("st_utm", lit(0), lit("N"),
            col("u.easting"), col("u.northing")).isNull.as("unull"),
          call_function("st_ellipsoid_a", lit("wgs84")).as("wa"),
          call_function("st_ellipsoid_f", lit("wgs84")).as("wf"),
          call_function("st_ellipsoid_a", lit("bessel1841")).as("ba"),
          datum.getField("epsg").as("depsg"),
          datum.getField("ellipsoid_epsg").as("deell"),
          // quirk Q2 compat: series truncated (alpha = 0, A = a/(1+n))
          (round(col("uc.easting"), 4) + 0.0).as("ceasting"),
          (round(col("uc.northing"), 4) + 0.0).as("cnorthing"))
        .orderBy(col("c_custkey"))
    }),
    // q64: OLC validity family over constructed codes (each outcome decided
    // by the construction per the spec rules, mirrored as derived
    // constants), st_parse_coord over synthesized DMS/decimal/garbage
    // strings (exact d + (m + s/60)/60 arithmetic mirrored), and the
    // corrected st_matmul toy (raw dot products).
    "q64_olc_parse_matmul" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .withColumn("full10", call_function("olc_encode", col("lat"), col("lon"), lit(10)))
        .withColumn("short4", expr("substring(full10, 5)"))
        .withColumn("padded", concat(substring(col("full10"), 1, 4), lit("0000+")))
        .withColumn("dd", (col("c_custkey") % 90).cast("int"))
        .withColumn("mm", (col("c_custkey") * 3 % 60).cast("int"))
        .withColumn("ss", (col("c_custkey") * 7 % 60).cast("int"))
        .withColumn("card", element_at(array(lit("N"), lit("S"), lit("E"), lit("W")),
          (col("c_custkey") % 4 + 1).cast("int")))
        .withColumn("dms", concat(col("dd"), lit("° "), col("mm"), lit("' "),
          col("ss"), lit("\" "), col("card")))
        .withColumn("dec", concat(when(col("c_custkey") % 2 === 0, "-").otherwise(""),
          col("dd"), lit(","), lpad((col("c_custkey") % 100).cast("string"), 2, "0")))
        .withColumn("mmat", call_function("st_matmul",
          array(array(col("lat"), col("lon")), array(lit(2.0), lit(3.0))),
          array(array(lit(1.5), lit(-0.5)), array(lit(0.25), lit(4.0)))))
        .select(col("c_custkey"),
          call_function("olc_is_valid", col("full10")).as("v_full"),
          call_function("olc_is_full", col("full10")).as("f_full"),
          call_function("olc_is_short", col("full10")).as("s_full"),
          call_function("olc_is_padded", col("full10")).as("p_full"),
          call_function("olc_is_valid", col("short4")).as("v_short"),
          call_function("olc_is_short", col("short4")).as("s_short"),
          call_function("olc_is_valid", col("padded")).as("v_pad"),
          call_function("olc_is_padded", col("padded")).as("p_pad"),
          call_function("olc_is_full", col("padded")).as("f_pad"),
          call_function("olc_is_valid",
            translate(col("full10"), "+", "!")).as("v_nosep"),
          call_function("olc_is_valid",
            concat(col("full10"), lit("+"))).as("v_twosep"),
          call_function("olc_is_valid",
            substring(col("full10"), 1, 10)).as("v_onedigit"),
          call_function("st_parse_coord", col("dms")).as("pc_dms"),
          call_function("st_parse_coord", col("dec")).as("pc_dec"),
          call_function("st_parse_coord",
            expr("substring('abcdefgh', cast(c_custkey % 3 + 1 as int), 3)"))
            .as("pc_bad"),
          col("mmat").getItem(0).getItem(0).as("mm00"),
          col("mmat").getItem(0).getItem(1).as("mm01"),
          col("mmat").getItem(1).getItem(0).as("mm10"),
          col("mmat").getItem(1).getItem(1).as("mm11"),
          call_function("st_matmul",
            array(array(lit(1.0)), array(lit(1.0), lit(2.0))),
            array(array(lit(1.0)))).isNull.as("mragged"))
        .orderBy(col("c_custkey"))
    }),
    // q65: the fixed-level ring covering (st_cover_cells), its Generator
    // UDTF twin (st_cover_cells_gen -> one row per cell), and the
    // altitude-pass-through full UTM inverse. The probe ring is a right
    // triangle spanning exactly one level-5 cell and its east neighbour
    // (dyadic bounds), so the covering is provably [cell, east] on both
    // sides with no boundary-degenerate intersection tests.
    "q65_cover_cells" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .withColumn("gh5", call_function("st_cell", col("lat"), col("lon"), lit(5)))
        .withColumn("gb", call_function("st_geohash_bounds", col("gh5")))
        .withColumn("tri", array(
          struct(col("gb.south").as("lat"), col("gb.west").as("lon")),
          struct(col("gb.south").as("lat"),
            (col("gb.east") + lit(360.0 / 8192)).as("lon")),
          struct(col("gb.north").as("lat"),
            (col("gb.east") + lit(360.0 / 8192)).as("lon"))))
        .withColumn("ufull", call_function("st_utm_to_geo_full",
          lit(32), lit("N"), lit(500000.0), lit(5000000.0), lit(55.5)))
        .select(col("c_custkey"),
          concat_ws(",", call_function("st_cover_cells", col("tri"), lit(5))).as("cover"),
          call_function("st_cover_cells_gen", col("tri"), lit(5), lit(64)).as("gcell"),
          col("ufull.h").as("ualt2"),
          col("ufull").isNotNull.as("gnn"))
        .orderBy(col("c_custkey"), col("gcell"))
    }),
    // q66: trigram-profile language ID (the heavier-duty classifier next to
    // q42's stopword prefilter) — one kernel pass per row, scoring mirrored
    // exactly in SQL via the replace-count idiom.
    "q66_langid_ngram" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      graft.engine.TextOps.langIdNgram(t(dir, "documents"))
        .orderBy(col("doc_id"))
    }),
    // q67: winnowing fingerprints (rolling k-gram hash window minima) —
    // exact BIGINT arithmetic on both sides (base 257, k=5 keeps every sum
    // inside 2^63).
    "q67_winnow" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      graft.engine.TextOps.winnow(t(dir, "documents"))
        .select(col("doc_id"),
          array_join(col("fps").cast("array<string>"), ",").as("fps"))
        .orderBy(col("doc_id"))
    }),
    // q69: stream-static spatial join under Trigger.AvailableNow — the
    // streaming fact side joins the broadcast polygon-cell dimension with
    // no streaming state; the pair set must equal the batch join's, so the
    // oracle is q31's (same construction StreamingSpec proves ≡ batch).
    "q69_stream_spatial_join" -> ((spark, dir) => {
      val s = prep(spark)
      val nDocs = corpusDocs(dir)
      val (docsPath, _) = Corpus.ensure(s, nDocs)
      val sch = s.read.parquet(docsPath).schema
      val polys = Corpus.storedPolys(s, nDocs)
      // reuse the batch index builder: covering + levels probe computed once
      val index = SpatialJoin.buildIndex(polys, cache = true)
      val pts = SpatialJoin.extractPoints(s.readStream.schema(sch).parquet(docsPath))
      val out = drain(SpatialJoin.joinWithIndex(pts, index)
        .select(col("doc_id"), col("offset"), col("poly_id")), "q69", dir)
      // the sink holds the results now; release the cached covering (the
      // readback no longer references it)
      index.cells.unpersist()
      index.rings.unpersist()
      out.orderBy(col("doc_id"), col("offset"), col("poly_id"))
    }),
    // q71: REAL media decode — media refs render to valid binary PPM (P6)
    // payloads and decodePpm genuinely parses them (comment-tolerant header
    // + raster feature extraction); the oracle recomputes the expected
    // features from the pixel law the decoder never sees.
    "q71_media_ppm_decode" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
        .where(col("doc_id") < lit(f"doc-${MediaDocCap}%09d"))
      val f = col("feature")
      Media.extractFeaturesPpm(s, docs)
        .select(Seq(col("doc_id"), col("media_ref"), col("width"), col("height"),
          col("n_frames")) ++
          (0 until 8).map(i =>
            (round(element_at(f, i + 1).cast("double"), 6) + 0.0).as(s"f$i")): _*)
        .orderBy(col("doc_id"), col("media_ref"))
    }),
    // q70: winnowing near-dup — docs (bounded to doc_id < 200 so the
    // quadratic oracle stays cheap at every scale) sharing >= 10 window-
    // minimum fingerprints, hot fingerprints capped at 64 docs.
    "q70_winnow_neardup" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      graft.engine.Dedup.winnowNearDup(
        t(dir, "documents").where(col("doc_id") < 200))
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    // q68: co-located join via bucketed tables — both sides bucketBy(8) on
    // the cell key, joined with zero Exchange (PlanSpec gates the plan
    // shape; this row gates the result).
    "q68_bucketed_join" -> ((spark, dir) => {
      val s = prep(spark)
      val pts = customerPoints(s, dir)
        .withColumn("cell", call_function("st_cell", col("lat"), col("lon"), lit(5)))
        .select(col("c_custkey"), col("cell"))
      val base = scratchDir("q68", dir)
      // fixed catalog names: the session catalog is per-JVM (in-memory), and
      // the PID-scoped scratch dir keeps concurrent processes' data apart
      val a = graft.engine.Bucketing.writeBucketed(
        pts, "graft_q68_pts", s"$base/pts", "cell", 8)
      val b = graft.engine.Bucketing.writeBucketed(
        pts.groupBy("cell").agg(count(lit(1)).as("n")),
        "graft_q68_cnt", s"$base/cnt", "cell", 8)
      graft.engine.Bucketing.bucketedJoin(a, b, "cell")
        .orderBy(col("c_custkey"))
    }),
    // q72: streaming exact dedup (dropDuplicatesWithinWatermark) under
    // Trigger.AvailableNow with TWO ordered micro-batches: batch 0 = the
    // documents table with a deterministic event time, batch 1 = an "echo"
    // of every document (new synthetic ids, same text, +60 s). The echoes
    // hit the CROSS-BATCH dedup state and are all dropped, so the output is
    // exactly batch 0 — deterministic because within batch 0 every content
    // hash is unique. maxFilesPerTrigger=1 plus staged file mtimes force the
    // two-batch split (FileStreamSource orders candidates by mtime). This
    // closes the last streaming shape that was ScalaTest-only.
    "q72_stream_dedup" -> ((spark, dir) => {
      val s = prep(spark)
      implicit val ss: SparkSession = s
      val baseUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
      val docs = t(dir, "documents")
      // one row per DISTINCT text (min doc_id): within batch 0 every content
      // hash must be unique or the intra-batch survivor is arbitrary — the
      // fabricated sf1 replicates documents 10x with offset ids but
      // identical texts, which would otherwise make the gate nondeterministic.
      // Event times span doc_id % 1800 seconds (<= 30 min < the 1 h
      // watermark) so EVERY echo lands inside the watermark and is dropped
      // by the cross-batch DEDUP STATE — with an unbounded doc_id span,
      // echoes older than maxTs - watermark would be discarded as late data
      // instead, and the gate would no longer test what it claims.
      val uniq = docs.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      val tsUs = lit(baseUs) + (col("doc_id") % lit(1800L)) * lit(1000000L)
      val originals = uniq.select(col("doc_id"), col("text"),
        timestamp_micros(tsUs).as("ts"))
      val echoes = uniq.select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text"),
        timestamp_micros(tsUs + lit(60000000L)).as("ts"))
      val (src, sch) = stageBatches("q72src", dir, Seq(originals, echoes))
      drain(graft.streaming.Streams.dedupStream(
          s.readStream.schema(sch).option("maxFilesPerTrigger", 1).parquet(src),
          watermark = "1 hour")
        .select(col("doc_id"), col("content_hash"), unix_micros(col("ts")).as("ts_us")),
        "q72", dir)
        .orderBy(col("doc_id"))
    }),
    // q73: containment-only spatial join — doc-level semi/anti split in one
    // gated row via a status column. Uses containmentSplit (ONE spatial
    // join + left-outer probe; separate semi and anti joins would evaluate
    // the join twice); EngineSpec checks it against test-only semi/anti
    // variants whose join types PlanSpec gates.
    "q73_spatial_semi_anti" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      val polys = Corpus.storedPolys(s, corpusDocs(dir))
      val pts = SpatialJoin.extractPoints(docs)
      SpatialJoin.containmentSplit(pts, polys).orderBy(col("doc_id"))
    }),
    // q74: quirk-compat reproductions Q1/Q4/Q7 gate-forwarded the way q63
    // forwards Q2 — each arm mirrored in SQL:
    //  Q1 (latlon.d:275,280): compat parse treats cardinal 'e' as NEGATIVE
    //     and 'w' as positive (correct-mode columns alongside for contrast);
    //  Q4 (conv.d:42): the reference's lowercase-'s' hemisphere test never
    //     matches API-built 'S' UTMs, so its inverse NEVER subtracts the
    //     false northing — reproduced by feeding the compat (Gauss-Schreiber,
    //     quirk-Q2 series) inverse hemisphere 'N' for every row;
    //  Q7 (mathematics.d:50-57): the reference's wrap90 formula verbatim
    //     (broken outside [-450, 450], per its own TODO), next to the
    //     correct triangle wave.
    "q74_quirk_compat" -> ((spark, dir) => {
      val s = prep(spark)
      implicit val ss: SparkSession = s
      val base = t(dir, "customer").select(
        col("c_custkey"),
        concat(
          (col("c_custkey") % 89).cast("string"), lit(".25 "),
          when(col("c_custkey") % 2 === 0, lit("N")).otherwise(lit("S")), lit(", "),
          ((col("c_custkey") * 7) % 179).cast("string"), lit(".75 "),
          when(col("c_custkey") % 3 === 0, lit("E")).otherwise(lit("W"))).as("txt"),
        (col("c_custkey") % 60 + 1).cast("int").as("zone"),
        (lit(200000.0) + (col("c_custkey") * 13 % 600000).cast("double")).as("easting"),
        (lit(1000000.0) + (col("c_custkey") * 7 % 8000000).cast("double")).as("northing"),
        ((col("c_custkey") * 11 % 1440) - 720).cast("double").as("wdeg"))
      base.select(
        col("c_custkey"),
        call_function("st_parse_point", col("txt")).as("p_ok"),
        call_function("st_parse_point_compat", col("txt")).as("p_q1"),
        call_function("st_utm_to_geo_compat",
          col("zone"), lit("N"), col("easting"), col("northing")).as("g_q4"),
        call_function("st_wrap90", col("wdeg")).as("w90_ok"),
        call_function("st_wrap90_compat", col("wdeg")).as("w90_q7"))
        .select(col("c_custkey"),
          col("p_ok.lat").as("lat_ok"), col("p_ok.lon").as("lon_ok"),
          col("p_q1.lat").as("lat_q1"), col("p_q1.lon").as("lon_q1"),
          (round(col("g_q4.lat"), 6) + 0.0).as("q4_lat"),
          (round(col("g_q4.lon"), 6) + 0.0).as("q4_lon"),
          col("w90_ok"), col("w90_q7"))
        .orderBy(col("c_custkey"))
    }),
    // q75: k-means-TRAINED IVF through the full persisted-index path
    // (kmeansFit on a deterministic sample -> writeIvfIndex partitioned by
    // cid -> searchIvfIndex with partition-pruned probes) at FULL probe
    // (nprobe = nCentroids), which must equal exact brute force REGARDLESS
    // of where training put the centroids — the end-to-end correctness gate
    // for the trained-centroid machinery. Partial-probe recall is gated by
    // the clustered-corpus ScalaTest (quality is data-dependent, so it has
    // no SQL oracle).
    "q75_ann_ivf_trained" -> ((spark, dir) =>
      annGate(prep(spark), dir) { (corpus, queries) =>
        val cents = Ann.kmeansFit(corpus, k = 16, iters = 5, sampleCap = 2048)
        val idxPath = scratchDir("q75idx", dir)
        Ann.writeIvfIndex(corpus, cents, idxPath)
        Ann.searchIvfIndex(spark, idxPath, queries, cents, k = 10, nprobe = 16)
      }),
    // q77: int8-quantized embedding index (st_q8_pack -> parquet ->
    // asymmetric-distance cosine top-k). The oracle recomputes the
    // quantization law (min/max affine, floor(x+0.5), clamp 255) and the
    // reconstruction from the RAW embeddings table — the engine's packed
    // bytes never reach the oracle, so a pack/unpack defect cannot cancel
    // itself out.
    "q77_ann_q8" -> ((spark, dir) =>
      annGate(prep(spark), dir) { (corpus, queries) =>
        val idxPath = scratchDir("q77idx", dir)
        Ann.writeQuantizedIndex(corpus, idxPath)
        Ann.searchQuantizedIndex(spark, idxPath, queries, k = 10)
      }),
    // q78: the combined IVF + int8 index (FAISS IVF-SQ8 shape — trained
    // lists as partition directories, quantized payloads inside) at FULL
    // probe, which must equal q77's quantized brute force exactly: the gate
    // proves the two index layouts compose without touching each other's
    // arithmetic. Partial-probe behavior is the ScalaTest's job.
    "q78_ann_ivf_q8" -> ((spark, dir) =>
      annGate(prep(spark), dir) { (corpus, queries) =>
        val cents = Ann.kmeansFit(corpus, k = 16, iters = 5, sampleCap = 2048)
        val idxPath = scratchDir("q78idx", dir)
        Ann.writeIvfQ8Index(corpus, cents, idxPath)
        Ann.searchIvfQ8Index(spark, idxPath, queries, cents, k = 10, nprobe = 16)
      }),
    // q79: incremental tile pyramid — base histogram at z=7, every coarser
    // level rolled up from the PREVIOUS level by parent-tile bit arithmetic
    // (O(tiles) per level, never re-reading the points). The oracle computes
    // every zoom DIRECTLY from the points, so the gate proves parent
    // nesting is exact (floor division commutes with the edge clamps).
    "q79_tile_pyramid" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      Tiler.pyramid(SpatialJoin.extractPoints(docs), minZoom = 4, maxZoom = 7)
        .orderBy(col("tile_id"))
    }),
    // q80: near-dup clustering — connected components (min-label
    // propagation) over the n-gram-Jaccard pair graph of the first 20 docs,
    // singletons included; oracle = DuckDB recursive transitive closure.
    // The step after pair detection: one canonical doc per cluster.
    "q80_dedup_components" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      // filter the docs table BEFORE shingling: ngramJaccard joins on the
      // pair ids anyway, but an unfiltered probe side would evaluate the
      // shingle kernel over the whole table (1M rows at sf1) to keep 20
      val docs20 = t(dir, "documents").where(col("doc_id") < 20)
      val ids = docs20.select(col("doc_id"))
      val allPairs = ids.select(col("doc_id").as("doc_a"))
        .crossJoin(ids.select(col("doc_id").as("doc_b")))
        .where(col("doc_a") < col("doc_b"))
      val pairs = Dedup.ngramJaccard(docs20, allPairs)
        .where(col("jaccard") >= 0.008)
      Dedup.connectedComponents(ids, pairs).orderBy(col("doc_id"))
    }),
    // q82: as-of join — each click matched to the user's most recent view
    // at or before it (point-in-time lookup; one shuffle, no candidate
    // multiplication). Oracle: correlated-subquery argmax, a fully
    // independent formulation.
    "q82_asof_join" -> ((spark, dir) => {
      implicit val s: SparkSession = prep(spark)
      val ev = t(dir, "events").withColumn("ts", col("ts").cast("timestamp"))
      val out = engine.AsOf.joinAsOf(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "view"))
      out.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("asof_id"), unix_micros(col("asof_ts")).as("asof_ts_us"))
        .orderBy(col("event_id"))
    }),
    // q85: fixed-radius distance join — every extracted point within 25 km
    // of each hotspot hub (the operator between kNN and containment). The
    // doc cap bounds the quadratic DuckDB oracle only; the operator itself
    // never cross-joins (provably sufficient cell disk + haversine refine).
    "q85_distance_join" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
        .where(col("doc_id") < lit(f"doc-${KnnDocCap}%09d"))
      // keep the cell column extractPoints already computed (withinDistance
      // reuses it instead of re-encoding the fact side)
      val pts = SpatialJoin.extractPoints(docs)
        .select(concat_ws(":", col("doc_id"), col("offset")).as("pid"),
          col("lat"), col("lon"), col("cell"))
      SpatialJoin.withinDistance(hubSites(s), pts, radiusM = 25000.0)
        .select(col("qid"), col("pid"), (round(col("dist"), 3) + 0.0).as("dist"))
        .orderBy(col("qid"), col("pid"))
    }),
    // q90: grid DBSCAN over corpus points — distributed fixed-radius
    // neighbor SELF-join (fact x fact, nothing broadcast or collected),
    // degree count, core components through the log-round CC, deterministic
    // min-label border assignment. The doc cap bounds the ORACLE (brute
    // force O(n^2) pairs + recursive-CTE reachability); the operator is
    // uncapped. eps 3 km against the 5.5 km hotspot sigma and minPts 10
    // make all three roles appear: cores at hub centers, borders at the
    // density edge, the uniform 20% mostly noise.
    "q90_dbscan" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
        .where(col("doc_id") < lit(f"doc-${DbscanDocCap}%09d"))
      val pts = SpatialJoin.extractPoints(docs)
        .select(concat_ws(":", col("doc_id"), col("offset")).as("pid"),
          col("lat"), col("lon"), col("cell"))
      Cluster.dbscan(pts, epsM = 3000.0, minPts = 10)
        .orderBy(col("pid"))
    }),
    // q91: binomial focal smoothing (raster focal statistics / heatmap
    // blur) of the z=6 tile histogram — all-integer kernel weights, exact
    // long sums, x wrap / y clamp edge semantics. One bounded explode of
    // the ALREADY-AGGREGATED tile table + one shuffle.
    "q91_focal_smooth" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      val base = Tiler.raster(SpatialJoin.extractPoints(docs), 6)
      Tiler.focalSmooth(base, r = 1).orderBy(col("tile_id"))
    }),
    // q92: zonal statistics — per-polygon aggregates of the z=9 raster.
    // The raster never shuffles (broadcast zone covering); zones with no
    // data are completed from the dimension side. Zone definition shares
    // q36's polyfill; values are exact integer sums.
    "q92_zonal_stats" -> ((spark, dir) => {
      val s = prep(spark)
      val polys = Corpus.storedPolys(s, corpusDocs(dir))
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      val tiles = Tiler.raster(SpatialJoin.extractPoints(docs), 9)
      Tiler.zonalStats(polys, tiles, 9).orderBy(col("poly_id"))
    }),
    // q93: per-track trajectory summary — a document's span points in
    // offset order form its track; length / net displacement / sinuosity
    // via ONE window + group shuffle on doc_id. Length and net are rounded
    // to mm before the ratio (leg-sum reassociation stability).
    "q93_track_stats" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      Track.stats(SpatialJoin.extractPoints(docs)).orderBy(col("doc_id"))
    }),
    // q94: per-leg initial bearing (spherical forward azimuth) + the direct
    // geodesic problem — st_destination walks HALF the leg distance along
    // the bearing (the great-circle leg midpoint); the oracle mirrors both
    // formulas, so the kernels are gated end to end. Half, not full, on
    // purpose: the full replay lands back on the corpus's DMS coordinate
    // grid, whose points sit EXACTLY on 6-decimal rounding half-ties
    // (sec/3600 multiples), where Spark's HALF_UP and DuckDB's
    // scaled-double rounding flip opposite ways; the midpoint is off-grid.
    "q94_bearing_destination" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      Track.legs(SpatialJoin.extractPoints(docs))
        .where(col("p_lat").isNotNull)
        .withColumn("dest", call_function("st_destination",
          col("p_lat"), col("p_lon"), col("bearing_deg"), col("leg_m") / lit(2.0)))
        .select(col("doc_id"), col("offset"),
          (round(col("bearing_deg"), 6) + 0.0).as("bearing_deg"),
          (round(col("leg_m"), 3) + 0.0).as("leg_m"),
          (round(col("dest.lat"), 6) + 0.0).as("mid_lat"),
          (round(col("dest.lon"), 6) + 0.0).as("mid_lon"))
        .orderBy(col("doc_id"), col("offset"))
    }),
    // q95: geofence enter/exit detection — a track crosses the 25 km fence
    // around any of the 20 hubs. The fence test is a codegen'd haversine
    // chain (no join); the only shuffle is the track window; inside-ness is
    // evaluated post-window on plain attributes so the span parse never
    // duplicates into the 40-term fence expression.
    "q95_geofence_transitions" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      Track.geofenceTransitions(SpatialJoin.extractPoints(docs),
          Corpus.Hotspots.toSeq, radiusM = 25000.0)
        .orderBy(col("doc_id"), col("offset"))
    }),
    // q96: origin-destination matrix at z=5 — each track contributes its
    // (first-tile, last-tile) pair; two map-side-combined shuffles.
    "q96_od_matrix" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      Track.odMatrix(SpatialJoin.extractPoints(docs), z = 5)
        .orderBy(col("o_tile"), col("d_tile"))
    }),
    // q97: Getis-Ord Gi* hot/cold-spot z-scores over the z=6 tile raster —
    // 3x3 observed-window sums via a bounded 9x scatter of the aggregated
    // tile table, globals broadcast from a 1-row aggregate.
    "q97_hotspot_gi" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      val tiles = Tiler.raster(SpatialJoin.extractPoints(docs), 6)
      Tiler.hotspotGi(tiles).orderBy(col("tile_id"))
    }),
    // q98: z-ordered layout + manifest bbox pruning — write the point table
    // Morton-clustered with a per-file bbox manifest, then answer a bbox
    // query reading ONLY manifest-selected files (Iceberg-style file
    // skipping). The gate proves the pruned read loses no rows and the
    // stored zkey matches the oracle's Morton arithmetic; TrackSpec gates
    // that files are actually skipped.
    "q98_zorder_layout" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      val pts = SpatialJoin.extractPoints(docs)
        .select(concat_ws(":", col("doc_id"), col("offset")).as("pid"),
          col("lat"), col("lon"))
      val out = scratchDir("q98", dir)
      Layout.writeZOrdered(pts, out, bits = 16, numFiles = 16)
      Layout.readBBox(s, out, south = 40.2, west = -74.6, north = 41.2, east = -73.4)
        .select(col("pid"), col("zkey"), col("lat"), col("lon"))
        .orderBy(col("pid"))
    }),
    // q101: IDW interpolation — a synthetic per-point measurement (offset+1;
    // the operator is value-agnostic) interpolated onto the z=7 grid:
    // point samples -> continuous raster, incl. estimates for tiles with no
    // points of their own. One bounded 9x explode + one shuffle.
    "q101_idw" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      val pts = SpatialJoin.extractPoints(docs)
        .select(col("lat"), col("lon"), (col("offset") + lit(1)).cast("double").as("v"))
      Tiler.idw(pts, zoom = 7, valueCol = "v").orderBy(col("tile_id"))
    }),
    // q102: Hilbert-curve layout — q98's shape on the other space-filling
    // curve (no Z jumps -> tighter file bboxes; A/B in BASELINE.md), bbox
    // over a different hub (Sydney). The oracle replays the xy2d rot/
    // accumulate fold as 16 chained all-integer CTE steps — exact compare.
    "q102_hilbert_layout" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      val pts = SpatialJoin.extractPoints(docs)
        .select(concat_ws(":", col("doc_id"), col("offset")).as("pid"),
          col("lat"), col("lon"))
      val out = scratchDir("q102", dir)
      Layout.writeZOrdered(pts, out, bits = 16, numFiles = 16, curve = "hilbert")
      Layout.readBBox(s, out, south = -34.9, west = 150.2, north = -32.9, east = 152.2)
        .select(col("pid"), col("zkey").as("hkey"), col("lat"), col("lon"))
        .orderBy(col("pid"))
    }),
    // q99: global Moran's I — ONE row summarizing spatial autocorrelation of
    // the z=6 raster (queen contiguity over observed tiles). The corpus's
    // hotspot clustering makes it strongly positive; the value itself is
    // formula-mirrored in SQL.
    "q99_moran_i" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      Tiler.moranI(Tiler.raster(SpatialJoin.extractPoints(docs), 6))
    }),
    // q100: STREAMING geofence transitions — per-track last-inside state
    // carried across micro-batches (fMGWS, Append). The source is staged as
    // two mtime-ordered files split by span offset (< 64 / >= 64), so every
    // track whose fence flip straddles the threshold exercises the
    // cross-batch state path; oracle = the batch q95 SQL verbatim.
    "q100_stream_geofence" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      val pts = SpatialJoin.extractPoints(docs)
        .select(col("doc_id"), col("offset"), col("lat"), col("lon"))
      val (src, sch) = stageBatches("q100src", dir,
        Seq(pts.where(col("offset") < 64), pts.where(col("offset") >= 64)))
      drain(graft.streaming.Streams.geofenceStream(s,
          s.readStream.schema(sch).option("maxFilesPerTrigger", 1).parquet(src),
          Corpus.Hotspots.toSeq, radiusM = 25000.0), "q100", dir)
        .orderBy(col("doc_id"), col("offset"))
    }),
    // q84: stream-STREAM interval join under Trigger.AvailableNow — the
    // last Structured Streaming operator class (joins between two streams
    // with watermark-bounded state). Each side is staged as TWO
    // mtime-ordered files under maxFilesPerTrigger=1, so the run takes
    // multiple micro-batches and later-batch clicks must match
    // earlier-batch views from JOIN STATE — a single-file staging would
    // never exercise the cross-batch path. The event-id-parity split puts
    // old events in batch 2 as well, so the watermark is set LONGER than
    // the corpus's time span: no row is ever late-dropped and the state
    // path is isolated as the thing under test; the sink then equals the
    // batch interval join (the oracle) exactly.
    "q84_stream_stream_join" -> ((spark, dir) => {
      val s = prep(spark)
      implicit val ss: SparkSession = s
      val ev = t(dir, "events")
      def side(tag: String, typ: String): DataFrame = {
        val rows = ev.where(col("event_type") === typ)
          .select(col("event_id"), col("user_id"), col("ts"))
        val (src, sch) = stageBatches(tag, dir,
          Seq(rows.where(col("event_id") % 2 === 0), rows.where(col("event_id") % 2 === 1)))
        s.readStream.schema(sch).option("maxFilesPerTrigger", 1).parquet(src)
      }
      drain(graft.streaming.Streams.intervalJoinStream(
          side("q84c", "click"), side("q84v", "view"), watermark = "45 days")
        .select(col("user_id"), col("l_event"), col("r_event"),
          unix_micros(col("l_ts")).as("l_ts_us"),
          unix_micros(col("r_ts")).as("r_ts_us")), "q84", dir)
        .orderBy(col("l_event"), col("r_event"))
    }),
    // q83: covering compaction (st_compact_cells, the H3 compactCells
    // analogue). Input per customer: all 32 children of the point's
    // level-4 cell (g5's own children too — a CASCADE: they merge to g5,
    // which completes g4's set) plus 31 of the east-neighbor level-5
    // cell's children (incomplete — must survive). The oracle predicts the
    // output from FIRST PRINCIPLES ({g4} + the 31 survivors), it does not
    // simulate the algorithm.
    "q83_compact_cover" -> ((spark, dir) => {
      val s = prep(spark)
      val b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
      val pts = customerPoints(s, dir)
        .withColumn("g4", call_function("st_cell", col("lat"), col("lon"), lit(4)))
        .withColumn("g5", call_function("st_cell", col("lat"), col("lon"), lit(5)))
        .withColumn("ce", call_function("st_geohash_adjacent", col("g5"), lit("e")))
      val children = (c: Column) => b32.map(ch => concat(c, lit(ch.toString)))
      val cellsArr = array(
        children(col("g4")) ++ children(col("g5")) ++
          children(col("ce")).drop(1): _*)
      pts.select(col("c_custkey"),
        explode(call_function("st_compact_cells", cellsArr)).as("cell"))
        .orderBy(col("c_custkey"), col("cell"))
    }),
    // q81: vector-layer analytics — spherical polygon area
    // (Chamberlain-Duquette), haversine perimeter, planar shoelace
    // centroid, all per polygon in one kernel pass over the dimension
    // table. Rounding absorbs the kernel-loop-vs-SQL-SUM reassociation
    // drift (<= 1e-12 relative, orders below the rounding step).
    "q81_ring_metrics" -> ((spark, dir) => {
      val s = prep(spark)
      val polys = Corpus.storedPolys(s, corpusDocs(dir))
      polys.select(
        col("poly_id"),
        (round(call_function("st_ring_area_m2", col("ring")) / lit(1e6), 4) + 0.0)
          .as("area_km2"),
        (round(call_function("st_ring_perimeter_m", col("ring")), 2) + 0.0)
          .as("perim_m"),
        call_function("st_ring_centroid", col("ring")).as("c"),
        size(col("ring")).as("nv"))
        .select(col("poly_id"), col("area_km2"), col("perim_m"),
          (round(col("c.lat"), 6) + 0.0).as("clat"),
          (round(col("c.lon"), 6) + 0.0).as("clon"), col("nv"))
        .orderBy(col("poly_id"))
    }),
    // q76: multi-zoom tile rollup in ONE aggregation pass (rollup over the
    // per-zoom packed tile ids; Catalyst's partial aggregation gives the
    // map-side combine) vs DuckDB GROUP BY ROLLUP — the last test-only
    // Tiler surface into the gate.
    "q76_multizoom_rollup" -> ((spark, dir) => {
      val s = prep(spark)
      val docs = Corpus.storedDocs(s, corpusDocs(dir))
      Tiler.multiZoomHistogram(SpatialJoin.extractPoints(docs), Seq(4, 7))
        .orderBy(col("tile_z4"), col("tile_z7"))
    }),
    // q87: STREAMING incremental tile pyramid — the ingest tick: each
    // micro-batch (maxFilesPerTrigger=1 over the stored corpus dir) folds
    // its base-tile delta into the committed base and rebuilds the pyramid
    // from it (O(tiles) per tick, batchId-keyed ticks = exactly-once).
    // Tile counts are additive, so the final pyramid equals the batch
    // pyramid on the whole corpus regardless of batch slicing — the oracle
    // is exactly q79's (every zoom computed directly from the points).
    "q87_stream_pyramid" -> ((spark, dir) => {
      val s = prep(spark)
      val nDocs = corpusDocs(dir)
      val (docsPath, _) = Corpus.ensure(s, nDocs)
      val sch = s.read.parquet(docsPath).schema
      val outBase = scratchDir("q87", dir)
      val q = graft.streaming.Streams.pyramidStream(s,
        s.readStream.schema(sch).option("maxFilesPerTrigger", 1).parquet(docsPath),
        outBase, minZoom = 4, maxZoom = 7, checkpoint = s"$outBase/ckpt")
      q.awaitTermination()
      s.read.parquet(s"$outBase/pyramid").orderBy(col("tile_id"))
    }),
    // q89: HIERARCHICAL (two-level) IVF — kmeansFitHier trains k1=4 top
    // clusters with k2=4 sub-lists each (one mapGroups job for all
    // sub-fits), st_ivf_assign2 assigns with k1+k2 dot products per row,
    // and a FULL-probe search over the persisted index must equal exact
    // brute force REGARDLESS of the two-level quantizer's approximation —
    // q43's oracle verbatim (the same argument as q75: full probe covers
    // every list, and every row lives in exactly one list). Partial-probe
    // recall and the padding tie-break are PipelineSpec's job.
    "q89_ann_ivf_hier" -> ((spark, dir) =>
      annGate(prep(spark), dir) { (corpus, queries) =>
        val hier = Ann.kmeansFitHier(corpus, k1 = 4, k2 = 4, iters = 5,
          sampleCap = 2048, subSampleCap = 512)
        val idxPath = scratchDir("q89idx", dir)
        Ann.writeIvfIndexHier(corpus, hier, idxPath)
        // two-level probing at nprobe1 = k1 ranks the identical probe set as
        // the flat path, so full probe stays exact — the gate covers the
        // hier probe machinery end-to-end
        Ann.searchIvfIndexHier(spark, idxPath, queries, hier, k = 10,
          nprobe1 = 4, nprobe = 16)
      }),
    // q88: STREAMING IVF ingest — micro-batches of vectors (3 staged source
    // files, maxFilesPerTrigger=1) are assigned to a FIXED centroid set and
    // committed as batchId-keyed partition dirs (each batch overwrites its
    // own dir = exactly-once); the accumulated index holds exactly the union
    // of the ticks regardless of batch slicing, so a FULL-probe search over
    // it must equal exact brute force — q43's oracle verbatim. Partial
    // probing and crash-replay idempotency are StreamingSpec's job.
    "q88_stream_ivf_ingest" -> ((spark, dir) =>
      annGate(prep(spark), dir) { (corpus, queries) =>
        val cents = Ann.firstNCentroids(corpus, 16)
        val (src, sch) = stageBatches("q88src", dir,
          (0 until 3).map(i => corpus.where(col("vec_id") % 3 === i)))
        val work = scratchDir("q88", dir)
        graft.streaming.Streams.ivfIngest(spark,
          spark.readStream.schema(sch).option("maxFilesPerTrigger", 1).parquet(src),
          cents, s"$work/idx", s"$work/ckpt").awaitTermination()
        // the fold-aware tick reader (identical live set while no fold has
        // run) — gates Ticks.live end-to-end
        Ann.searchIvfTicks(spark, s"$work/idx", queries, cents, k = 10, nprobe = 16)
      }),
    // q86: registry datum-shift ROUND TRIP — st_datum_shift_inv is the
    // WGS84->datum direction from the SAME p7 registry row with all seven
    // parameters negated (EPSG-style approximate reversal; quirk Q6: the
    // negation is a first-order inverse only — the millimetre round-trip
    // residual is gated in CoreKernelSpec). This gate pins BOTH directions'
    // arithmetic against an independent SQL mirror of the registry row.
    "q86_datum_shift_inverse" -> ((spark, dir) => {
      val s = prep(spark)
      customerPoints(s, dir)
        .withColumn("e", call_function("st_geo_to_ecef", col("lat"), col("lon"), lit(0.0)))
        .withColumn("fwd", call_function("st_datum_shift",
          col("e.x"), col("e.y"), col("e.z"), lit("osgb1970")))
        .withColumn("inv", call_function("st_datum_shift_inv",
          col("fwd.x"), col("fwd.y"), col("fwd.z"), lit("osgb1970")))
        .select(col("c_custkey"),
          (round(col("fwd.x"), 4) + 0.0).as("fx"),
          (round(col("fwd.y"), 4) + 0.0).as("fy"),
          (round(col("fwd.z"), 4) + 0.0).as("fz"),
          (round(col("inv.x"), 4) + 0.0).as("ix"),
          (round(col("inv.y"), 4) + 0.0).as("iy"),
          (round(col("inv.z"), 4) + 0.0).as("iz"))
        .orderBy(col("c_custkey"))
    })
  )

  // geohash / OLC scalar encoders live in OracleSql (shared with q30-q44).
  private def geohashSql(lat: String, lon: String, p: Int): String =
    OracleSql.geohashSql(lat, lon, p)
  private def olc10Sql(lat: String, lon: String): String =
    OracleSql.olcSql(lat, lon, 10)

  /** Scale dir whose corpus the engine-layer oracle SQL reads (the stored
    * parquet under Corpus.corpusBase); Verify sets it to its sfDir so the
    * dumped oracle_sql.json always points at the corpus the queries used. */
  @volatile var oracleDir: String = "/root/testdata/sf0.01"

  def oracleSql: Map[String, String] =
    relationalOracleSql ++ OracleSql.engineOracles(corpusDocs(oracleDir)) ++
      OracleSql.inverseOracles

  private def relationalOracleSql: Map[String, String] = Map(
    "q21_geohash_sql" ->
      (s"WITH pts AS ($CustomerPointsSql) SELECT c_custkey, " +
        s"${geohashSql("lat", "lon", 5)} AS gh5 FROM pts ORDER BY c_custkey"),
    "q22_olc_sql" ->
      (s"WITH pts AS ($CustomerPointsSql) SELECT c_custkey, " +
        s"${olc10Sql("lat", "lon")} AS olc10 FROM pts ORDER BY c_custkey"),
    "q01_pricing_agg" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS cnt, " +
        "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty, " +
        "round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 2) AS revenue, " +
        "round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 8) AS avg_disc " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "q02_join_nation_revenue" ->
      ("SELECT n_name, count(*) AS cnt, " +
        "round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name"),
    "q03_window_topcust" ->
      ("SELECT c_mktsegment, rn, c_custkey, c_acctbal FROM (" +
        "SELECT c_mktsegment, c_custkey, c_acctbal, " +
        "row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn " +
        "FROM customer) WHERE rn <= 3 ORDER BY c_mktsegment, rn"),
    "q04_semi_exists" ->
      ("SELECT o_orderpriority, count(*) AS cnt FROM orders WHERE EXISTS (" +
        "SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_discount > 0.05) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q05_anti_noorders" ->
      ("SELECT c_nationkey, count(*) AS cnt FROM customer WHERE NOT EXISTS (" +
        "SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "GROUP BY c_nationkey ORDER BY c_nationkey"),
    "q06_setop_except" ->
      ("SELECT o_custkey AS k FROM orders EXCEPT " +
        "SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0 ORDER BY k"),
    "q07_rollup_counts" ->
      ("SELECT n_name, c_mktsegment, count(*) AS cnt FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY ROLLUP (n_name, c_mktsegment) " +
        "ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST"),
    "q08_tile_agg" ->
      (s"WITH pts AS ($CustomerPointsSql) " +
        "SELECT CAST(floor((lon+180.0)/360.0*256) AS BIGINT) AS tx, " +
        "CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat)))/pi())/2.0*256) AS BIGINT) AS ty, " +
        "count(*) AS cnt FROM pts GROUP BY tx, ty ORDER BY tx, ty"),
    "q09_haversine" ->
      (s"WITH pts AS ($CustomerPointsSql) " +
        "SELECT c_custkey, round(2.0*6371008.8*asin(least(1.0, sqrt(" +
        "pow(sin(radians(48.8566-lat)/2),2) + " +
        "cos(radians(lat))*cos(radians(48.8566))*pow(sin(radians(2.3522-lon)/2),2)))), 1) AS dist_m " +
        "FROM pts ORDER BY c_custkey"),
    "q10_utm_zone_band" ->
      (s"WITH pts AS ($CustomerPointsSql), z AS (" +
        "SELECT c_custkey, lat, lon, CAST(floor((lon+180.0)/6.0) + 1 AS INT) AS z0, " +
        "substr('CDEFGHJKLMNPQRSTUVWXX', CAST(floor(lat/8.0 + 10.0) AS INT) + 1, 1) AS band FROM pts) " +
        "SELECT c_custkey, " +
        "CASE WHEN z0=31 AND band='V' AND lon>=3 THEN 32 " +
        "WHEN z0=32 AND band='X' AND lon<9 THEN 31 " +
        "WHEN z0=32 AND band='X' AND lon>=9 THEN 33 " +
        "WHEN z0=34 AND band='X' AND lon<21 THEN 33 " +
        "WHEN z0=34 AND band='X' AND lon>=21 THEN 35 " +
        "WHEN z0=36 AND band='X' AND lon<33 THEN 35 " +
        "WHEN z0=36 AND band='X' AND lon>=33 THEN 37 ELSE z0 END AS zone, " +
        "band, CASE WHEN lat >= 0 THEN 'N' ELSE 'S' END AS hemisphere " +
        "FROM z ORDER BY c_custkey"),
    "q11_box_contains" ->
      (s"WITH pts AS ($CustomerPointsSql) " +
        "SELECT c_nationkey, count(*) AS cnt FROM pts JOIN customer USING (c_custkey) " +
        "WHERE lat >= -10.0 AND lat < 45.0 AND lon >= -30.0 AND lon < 60.0 " +
        "GROUP BY c_nationkey ORDER BY c_nationkey"),
    "q12_wrap_functions" ->
      // DuckDB's % operator matches Java's sign-of-dividend semantics
      // (its fmod() follows the sign of the divisor instead).
      ("WITH v AS (SELECT c_custkey, CAST(c_custkey*13 % 14400 AS DOUBLE)/10.0 - 720.0 AS v FROM customer), " +
        "w AS (SELECT c_custkey, v, " +
        "CASE WHEN v >= 0 AND v <= 360 THEN v ELSE ((v % 360.0) + 360.0) % 360.0 END AS w360 FROM v) " +
        "SELECT c_custkey, " +
        "CASE WHEN v >= -90 AND v <= 90 THEN v " +
        " WHEN w360 <= 90 THEN w360 WHEN w360 <= 270 THEN 180.0 - w360 ELSE w360 - 360.0 END AS w90, " +
        "CASE WHEN v >= -180 AND v <= 180 THEN v ELSE ((v % 360.0) + 540.0) % 360.0 - 180.0 END AS w180, " +
        "w360 FROM w ORDER BY c_custkey"),
    "q13_ecef" ->
      (s"WITH pts AS ($CustomerPointsSql), c AS (" +
        "SELECT c_custkey, radians(lat) AS phi, radians(lon) AS lam, " +
        "(1.0/298.257223563)*(2.0 - 1.0/298.257223563) AS e2 FROM pts), n AS (" +
        "SELECT c_custkey, phi, lam, 6378137.0/sqrt(1.0 - e2*sin(phi)*sin(phi)) AS nu, e2 FROM c) " +
        "SELECT c_custkey, round(nu*cos(phi)*cos(lam), 2) + 0.0 AS x, " +
        "round(nu*cos(phi)*sin(lam), 2) + 0.0 AS y, " +
        "round(nu*(1.0-e2)*sin(phi), 2) + 0.0 AS z FROM n ORDER BY c_custkey"),
    "q14_helmert" ->
      (s"WITH pts AS ($CustomerPointsSql), c AS (" +
        "SELECT c_custkey, radians(lat) AS phi, radians(lon) AS lam, " +
        "(1.0/298.257223563)*(2.0 - 1.0/298.257223563) AS e2 FROM pts), e AS (" +
        "SELECT c_custkey, 6378137.0/sqrt(1.0 - e2*sin(phi)*sin(phi))*cos(phi)*cos(lam) AS x, " +
        "6378137.0/sqrt(1.0 - e2*sin(phi)*sin(phi))*cos(phi)*sin(lam) AS y, " +
        "6378137.0/sqrt(1.0 - e2*sin(phi)*sin(phi))*(1.0-e2)*sin(phi) AS z FROM c), p AS (" +
        "SELECT c_custkey, x, y, z, radians(1.04/3600.0) AS rx, radians(0.35/3600.0) AS ry, " +
        "radians(-3.08/3600.0) AS rz, 1.0 + (-8.3)*1e-6 AS s FROM e) " +
        "SELECT c_custkey, round(-581.99 + s*(x + rz*y - ry*z), 3) + 0.0 AS hx, " +
        "round(-105.01 + s*(-rz*x + y + rx*z), 3) + 0.0 AS hy, " +
        "round(-414.0 + s*(ry*x - rx*y + z), 3) + 0.0 AS hz FROM p ORDER BY c_custkey"),
    "q15_dedup_exact" ->
      ("SELECT md5(text) AS content_hash, count(*) AS n, " +
        "min(doc_id) AS min_doc, max(doc_id) AS max_doc " +
        "FROM documents GROUP BY content_hash ORDER BY content_hash"),
    "q16_text_stats" ->
      ("SELECT doc_id, length(text) AS chars, " +
        "length(text) - length(replace(text, ' ', '')) AS spaces, " +
        "length(translate(text, 'aeiou', '')) AS non_vowels " +
        "FROM documents ORDER BY doc_id"),
    "q17_events_window" ->
      ("SELECT event_id, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn " +
        "FROM events ORDER BY event_id"),
    "q18_sessionize" ->
      ("WITH x AS (SELECT user_id, epoch_us(ts) AS us, " +
        "lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us " +
        "FROM events) " +
        "SELECT user_id, CAST(1 + sum(CASE WHEN prev_us IS NOT NULL AND us - prev_us > 1800000000 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions, count(*) AS n_events " +
        "FROM x GROUP BY user_id ORDER BY user_id"),
    "q19_embed_norm" ->
      ("SELECT vec_id, round(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]), 6) AS norm_sq " +
        "FROM embeddings ORDER BY vec_id"),
    "q20_cosine_to_query" ->
      ("WITH q AS (SELECT embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id = 0) " +
        "SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], q_emb), 6) AS cos_sim " +
        "FROM embeddings, q ORDER BY vec_id")
  )
}
