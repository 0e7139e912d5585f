package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine._

/** spark-submit entrypoint for the full production-shaped pipeline with
  * checkpoint-resume and per-stage metrics:
  *
  *   docs parquet -> dedup-clean (stage: exact content dups + minhash
  *                   near-dups removed, first doc of each group kept)
  *                -> extract points (stage, partitioned by cell prefix)
  *                -> spatial join vs polygon layer (stage)
  *                -> tile histogram (stage)
  *
  * Each stage commits a manifest (snapshot id, input fingerprint,
  * per-partition lineage row counts) to <outDir>/<stage>/_graft_log; a
  * rerun with unchanged inputs replans nothing and reads the committed
  * Parquet back — the unit of resume a 10^12-doc spark-submit retry needs.
  * Metrics (input/output rows per stage, wall seconds) print as one JSON
  * line.
  *
  * Usage: Pipeline <docsParquet> <polysParquet> <outDir> [cellLevel] [zoom]
  * (defaults: synthesize a 100k-doc corpus under outDir when docsParquet is
  * the literal "synthetic").
  */
object Pipeline {

  /** The one definition of "a document's text": space-joined text spans in
    * order. Shared by the dedup-clean and profile stages so they can never
    * silently diverge on what text they operate over. */
  private val textOfSpans =
    expr("concat_ws(' ', transform(filter(spans, s -> s.kind = 'text'), s -> s.text))")

  def main(args: Array[String]): Unit = {
    val docsArg = if (args.length > 0) args(0) else "synthetic"
    val polysArg = if (args.length > 1) args(1) else "synthetic"
    val outDir = if (args.length > 2) args(2) else "/tmp/graft_pipeline_out"
    val level = if (args.length > 3) args(3).toInt else SpatialJoin.DefaultLevel
    val zoom = if (args.length > 4) args(4).toInt else 7

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expr.GraftFunctions.register(spark)

    val t0 = System.nanoTime()
    val metrics = run(spark, docsArg, polysArg, outDir, level, zoom)
    val totalSec = (System.nanoTime() - t0) / 1e9
    val stages = metrics.map { case (k, v) =>
      s""""$k":{"rows":${v._1},"seconds":${f"${v._2}%.3f"},"resumed":${v._3}}"""
    }.mkString(",")
    println(s"""{"pipeline":"spatial-join-tiles","out":"$outDir",""" +
      s""""total_seconds":${f"$totalSec%.3f"},$stages}""")
    spark.stop()
  }

  /** Runs the staged pipeline; returns stage -> (rows, seconds, resumed). */
  def run(spark: SparkSession, docsArg: String, polysArg: String, outDir: String,
          level: Int, zoom: Int): Seq[(String, (Long, Double, Boolean))] = {
    val docs: DataFrame =
      if (docsArg == "synthetic") {
        val p = s"$outDir/input_docs"
        val success = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
        if (!success.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(success))
          Corpus.documentsDf(spark, 100000L, partitions = 64)
            .write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      } else spark.read.parquet(docsArg)
    val polys: DataFrame =
      if (polysArg == "synthetic") Corpus.polygons(spark).toDF()
      else spark.read.parquet(polysArg)

    // fingerprints: inputs + parameters define each stage's identity. A
    // cheap CONTENT signature (file names + sizes + mtimes) is folded in so
    // rewriting different data to the same path invalidates committed stages
    // instead of silently resuming over stale results.
    def contentSig(path: String): String = {
      // Hadoop FS (not java.io.File): works for hdfs://s3a:// inputs and
      // recurses into partition subdirectories
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = scala.collection.mutable.ArrayBuffer.empty[String]
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val st = it.next()
          if (!st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
            files += s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
        }
      }
      graft.core.Hashing.md5Hex(files.sorted.mkString("|"))
    }
    val docsFp = docsArg + ":" + docs.schema.catalogString + ":" + (
      if (docsArg == "synthetic") contentSig(s"$outDir/input_docs") else contentSig(docsArg))
    val polysFp =
      if (polysArg == "synthetic") s"synthetic:seed=${Corpus.Seed}"
      else polysArg + ":" + contentSig(polysArg)

    val out = scala.collection.mutable.ArrayBuffer.empty[(String, (Long, Double, Boolean))]
    def stage(name: String, dir: String, fp: String, partitionCol: Option[String])
             (body: => DataFrame): DataFrame = {
      var computed = false
      val t0 = System.nanoTime()
      val (df, m) = Checkpoint.stage(spark, dir, name, fp, partitionCol) {
        computed = true
        body
      }
      // fresh or resumed, the row count comes from the committed manifest
      out += name -> ((m.totalRows, (System.nanoTime() - t0) / 1e9, !computed))
      df
    }

    // stage 0: dedup-clean — drop exact content duplicates and minhash
    // near-duplicates (jaccard >= 0.9 over concatenated text spans), keeping
    // the lexicographically-first doc of each duplicate PAIR. This is the
    // conservative policy: near-duplication is not transitive, so pair-loser
    // removal keeps docs that are not themselves near any survivor. For the
    // aggressive cluster-collapse policy (one canonical doc per connected
    // component), feed the pair set to Dedup.connectedComponents and keep
    // rep == doc_id rows instead.
    // stage fingerprints CHAIN: each includes its upstream stage's fp, so a
    // semantic change anywhere upstream invalidates everything downstream
    val cleanFp = s"clean:$docsFp:near=0.9"
    val pointsFp = s"extract:$cleanFp:$level"
    val joinedFp = s"join:$pointsFp:$polysFp:$level"
    var cleanTextDf: DataFrame = null
    val cleaned = stage("clean", s"$outDir/clean", cleanFp, None) {
      import org.apache.spark.sql.expressions.Window
      // media-only docs (no text spans) are NOT duplicates of each other:
      // exclude empty-text docs from dedup consideration entirely
      val textDf = docs.select(col("doc_id"), textOfSpans.as("text"))
        .where(length(col("text")) > 0)
        .cache() // consumed by exactGroups + (twice) minhashLsh — one scan, not three
      cleanTextDf = textDf
      val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
      val exactLosers = Dedup.exactGroups(textDf)
        .withColumn("rn", row_number().over(w)).where(col("rn") > 1)
        .select(col("doc_id"))
      val nearLosers = Dedup.minhashLsh(textDf, threshold = 0.9)
        .select(col("doc_b").as("doc_id")).distinct()
      val out = docs.join(exactLosers.union(nearLosers).distinct(),
        Seq("doc_id"), "left_anti")
      out
    }
    // the clean stage's write + count above materialized everything that
    // needs the cached text projection — release the executor storage before
    // the downstream stages run
    if (cleanTextDf != null) cleanTextDf.unpersist()

    // stage 1a (side output): per-doc text profile — stopword + trigram
    // language id, quality score, md5 fingerprint, winnowing-fingerprint
    // count — ONE fused projection over one scan of the cleaned docs,
    // written partitioned by predicted language: the routing layout a
    // training-data pipeline reads per-language shards from (media-only
    // docs profile as lang3='und', quality 0 — they route too)
    stage("profile", s"$outDir/profile", s"profile:$cleanFp", Some("lang3")) {
      TextOps.profileFull(cleaned.select(col("doc_id"), textOfSpans.as("text")))
    }

    // stage 1: extract, partitioned by level-2 cell prefix (coarse enough for
    // sane directory counts, fine enough for partition-pruned region reads)
    val points = stage("points", s"$outDir/points", pointsFp, Some("cell_p2")) {
      SpatialJoin.extractPoints(cleaned, level)
        .withColumn("cell_p2", substring(col("cell"), 1, 2))
    }

    // stage 2: spatial join against the polygon layer
    val joined = stage("joined", s"$outDir/joined", joinedFp, Some("poly_id")) {
      SpatialJoin.join(points.drop("cell_p2"), polys, level)
    }

    // stage 3: tile histogram of the joined points
    val tiles = stage("tiles", s"$outDir/tiles", s"tiles:$joinedFp:$zoom", None) {
      Tiler.histogram(joined, zoom)
    }

    // stage 4: tile pyramid — the multi-zoom serving layout, SEEDED from
    // stage 3's committed histogram (no re-aggregation of the joined
    // points: every level is O(the previous level's tiles))
    stage("pyramid", s"$outDir/pyramid", s"pyramid:$joinedFp:$zoom", None) {
      Tiler.pyramidFromBase(tiles, math.max(0, zoom - 3), zoom)
    }
    out.toSeq
  }
}
