package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The staged spark-submit pipeline: stage outputs correct, manifests
  * committed, and a rerun resumes (no stage recompute). */
class PipelineJobSpec extends AnyFunSuite {

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

  test("pipeline runs staged, commits manifests, and resumes") {
    val out = graft.TestTmp.dir("graft-pipeline")
    val docsDir = s"$out/docs_in"
    // plant exact duplicates: every doc appears twice under a second id,
    // so the clean stage must halve the corpus
    val base = graft.engine.Corpus.documentsDf(spark, 250, partitions = 4)
    import org.apache.spark.sql.functions.{concat, lit, col}
    base.union(base.withColumn("doc_id", concat(lit("dup-"), col("doc_id"))))
      .write.mode("overwrite").parquet(docsDir)

    val first = Pipeline.run(spark, docsDir, "synthetic", out, 5, 7).toMap
    assert(first.keySet == Set("clean", "profile", "points", "joined", "tiles", "pyramid"))
    // the profile side output covers every cleaned doc (media-only -> und)
    assert(first("profile")._1 == first("clean")._1)
    // every planted "dup-" doc WITH TEXT has an exact twin with a smaller id,
    // so none survives; media-only docs are never text-duplicates (both
    // copies legitimately survive), and the corpus also contains natural
    // duplicates (identical prose-only docs), so the count sits between
    assert(first("clean")._1 < 500 && first("clean")._1 > 200,
      s"clean stage kept ${first("clean")._1} of 500")
    val survivors = spark.read.parquet(s"$out/clean")
    val textySurvivingDups = survivors
      .where(col("doc_id").startsWith("dup-"))
      .where(org.apache.spark.sql.functions.expr("exists(spans, s -> s.kind = 'text')"))
      .count()
    assert(textySurvivingDups == 0,
      s"$textySurvivingDups planted text duplicates survived")
    assert(first.values.forall(v => v._1 > 0 && !v._3), s"unexpected resume flags: $first")

    // manifests committed with per-partition lineage
    for (st <- Seq("clean", "profile", "points", "joined", "tiles", "pyramid"))
      assert(graft.engine.Checkpoint.committed(spark, s"$out/$st").isDefined, st)

    // rerun: every stage must resume from its manifest with identical rows
    val second = Pipeline.run(spark, docsDir, "synthetic", out, 5, 7).toMap
    assert(second.values.forall(_._3), s"stages did not resume: $second")
    assert(second.map { case (k, v) => k -> v._1 } ==
      first.map { case (k, v) => k -> v._1 })

    // stage output equals the direct computation over the deduped docs
    val direct = graft.engine.SpatialJoin.join(
      graft.engine.SpatialJoin.extractPoints(spark.read.parquet(s"$out/clean")),
      graft.engine.Corpus.polygons(spark).toDF())
      .select("doc_id", "offset", "poly_id").collect().map(_.toString).sorted
    val staged = spark.read.parquet(s"$out/joined")
      .select("doc_id", "offset", "poly_id").collect().map(_.toString).sorted
    assert(staged.sameElements(direct))
  }
}
