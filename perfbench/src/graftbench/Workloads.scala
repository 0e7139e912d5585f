package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.SpatialJoin

/** Timed operations of one run. Each operation is one call into a public
  * entry point that the single client waits on (closed loop). In a traced
  * run every operation is labelled with a Spark job group named after it, so
  * the listener can attribute jobs, tasks and bytes to the call. */
final class OpLog(spark: SparkSession, traced: Boolean) {
  val ops = ArrayBuffer.empty[(String, Double)]
  var attempted = 0
  var failed = 0

  def apply[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    if (traced) spark.sparkContext.setJobGroup(kind, kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val r = body
      ops += kind -> (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $kind failed: $e")
        None
    } finally if (traced) spark.sparkContext.clearJobGroup()
  }

  def seconds(kind: String => Boolean): Seq[Double] = ops.collect { case (k, s) if kind(k) => s }.toSeq
}

/** A metric as printed: name, value, unit. */
final case class M(name: String, value: Double, unit: String)

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Least-squares slope of ys over 0, 1, 2, ... */
  def slope(ys: Seq[Double]): Double = {
    val n = ys.length
    if (n < 2) return 0.0
    val mx = (n - 1) / 2.0
    val my = ys.sum / n
    ys.indices.map(i => (i - mx) * (ys(i) - my)).sum / ys.indices.map(i => (i - mx) * (i - mx)).sum
  }
}

/** One workload: inputs made in `setup`, a round of closed-loop operations,
  * and an output check. `work` is a run-private directory. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String) {
  def name: String

  /** Makes this run's inputs from scratch (attempt `k`). Each attempt
    * replaces the previous one's inputs and state. Returns the seconds
    * spent in the engine's calls; clearing the previous attempt's files is
    * not timed. */
  def setup(k: Int): Double

  /** One round; `r` is its index in the run (warm-up rounds count too). */
  def round(r: Int, log: OpLog): Unit

  /** Output mismatches found so far plus those of a final reference check. */
  def check(): Seq[String]

  /** The workload's own end-to-end figures, named as in the README. */
  def report(rounds: Seq[Double], log: OpLog): Seq[M]
}

object Workloads {
  val Names = Seq("flagship_scan", "query_mix")

  def apply(name: String, spark: SparkSession, seed: Long, work: String,
            sfDir: String, pinned: Map[String, Long]): Workload = name match {
    case "flagship_scan" => new FlagshipScan(spark, seed, work)
    case "query_mix" => new QueryMix(spark, seed, work, sfDir, pinned)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${Names.mkString(", ")})")
  }
}

/** The `Bench.flagshipFromParquet` shape over a stored seeded corpus with a
  * cached hotspot-layer index: extract -> prefix range join -> per-polygon
  * countDistinct. Throughput-bound: parse, cell and PIP kernels, codegen and
  * the join do nearly all the work in a few Spark jobs per pass. */
final class FlagshipScan(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {
  val name = "flagship_scan"
  val Docs = 100000L
  private var docsPath = ""
  private var polysPath = ""
  private var index: SpatialJoin.PolygonIndex = _
  private val counts = ArrayBuffer.empty[Long]

  def setup(k: Int): Double = {
    if (index != null) { index.cells.unpersist(blocking = true); index.rings.unpersist(blocking = true) }
    Inputs.rmrf(s"$work/flagship")
    docsPath = s"$work/flagship/docs"
    polysPath = s"$work/flagship/polys"
    val t0 = System.nanoTime()
    Inputs.writeDocs(spark, Inputs.windowStart(seed, Docs), Docs, docsPath,
      partitions = 4 * spark.sparkContext.defaultParallelism)
    Inputs.writePolys(spark, polysPath)
    index = SpatialJoin.buildIndex(spark.read.parquet(polysPath), cache = true)
    index.rings.count()
    (System.nanoTime() - t0) / 1e9
  }

  def round(r: Int, log: OpLog): Unit =
    log("flagship.pass")(graft.Bench.flagshipFromParquet(spark, docsPath, polysPath, Some(index)))
      .foreach(counts += _)

  /** Per-polygon (n_docs, n_points) of the range-join path against the
    * independent per-level explode path on the same input. */
  def check(): Seq[String] = {
    def perPoly(joined: DataFrame): Map[String, (Long, Long)] =
      joined.groupBy(col("poly_id"))
        .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_points"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val pts = SpatialJoin.extractPoints(spark.read.parquet(docsPath))
    val range = perPoly(SpatialJoin.joinRangeWithIndex(pts, index))
    val explode = perPoly(SpatialJoin.join(pts, spark.read.parquet(polysPath)))
    val bad = ArrayBuffer.empty[String]
    if (range != explode) bad += s"flagship: range join per-polygon counts differ from explode join " +
      s"(${(range.toSet diff explode.toSet).take(3)} vs ${(explode.toSet diff range.toSet).take(3)})"
    if (range.isEmpty) bad += "flagship: no polygon matched any point"
    if (counts.exists(_ != range.size))
      bad += s"flagship: pass returned ${counts.distinct.mkString("/")} polygons, expected ${range.size}"
    bad.toSeq
  }

  def report(rounds: Seq[Double], log: OpLog): Seq[M] =
    Seq(M("flagship_docs_per_s", Docs / Stats.median(rounds), "docs/s"))
}

/** The headline-query mix of the frozen bench over the seeded scale-factor
  * tables in `sfDir`: per-query Spark jobs, eager collects and job
  * scheduling dominate, and kernel CPU is a small share. The run seed
  * permutes the query order of every round; the data are fixed so row
  * counts are pinned. */
final class QueryMix(spark: SparkSession, seed: Long, work: String, sfDir: String,
                     pinned: Map[String, Long]) extends Workload(spark, seed, work) {
  val name = "query_mix"
  private val seen = scala.collection.mutable.Map.empty[String, Set[Long]]

  def setup(k: Int): Double = QueryMix.ensureCorpus(spark, sfDir)

  def round(r: Int, log: OpLog): Unit = {
    val order = new scala.util.Random(Inputs.mix(seed, r)).shuffle(QueryMix.Queries)
    order.foreach { q =>
      log(s"query.$q")(graft.SparkEntry.queries(q)(spark, sfDir).count())
        .foreach(n => seen(q) = seen.getOrElse(q, Set.empty) + n)
    }
  }

  def check(): Seq[String] = QueryMix.Queries.flatMap { q =>
    (seen.get(q), pinned.get(q)) match {
      case (None, _) => Some(s"query_mix: $q never completed")
      case (Some(ns), _) if ns.size > 1 => Some(s"query_mix: $q row count varied: ${ns.mkString(",")}")
      case (Some(ns), Some(p)) if ns.head != p => Some(s"query_mix: $q returned ${ns.head} rows, pinned $p")
      case (Some(ns), None) => Some(s"query_mix: $q has no pinned row count (returned ${ns.head})")
      case _ => None
    }
  }

  def report(rounds: Seq[Double], log: OpLog): Seq[M] = {
    val qs = log.seconds(_.startsWith("query."))
    Seq(M("query_p50_s", Stats.median(qs), "s"), M("query_p90_s", Stats.quantile(qs, 0.9), "s"),
      M("query_samples", qs.length, "count"), M("mix_round_s", Stats.median(rounds), "s"))
  }
}

object QueryMix {
  /** A fixed subset of `Bench.HeadlineQueries`: the two rows with the
    * most Spark jobs per execution (q90 DBSCAN, q80 connected components)
    * and four scalar-surface rows whose task CPU is negligible, so the round
    * is per-query fixed cost. The full 60-query round takes ~25 s on 4
    * cores, too long to repeat inside one run; the traced run times the
    * other job-heavy rows one by one. */
  val Queries: Seq[String] = Seq("q90_dbscan", "q80_dedup_components",
    "q47_vincenty", "q52_geohash_inverse", "q62_cell_surface", "q49_mgrs_roundtrip")

  /** Materialises the stored corpus that the scale directory implies
    * (`SparkEntry.corpusDocs`: 1,000 docs for sf0.001) and returns the
    * seconds `Corpus.ensure` took. The corpus lives under java.io.tmpdir,
    * which the harness points at a run-private directory, and is removed
    * first so every set-up pays its generation. */
  def ensureCorpus(spark: SparkSession, sfDir: String): Double = {
    val nDocs = graft.SparkEntry.corpusDocs(sfDir)
    require(nDocs == 1000L, s"scale dir $sfDir maps to $nDocs corpus docs, expected 1000")
    Inputs.rmrf(graft.engine.Corpus.corpusBase(nDocs))
    val t0 = System.nanoTime()
    graft.engine.Corpus.ensure(spark, nDocs)
    (System.nanoTime() - t0) / 1e9
  }
}
