package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.Corpus

/** Seeded input generation: document windows cut from the engine's own
  * deterministic corpus (`Corpus.genDoc`, chosen by doc index so any seed
  * yields statistically identical documents). The query mix reads the
  * repository's seeded scale-factor tables, copied under `perfbench/data`. */
object Inputs {

  /** splitmix64 finaliser: per-row seeds independent of partitioning. */
  def mix(seed: Long, i: Long): Long = {
    var h = seed ^ (i * 0x9E3779B97F4A7C15L)
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }

  /** First doc index of a seed's window. Windows of different seeds never
    * overlap for n <= 10^7 docs. */
  def windowStart(seed: Long, n: Long): Long =
    (java.lang.Math.floorMod(seed, 100000L)) * math.max(n, 10000000L)

  /** Documents [start, start + n) of the engine's corpus as parquet. */
  def writeDocs(spark: SparkSession, start: Long, n: Long, path: String,
                partitions: Int): Unit = {
    import spark.implicits._
    spark.range(start, start + n, 1, partitions).map(i => Corpus.genDoc(i))
      .write.mode("overwrite").parquet(path)
  }

  def writePolys(spark: SparkSession, path: String): Unit =
    Corpus.polygons(spark).write.mode("overwrite").parquet(path)

  /** Total size of the regular files under `path` (data and metadata). */
  def bytesUnder(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => bytesUnder(c.getPath)).sum).getOrElse(0L)
  }

  /** Number of regular files under `path` whose names end with `suffix`. */
  def filesUnder(path: String, suffix: String = ""): Long = {
    val f = new java.io.File(path)
    if (f.isFile) (if (f.getName.endsWith(suffix)) 1L else 0L)
    else Option(f.listFiles()).map(_.map(c => filesUnder(c.getPath, suffix)).sum).getOrElse(0L)
  }

  def rmrf(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))

  /** The text spans of a stored document window: realistic inputs for the
    * kernel and expression probes. */
  def spanTexts(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    docs.select(explode(col("spans")).as("s"))
      .where(col("s.kind") === "text").select(col("s.text").as("text"))
  }
}
