package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One span of an interleaved text+media document (schema exactly per the
  * driver's input hint: doc_id + array<struct<kind,text,media_ref,offset>>). */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)
final case class Doc(doc_id: String, spans: Seq[Span])
final case class PointLL(lat: Double, lon: Double)
final case class Poly(poly_id: String, ring: Seq[PointLL])
final case class MultiPoly(poly_id: String, rings: Seq[Seq[PointLL]])

/** Deterministic synthetic corpus of interleaved text+media documents whose
  * text spans carry embedded coordinates in the reference's parseable
  * grammars (decimal, decimal-degree, DMS with cardinals, decimal-comma),
  * plus poison values to exercise null paths.
  *
  * Generation is per-doc seeded (seed ^ doc index) so the corpus is identical
  * under any partitioning/parallelism — the basis for the scale-invariance
  * tests. 80% of coordinates cluster around 20 fixed hotspots (sigma 0.05
  * deg) to force hot-cell skew; 20% are uniform.
  */
object Corpus {

  val Seed = 42L

  /** 20 fixed hotspot centres (lat, lon) — major-city-like, deterministic. */
  val Hotspots: Array[(Double, Double)] = Array(
    (40.7128, -74.0060), (51.5074, -0.1278), (35.6762, 139.6503), (48.8566, 2.3522),
    (-33.8688, 151.2093), (19.4326, -99.1332), (55.7558, 37.6173), (-23.5505, -46.6333),
    (1.3521, 103.8198), (52.5200, 13.4050), (37.7749, -122.4194), (31.2304, 121.4737),
    (28.6139, 77.2090), (-26.2041, 28.0473), (41.0082, 28.9784), (59.3293, 18.0686),
    (25.2048, 55.2708), (-34.6037, -58.3816), (43.6532, -79.3832), (13.7563, 100.5018))

  private def mix(seed: Long, i: Long): Long = {
    var h = seed ^ (i * 0x9E3779B97F4A7C15L)
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }

  /** Coordinate for doc-local rng: 80% hotspot-clustered, 20% uniform. */
  private def samplePoint(rng: java.util.Random): (Double, Double) = {
    if (rng.nextDouble() < 0.8) {
      val (cLat, cLon) = Hotspots(rng.nextInt(Hotspots.length))
      val lat = math.max(-85.0, math.min(85.0, cLat + rng.nextGaussian() * 0.05))
      val lon = graft.core.GeoMath.wrap180(cLon + rng.nextGaussian() * 0.05)
      (lat, lon)
    } else {
      (rng.nextDouble() * 170 - 85, rng.nextDouble() * 360 - 180)
    }
  }

  /** Render a coordinate in one of the reference-parseable grammars. */
  private def renderCoord(rng: java.util.Random, lat: Double, lon: Double): String = {
    def dms(v: Double, pos: Char, neg: Char): String = {
      val c = if (v >= 0) pos else neg
      val av = math.abs(v)
      val d = av.toInt
      val mFull = (av - d) * 60
      val m = mFull.toInt
      val s = (mFull - m) * 60
      f"$d%d° $m%d' $s%2.3f'' $c%c"
    }
    rng.nextInt(5) match {
      case 0 => f"$lat%.6f, $lon%.6f"
      case 1 => f"$lat%.6f°, $lon%.6f°"
      case 2 => dms(lat, 'N', 'S') + ", " + dms(lon, 'E', 'W')
      case 3 => // decimal-comma pair: "13,453056, -16,5775"
        (f"$lat%.6f, $lon%.6f").replace('.', ',')
      case 4 => // cardinal suffix decimals
        f"${math.abs(lat)}%.6f ${if (lat >= 0) "N" else "S"}, ${math.abs(lon)}%.6f ${if (lon >= 0) "E" else "W"}"
    }
  }

  /** Deterministic doc for a given index — independent of partitioning. */
  def genDoc(i: Long): Doc = {
    val rng = new java.util.Random(mix(Seed, i))
    val nSpans = 1 + rng.nextInt(8)
    var offset = 0
    val spans = (0 until nSpans).map { _ =>
      offset += 1 + rng.nextInt(50)
      if (rng.nextDouble() < 0.3) {
        // media span: opaque ref + caption
        Span("media", s"caption ${rng.nextInt(1000)}",
          f"media://${mix(rng.nextLong(), i)}%016x", offset)
      } else {
        val r = rng.nextDouble()
        val text =
          if (r < 0.08) "no coordinates in this span at all" // plain prose
          else if (r < 0.10) { // poison: unparseable / out of bounds
            if (rng.nextBoolean()) "garbage text 999 not, a coord"
            else f"${95 + rng.nextInt(40)}%d.5, ${200 + rng.nextInt(40)}%d.1"
          } else {
            val (lat, lon) = samplePoint(rng)
            renderCoord(rng, lat, lon)
          }
        Span("text", text, "", offset)
      }
    }
    Doc(f"doc-$i%09d", spans)
  }

  /** Distributed corpus generation: spark.range -> map (no driver loops). */
  def documents(spark: SparkSession, nDocs: Long, partitions: Int = 0): Dataset[Doc] = {
    import spark.implicits._
    val base = if (partitions > 0) spark.range(0, nDocs, 1, partitions) else spark.range(nDocs)
    base.map(i => genDoc(i))
  }

  /** Deterministic polygon layer: 45 regular n-gons centred on hotspots
    * (cycling) + 5 uniform-random, n in 5..12, radius 0.1..2.0 deg. */
  def polygons(spark: SparkSession): Dataset[Poly] = {
    import spark.implicits._
    spark.createDataset((0 until 50).map(genPoly))
  }

  /** Deterministic polygon parameters (center, vertex count, radius) —
    * the rng draw order is identical to the original genPoly so stored
    * corpora stay byte-stable. */
  private def polyParams(p: Int): (Double, Double, Int, Double) = {
    val rng = new java.util.Random(mix(Seed + 1, p.toLong))
    val (cLat, cLon) =
      if (p < 45) Hotspots(p % Hotspots.length)
      else (rng.nextDouble() * 140 - 70, rng.nextDouble() * 340 - 170)
    val n = 5 + rng.nextInt(8)
    val radius = 0.1 + rng.nextDouble() * 1.9
    (cLat, cLon, n, radius)
  }

  private def ringAt(cLat: Double, cLon: Double, n: Int, radius: Double): Seq[PointLL] =
    (0 until n).map { k =>
      val a = 2 * math.Pi * k / n
      PointLL(
        math.max(-89.0, math.min(89.0, cLat + radius * math.cos(a))),
        graft.core.GeoMath.wrap180(cLon + radius * math.sin(a)))
    }

  def genPoly(p: Int): Poly = {
    val (cLat, cLon, n, radius) = polyParams(p)
    Poly(f"poly-$p%03d", ringAt(cLat, cLon, n, radius))
  }

  /** Multi-ring layer derived from the same deterministic parameters:
    * every 5th polygon is a two-outer MULTIPOLYGON (second component offset
    * north, disjoint); the rest are the base ring with a concentric HOLE at
    * 0.4x radius. Exercises the even-odd multi-ring PIP path. */
  def genPolyHoled(p: Int): MultiPoly = {
    val (cLat, cLon, n, radius) = polyParams(p)
    val outer = ringAt(cLat, cLon, n, radius)
    val rings =
      if (p % 5 == 4)
        Seq(outer, ringAt(math.min(85.0, cLat + 4.5), cLon, n, radius * 0.8))
      else
        Seq(outer, ringAt(cLat, cLon, n, radius * 0.4))
    MultiPoly(f"poly-$p%03d", rings)
  }

  /** The multi-ring layer of [[genPolyHoled]] over the 50 polygons of
    * [[polygons]]. */
  def polygonsHoled(spark: SparkSession): Dataset[MultiPoly] = {
    import spark.implicits._
    spark.createDataset((0 until 50).map(genPolyHoled))
  }

  /** Documents as a DataFrame with the exact input-hint schema. */
  def documentsDf(spark: SparkSession, nDocs: Long, partitions: Int = 0): DataFrame =
    documents(spark, nDocs, partitions).toDF()

  /** Deterministic on-disk location of the materialized corpus for a size. */
  def corpusBase(nDocs: Long): String =
    s"${sys.props("java.io.tmpdir")}/graft_corpus_$nDocs"

  /** Materialize the deterministic corpus + polygon layer once per size
    * (parquet on local disk). Queries and benchmarks read THIS — the realistic
    * stored-input shape — so per-query timings measure the operator, not
    * corpus generation, and the DuckDB oracle can read the same files.
    *
    * Cross-process safety: builders serialize on an exclusive FILE LOCK
    * (one `<base>.lock` per corpus size), build into a process-private temp
    * dir, and atomically rename into place while holding the lock — so a
    * concurrent JVM (e.g. Bench and Verify at the same scale) either finds
    * the corpus complete and reads it, or blocks until the single builder
    * finishes; nobody ever deletes a directory another live process wrote.
    * `synchronized` still serializes threads within one JVM. */
  def ensure(spark: SparkSession, nDocs: Long): (String, String) = synchronized {
    val base = corpusBase(nDocs)
    val docsPath = s"$base/docs"
    val polysPath = s"$base/polys"
    def complete() = new java.io.File(s"$docsPath/_SUCCESS").exists() &&
      new java.io.File(s"$polysPath/_SUCCESS").exists() &&
      new java.io.File(s"$base/polys_holed/_SUCCESS").exists()
    if (!complete()) {
      val lockCh = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(s"$base.lock"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      val lock = lockCh.lock() // blocks until any concurrent builder finishes
      try {
        if (!complete()) { // re-check: the lock holder before us may have built it
          val tmp = s"$base.tmp.${java.lang.ProcessHandle.current().pid()}"
          val layersOk = new java.io.File(s"$docsPath/_SUCCESS").exists() &&
            new java.io.File(s"$polysPath/_SUCCESS").exists()
          if (layersOk) {
            // layout upgrade: only polys_holed is missing. ADD it (atomic
            // move into the live base) instead of deleting a base that a
            // pre-upgrade reader may be scanning right now — the committed
            // docs/polys layers are deterministic and stay byte-identical.
            polygonsHoled(spark).write.mode("overwrite").parquet(s"$tmp/polys_holed")
            // a pre-existing polys_holed here has no _SUCCESS (complete()
            // was false) -> no valid reader; clear it for the atomic move
            org.apache.commons.io.FileUtils.deleteDirectory(
              new java.io.File(s"$base/polys_holed"))
            java.nio.file.Files.move(
              java.nio.file.Paths.get(s"$tmp/polys_holed"),
              java.nio.file.Paths.get(s"$base/polys_holed"),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
          } else {
            // no committed docs/polys -> nobody can be validly reading;
            // a stale partial base is safe to replace under the build lock
            documentsDf(spark, nDocs, partitions = 64).write.mode("overwrite").parquet(s"$tmp/docs")
            polygons(spark).write.mode("overwrite").parquet(s"$tmp/polys")
            polygonsHoled(spark).write.mode("overwrite").parquet(s"$tmp/polys_holed")
            if (new java.io.File(base).exists())
              org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
            java.nio.file.Files.move(java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(base),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
        }
      } finally {
        lock.release()
        lockCh.close()
      }
    }
    (docsPath, polysPath)
  }

  /** Stored corpus documents for a scale dir (materializing if needed). */
  def storedDocs(spark: SparkSession, nDocs: Long): DataFrame =
    spark.read.parquet(ensure(spark, nDocs)._1)

  def storedPolys(spark: SparkSession, nDocs: Long): DataFrame =
    spark.read.parquet(ensure(spark, nDocs)._2)

  /** Stored multi-ring (holes + multipolygon) layer for a scale dir. */
  def storedPolysHoled(spark: SparkSession, nDocs: Long): DataFrame = {
    ensure(spark, nDocs)
    spark.read.parquet(s"${corpusBase(nDocs)}/polys_holed")
  }
}
