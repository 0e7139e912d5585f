package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbour search over an embedding column
  * (array<float>): brute-force cosine top-k as the exact baseline, and two
  * scale paths — deterministic random-hyperplane LSH buckets and IVF-flat
  * (coarse quantizer + inverted-list probe), with optional k-means-trained
  * centroids and a cid-partitioned persisted index whose probes prune files.
  */
object Ann {

  /** Cosine similarity of two array<double> columns via the st_cosine kernel
    * — a single whole-stage-codegen'd pass. (The zip_with/aggregate
    * higher-order-function formulation computes the identical value but
    * evaluates INTERPRETED — the same tax the minhash path paid; the kernel
    * preserves its accumulation order bit-for-bit, which the DuckDB oracles
    * rely on.) Inputs need not be normalized. */
  def cosine(a: Column, b: Column): Column = call_function("st_cosine", a, b)

  /** Exact brute-force top-k: queries x corpus cross join (queries broadcast),
    * window top-k per query. Output: (qid, vec_id, sim, rank). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("qid"), col("q_emb"))
    val c = corpus.select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    c.crossJoin(broadcast(q))
      .withColumn("sim", cosine(col("embedding"), col("q_emb")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "vec_id", "sim", "rank")
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim) in
    * [-1, 1); see core.Hashing.planeComponent (md5-derived so any SQL engine
    * recomputes the identical value). Data-independent. */
  def planeComponent(plane: Int, dim: Int): Double =
    graft.core.Hashing.planeComponent(plane, dim)

  /** (band, key) rows for an embedding column via the st_lsh_keys kernel
    * (one codegen'd pass over bands x bits hyperplane dot products). */
  def lshBandKeys(emb: Column, dims: Int, bands: Int, bitsPerBand: Int): Column =
    call_function("st_lsh_keys", emb, lit(dims), lit(bands), lit(bitsPerBand))

  // ---- IVF-flat ------------------------------------------------------------

  /** Untrained centroid fallback: the first `nCentroids` corpus vectors by
    * id (sort+limit — correct on sparse/offset id spaces too). Kept as the
    * deterministic default; [[kmeansFit]] is the trained path. */
  def firstNCentroids(corpus: DataFrame, nCentroids: Int): Array[(Long, Array[Double])] = {
    val cents = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .orderBy(col("vec_id"))
      .limit(nCentroids)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.length >= 2, s"need >= 2 centroids, got ${cents.length}")
    cents
  }

  /** Spherical k-means centroid training on a DETERMINISTIC bounded sample —
    * the FAISS-style recipe (train on a sample, assign the full corpus):
    *
    *  - sample: the first `sampleCap` vectors by (xxhash64(vec_id), vec_id)
    *    order — a uniform pseudo-random draw that is identical under any
    *    partitioning/parallelism, collected once (bounded driver memory:
    *    sampleCap x dims doubles, e.g. 64k x 128 = 64 MB at the cap);
    *  - init: greedy farthest-point seeding over the sample for every k
    *    (deterministic — no RNG: first point is sample(0), each next seed is
    *    the sample point with MINIMUM max-cosine to the chosen set; one-time
    *    driver cost O(sampleCap * k * dims) — the flops of a single Lloyd
    *    round);
    *  - `iters` Lloyd rounds under the `st_ivf_assign` law (ties -> lowest
    *    cid). Below [[SmallFitFlops]] they run on the driver. Above it each
    *    round is a DISTRIBUTED job over the parallelized sample: assignment
    *    ships the centroid matrix as a single plan literal to the
    *    `st_ivf_assign` kernel (map-only), and the centroid update is a
    *    per-cid [[graft.expr.VectorSumQ40]] aggregate — EXACT Q40
    *    fixed-point long sums (associative, so identical under ANY
    *    partitioning/task order — a double sum would vary with reduction
    *    order), one buffer per (task, cid) with map-side combine instead of
    *    a sample x dims exploded shuffle. Per round the driver only collects
    *    k (cid, sums, count) rows and renormalizes — O(k * dims), not
    *    O(sampleCap); an emptied cluster keeps its centroid.
    *
    * Returns (cid 0..k-1, centroid) sorted by cid. The distributed cost is
    * one sample scan plus `iters` assignment jobs over at most sampleCap
    * rows. List counts far beyond a flat fit's reach go through
    * [[kmeansFitHier]]. */
  def kmeansFit(corpus: DataFrame, k: Int, iters: Int = 10,
                sampleCap: Int = 65536): Array[(Long, Array[Double])] = {
    require(k >= 2, s"need k >= 2, got $k")
    val spark = corpus.sparkSession
    val sample = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleCap)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.length >= k, s"sample (${sample.length}) smaller than k ($k)")
    val dim = sample(0).length
    val pts = sample.map(normalize)
    val seeds = farthestPointSeeds(pts, k)
    // Lloyd rounds: the assignment rule in BOTH regimes is the st_ivf_assign
    // law (sim = dot / max(|a||b|, 1e-12), strict-> ties to the lowest cid).
    // Below SmallFitFlops total flops the loop runs ON THE DRIVER — the
    // whole fit is microseconds-to-milliseconds of arithmetic and per-round
    // Spark jobs would be pure scheduling overhead (measured 4x on the q75
    // bench row); above it, each round is a distributed job over the
    // parallelized sample with exact Q40 fixed-point centroid sums
    // (VectorSumQ40 — associative, so the result is identical under any
    // partitioning). The regime choice is a deterministic function of
    // (sample, k, dims, iters), so the fit stays reproducible; the two
    // regimes may differ in final-centroid ulps (double vs Q40 fixed-point
    // summation), which nothing downstream pins.
    val smallFit =
      sample.length.toLong * k * dim * math.max(iters, 1) <= SmallFitFlops
    if (smallFit)
      return localLloydRounds(pts, seeds, iters)
        .zipWithIndex.map { case (ce, i) => (i.toLong, ce) }
    // distributed regime: parallelize the (already normalized) sample once
    // for the Lloyd jobs; the driver copy was needed for the deterministic
    // hash-order draw and the seeding anyway, so this ships it back out
    // exactly once (bounded: sampleCap x dims doubles)
    import spark.implicits._
    val sampleDist = spark.sparkContext
      .parallelize(pts.map(_.toSeq).toSeq, spark.sparkContext.defaultParallelism)
      .toDF("emb")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cents = seeds
      val cids = typedLit((0L until k.toLong).toSeq)
      var it = 0
      while (it < iters) {
        // centroid update via the exact Q40 fixed-point vector-sum
        // AGGREGATE: one buffer per (task, cid) with map-side combine —
        // the shuffle carries O(tasks x k) arrays instead of the
        // O(sample x dim) rows the earlier posexplode + DECIMAL sum
        // shuffled (that explode dominated the round at k ~ 10^3); long
        // addition is associative-exact, so the fit stays bit-identical
        // under any partitioning
        val stats = sampleDist
          .withColumn("cid", call_function("st_ivf_assign",
            col("emb"), typedLit(cents.flatMap(_.toSeq).toSeq), cids, lit(dim)))
          .groupBy(col("cid"))
          .agg(call_function("st_vecsum_q40", col("emb"), lit(dim)).as("s"),
            count(lit(1)).as("c"))
          .collect()
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Long](k)
        stats.foreach { r =>
          // a null cid groups rows the kernel could not assign (ragged
          // input that slipped past normalization) — skip it, exactly as
          // the previous explode pipeline dropped null arrays
          if (!r.isNullAt(0)) {
            val c = r.getLong(0).toInt
            val sArr = r.getSeq[Long](1)
            var i = 0
            while (i < dim) { sums(c)(i) = sArr(i).toDouble / graft.expr.VectorSumQ40.Q; i += 1 }
            counts(c) = r.getLong(2)
          }
        }
        cents = Array.tabulate(k) { c =>
          if (counts(c) == 0) cents(c) else normalize(sums(c))
        }
        it += 1
      }
      cents.zipWithIndex.map { case (ce, i) => (i.toLong, ce) }
    } finally sampleDist.unpersist()
  }

  // ---- local (driver or per-executor-group) fit primitives -----------------
  // Extracted VERBATIM from the small-fit regime so the hierarchical
  // per-cluster sub-fits ([[kmeansFitHier]]'s mapGroups) run the identical
  // deterministic arithmetic on executors: same loop orders, same
  // accumulation, bit-for-bit the pre-extraction inline code.

  /** Unit-normalize (copy); degenerate near-zero vectors pass through. */
  private[engine] def normalize(v: Array[Double]): Array[Double] = {
    val dim = v.length
    var n = 0.0; var i = 0
    while (i < dim) { n += v(i) * v(i); i += 1 }
    val s = math.sqrt(n)
    if (s < 1e-12) v.clone()
    else { val o = new Array[Double](dim); i = 0; while (i < dim) { o(i) = v(i) / s; i += 1 }; o }
  }

  /** Deterministic farthest-point seeding (k-means++ analogue, no RNG) over
    * an already-normalized point set: first seed is pts(0), each next seed
    * the point with MINIMUM max-cosine to the chosen set; O(|pts| * k * dim)
    * serial flops. */
  private[engine] def farthestPointSeeds(pts: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    val dim = pts(0).length
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { s += a(i) * b(i); i += 1 }
      s
    }
    val seeds = scala.collection.mutable.ArrayBuffer(pts(0))
    val bestSim = Array.fill(pts.length)(Double.NegativeInfinity)
    while (seeds.length < k) {
      val last = seeds.last
      var worstIdx = -1
      var worstSim = Double.PositiveInfinity
      var i = 0
      while (i < pts.length) {
        val s = dot(pts(i), last)
        if (s > bestSim(i)) bestSim(i) = s
        if (bestSim(i) < worstSim) { worstSim = bestSim(i); worstIdx = i }
        i += 1
      }
      seeds += pts(worstIdx)
    }
    seeds.toArray
  }

  /** `iters` local Lloyd rounds under the st_ivf_assign law (kernel-law
    * similarity dt / max(|p| * |c|, 1e-12), strict > ties to the lowest
    * index). Norms are loop-invariant and hoisted — each is the SAME
    * element-ordered accumulation the inline form would compute, so every
    * double is bit-identical, at ~2x fewer hot-loop flops (this loop is
    * the quantity [[SmallFitFlops]] budgets). Emptied clusters keep their
    * centroid. */
  private[engine] def localLloydRounds(pts: Array[Array[Double]],
                                       seeds: Array[Array[Double]],
                                       iters: Int): Array[Array[Double]] = {
    val dim = pts(0).length
    val k = seeds.length
    def selfNorm(v: Array[Double]): Double = {
      var n = 0.0; var i = 0
      while (i < dim) { n += v(i) * v(i); i += 1 }
      math.sqrt(n)
    }
    val ptNorm = pts.map(selfNorm)
    var cents = seeds
    var it = 0
    while (it < iters) {
      val centNorm = cents.map(selfNorm)
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      var i = 0
      while (i < pts.length) {
        val sqna = ptNorm(i)
        var best = 0; var bs = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var dt = 0.0
          var j = 0
          while (j < dim) { dt += pts(i)(j) * cents(c)(j); j += 1 }
          val s = dt / math.max(sqna * centNorm(c), 1e-12)
          if (s > bs) { bs = s; best = c }
          c += 1
        }
        var d1 = 0
        while (d1 < dim) { sums(best)(d1) += pts(i)(d1); d1 += 1 }
        counts(best) += 1
        i += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c) else normalize(sums(c))
      }
      it += 1
    }
    cents
  }

  /** Driver-vs-distributed Lloyd regime threshold (total flops for the whole
    * fit): 2e8 is well under a second of scalar arithmetic — below it the
    * per-round Spark-job scheduling dominates any distributed win. The q75
    * gate (2048 x 16 x dims x 5) sits below; a k=1024 production fit sits
    * far above. */
  val SmallFitFlops: Long = 200000000L

  /** Two-level quantizer: `top` = the k1 top-level centroids, `flat` = the
    * full rectangular k1*k2 flat list (cid = c1*k2 + c2, sorted) including
    * any padding duplicates, `k2` = sub-lists per top cluster. `flat` is
    * what [[searchIvfIndex]] consumes (probe sets, validation); `top` +
    * the flat matrix are what [[assignCids2]] ships to the kernel. */
  final case class HierCentroids(top: Array[(Long, Array[Double])],
                                 flat: Array[(Long, Array[Double])], k2: Int)

  /** Hierarchical (two-level) spherical k-means — the inverted-multi-index
    * style coarse quantizer for list counts beyond any flat fit's reach:
    *
    *  - fit k1 top-level centroids with [[kmeansFit]] (its farthest-point
    *    seeding, driver/distributed Lloyd regimes and determinism
    *    guarantees apply);
    *  - assign the deterministic sample to them (one distributed job, the
    *    k1 x dim literal is small by construction);
    *  - fit k2 sub-centroids INSIDE each top cluster — all k1 sub-fits run
    *    in ONE `mapGroups` job, each over a bounded deterministic subset
    *    (the `subSampleCap` smallest sample positions of the cluster,
    *    selected via a bounded heap then sorted, so the fit is identical
    *    regardless of shuffle arrival order) using the extracted
    *    [[farthestPointSeeds]] + [[localLloydRounds]] primitives — the
    *    EXACT small-fit arithmetic, just running per-executor-group.
    *
    * Why this exists: at the k ~ sqrt(N) ~ 3*10^4 lists a 10^9-vector
    * corpus wants, every flat-fit stage that is O(k) per row becomes the
    * bottleneck — farthest-point seeding alone is O(sample * k * dim)
    * serial driver flops, and each Lloyd round ships a k x dim literal and
    * scans all k centroids per sample row. Here NO stage exceeds
    * O(k1 + k2) per row: seeding, fitting and ([[assignCids2]]) assignment
    * all scan k1 + k2 ~ 2*sqrt(k) centroids. The price is the standard IMI
    * approximation: two-level assignment is not a flat argmax over all
    * k1*k2 centroids. Full-probe search over the resulting index remains
    * EXACT regardless (the q89 gate); partial-probe recall is gated on
    * clustered data like the flat trained path's.
    *
    * Degenerate clusters: a top cluster with fewer sample rows than k2
    * pads its block by repeating its first sub-centroid, and one with NO
    * sample rows uses k2 copies of the (normalized) top centroid — ties
    * break to the LOWEST cid at both levels, so padding duplicates can
    * never win an assignment; their lists just stay empty. */
  def kmeansFitHier(corpus: DataFrame, k1: Int, k2: Int, iters: Int = 10,
                    sampleCap: Int = 65536,
                    subSampleCap: Int = 8192): HierCentroids = {
    require(k1 >= 2 && k2 >= 2, s"need k1, k2 >= 2, got ($k1, $k2)")
    val spark = corpus.sparkSession
    val top = kmeansFit(corpus, k1, iters, sampleCap)
    // same deterministic draw law as kmeansFit: identical under any
    // partitioning/parallelism (the second corpus scan is the price of
    // reusing kmeansFit unchanged for the top level; both scans are
    // sample-bounded)
    val sample = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleCap)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    val dim = sample(0).length
    val pts = sample.map(normalize)
    import spark.implicits._
    val topFlat = top.flatMap(_._2).toSeq
    val topIds = top.map(_._1).toSeq
    val subCap = subSampleCap
    val itersL = iters
    val k2L = k2
    val subBlocks = spark.sparkContext
      .parallelize(pts.zipWithIndex.map { case (p, i) => (i.toLong, p.toSeq) }.toSeq,
        spark.sparkContext.defaultParallelism)
      .toDF("sid", "emb")
      .withColumn("cid1", call_function("st_ivf_assign",
        col("emb"), typedLit(topFlat), typedLit(topIds), lit(dim)))
      // a null cid1 is a ragged sample vector the kernel refused — skip it,
      // exactly as the flat fit's stats fold skips its null-cid group
      .where(col("cid1").isNotNull)
      .select(col("cid1"), col("sid"), col("emb"))
      .as[(Long, Long, Seq[Double])]
      .groupByKey(_._1)
      .mapGroups { (cid1, rows) =>
        // bounded deterministic subset: the subCap smallest sids (the
        // sample is a uniform hash draw, so a sid prefix is uniform within
        // the cluster too); bounded max-heap then ascending sort — fit
        // bits are independent of iterator arrival order
        val heap = new scala.collection.mutable.PriorityQueue[(Long, Seq[Double])]()(
          Ordering.by[(Long, Seq[Double]), Long](_._1))
        rows.foreach { case (_, sid, emb) =>
          if (heap.size < subCap) heap.enqueue((sid, emb))
          else if (sid < heap.head._1) { heap.dequeue(); heap.enqueue((sid, emb)) }
        }
        val grp = heap.toArray.sortBy((t: (Long, Seq[Double])) => t._1)
          .map(_._2.toArray)
        val cents =
          if (grp.length < 2) Array(grp(0))
          else localLloydRounds(grp,
            farthestPointSeeds(grp, math.min(k2L, grp.length)), itersL)
        val padded = Array.tabulate(k2L)(i =>
          if (i < cents.length) cents(i) else cents(0))
        (cid1, padded.map(_.toSeq).toSeq)
      }
      .collect()
      .toMap
    val flat = (0 until k1).flatMap { c1 =>
      val block = subBlocks.getOrElse(c1.toLong,
        Seq.fill(k2)(normalize(top(c1)._2).toSeq))
      block.zipWithIndex.map { case (ce, c2) =>
        (c1.toLong * k2 + c2, ce.toArray)
      }
    }.toArray.sortBy(_._1)
    HierCentroids(top, flat, k2)
  }

  /** Search a tick-built index ([[ivfIngestTick]]) through its fold-aware
    * live set — [[searchIvfIndex]]'s exact ranking over [[Ticks.live]]. */
  def searchIvfTicks(spark: SparkSession, path: String, queries: DataFrame,
                     cents: Array[(Long, Array[Double])], k: Int,
                     nprobe: Int): DataFrame = {
    validateCentroids(cents)
    val (probes, index) = collectedProbes(probeSet(queries, cents, nprobe),
      Ticks.live(spark, path)
        .getOrElse(throw new IllegalArgumentException(s"no live batch directories under $path")))
    topKOverCandidates(index, probes, k)
  }

  /** Map-only TWO-LEVEL centroid assignment (`st_ivf_assign2`): k1 + k2 dot
    * products per row instead of [[assignCids]]'s k1*k2 — same single-
    * literal plan shape (two matrix literals), no shuffle, no join. */
  def assignCids2(corpus: DataFrame, hier: HierCentroids): DataFrame = {
    validateCentroids(hier.flat)
    require(hier.top.nonEmpty && hier.flat.length == hier.top.length * hier.k2,
      "flat list must be rectangular k1 * k2")
    val dim = hier.top(0)._2.length
    val topFlat = hier.top.flatMap(_._2).toSeq
    val subFlat = hier.flat.flatMap(_._2).toSeq
    corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .withColumn("cid", call_function("st_ivf_assign2",
        col("embedding"), typedLit(topFlat), typedLit(subFlat), lit(dim)))
  }

  /** Persist a hierarchical IVF index: two-level assignment, same cid
    * partition-directory layout as [[writeIvfIndex]] — [[searchIvfIndex]]
    * reads it unchanged with `hier.flat` as the centroid table. */
  def writeIvfIndexHier(corpus: DataFrame, hier: HierCentroids,
                        path: String): Unit =
    assignCids2(corpus, hier).write.partitionBy("cid").mode("overwrite").parquet(path)

  /** Map-only centroid assignment: one `st_ivf_assign` kernel call per row
    * with the centroid matrix shipped as a SINGLE flat array literal (plus a
    * cid array) — plan size O(nCentroids * dims) DATA bytes in one literal
    * node, codegen size CONSTANT. This is what lets nCentroids reach
    * 10^3-10^4 (the ~sqrt(N) a 10^9-vector corpus wants): the previous
    * greatest()-over-per-centroid-structs argmax built a multi-megabyte
    * expression TREE that blows the codegen method limit past O(100)
    * centroids. No shuffle, no join — PlanSpec gates exchange-freedom. */
  def assignCids(corpus: DataFrame, cents: Array[(Long, Array[Double])]): DataFrame = {
    validateCentroids(cents)
    val dim = cents(0)._2.length
    val flat = cents.flatMap(_._2).toSeq
    val cids = cents.map(_._1).toSeq
    corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .withColumn("cid", call_function("st_ivf_assign",
        col("embedding"), typedLit(flat), typedLit(cids), lit(dim)))
  }

  /** Centroid-array contract shared by every IVF entry point: non-empty,
    * >= 2 lists, uniform dims, and SORTED by ascending cid — the kernel
    * keeps the FIRST max (strict >), so ascending order is what makes ties
    * break to the smallest cid (the q61-pinned (sim, -cid) semantics);
    * an unsorted array would silently change results, so it is an error. */
  private def validateCentroids(cents: Array[(Long, Array[Double])]): Unit = {
    require(cents != null && cents.length >= 2,
      s"need >= 2 centroids, got ${if (cents == null) "null" else cents.length}")
    val dim = cents(0)._2.length
    require(dim > 0 && cents.forall(_._2.length == dim), "ragged centroid dims")
    require(cents.iterator.map(_._1).sliding(2).forall(p => p.head < p.last),
      "centroids must be sorted by strictly ascending cid (tie-break contract)")
  }

  /** Per-query top-k over candidate rows that already carry a `sim` column
    * — the single ranking definition every search path funnels through. */
  private def rankTopK(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "vec_id", "sim", "rank")
  }

  /** Shared candidate-ranking tail: exact cosine + per-query top-k over the
    * (corpus rows x broadcast probes) candidate join — ONE definition so the
    * in-memory and persisted-index paths can never diverge (q75 gates the
    * equality). */
  private def topKOverCandidates(assigned: DataFrame, probes: DataFrame,
                                 k: Int): DataFrame =
    rankTopK(
      assigned.join(broadcast(probes), Seq("cid"))
        .withColumn("sim", cosine(col("embedding"), col("q_emb"))), k)

  /** Per-query probe set: the `nprobe` nearest centroids (tiny x tiny —
    * queries cross-join the broadcast centroid table). */
  private def probeSet(queries: DataFrame, cents: Array[(Long, Array[Double])],
                       nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val centDf = spark.createDataFrame(cents.map { case (cid, ce) => (cid, ce) })
      .toDF("cid", "cemb")
    val pw = Window.partitionBy("qid").orderBy(col("csim").desc, col("cid"))
    queries.select(col("qid"), col("q_emb"))
      .crossJoin(broadcast(centDf))
      .withColumn("csim", cosine(col("q_emb"), col("cemb")))
      .withColumn("crn", row_number().over(pw))
      .where(col("crn") <= nprobe)
      .select("qid", "q_emb", "cid")
  }

  /** IVF-flat ANN top-k: a coarse quantizer assigns every corpus vector to
    * its nearest of `nCentroids` centroids (the inverted lists); a query
    * probes its `nprobe` nearest centroids and searches only those lists
    * with exact cosine.
    *
    * `centroids`: pass [[kmeansFit]] output for trained lists (recall on
    * clustered data — the production path); default is the deterministic
    * first-N-by-id sample (the untrained baseline the q61 gate pins).
    *
    * Scale shape: assignment is a map-only projection over the corpus scan
    * (single-literal kernel, see [[assignCids]]); probing is per-query over
    * the broadcast centroid table; the candidate join broadcasts (qid, cid)
    * pairs, so the only shuffle in the whole plan is the per-query top-k
    * window over the ~nprobe/nCentroids candidate fraction. For a REUSED
    * index, persist with [[writeIvfIndex]] so probes also prune files. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nprobe: Int = 4,
              centroids: Option[Array[(Long, Array[Double])]] = None): DataFrame = {
    val cents = centroids.getOrElse(firstNCentroids(corpus, nCentroids))
    validateCentroids(cents)
    topKOverCandidates(assignCids(corpus, cents), probeSet(queries, cents, nprobe), k)
  }

  /** Persist the IVF index partitioned BY LIST (cid): each inverted list is
    * its own partition directory, so a probe that touches p of n lists reads
    * p/n of the files (static partition pruning — the on-disk analogue of
    * bucketing for this access pattern; at 100 TB each list is further split
    * by the writer's task parallelism). */
  def writeIvfIndex(corpus: DataFrame, cents: Array[(Long, Array[Double])],
                    path: String): Unit =
    assignCids(corpus, cents).write.partitionBy("cid").mode("overwrite").parquet(path)

  /** One ingest tick of an INCREMENTALLY-built IVF index (the vector-side
    * analogue of the tile-pyramid tick): assign the delta against the FIXED
    * centroid set and commit it as a [[Ticks.append]] tick (layout
    * `batch=<id>/cid=<list>/...`, exactly-once on crash replay). O(delta)
    * work per tick, earlier batches' files untouched; [[searchIvfIndex]] reads the
    * accumulated index unchanged (`cid` stays a partition column, so probes
    * still prune list directories — `batch` rides along as an extra
    * partition level the search ignores). The accumulated index holds
    * exactly the union of all ticks' rows regardless of batch slicing
    * (assignment is per-row deterministic against frozen centroids).
    * Centroid RE-TRAINING is deliberately a rebuild via [[writeIvfIndex]]:
    * the cid space must stay frozen across ticks (the FAISS discipline —
    * train once on a sample, add forever, retrain = new index). Search the
    * ticks with [[searchIvfTicks]] (fold-aware; identical to a plain read
    * while no fold has run). Folding the per-tick file sets into one
    * generation is internal to the engine: no public entry runs it, so
    * each tick adds one file set per touched cid. */
  def ivfIngestTick(delta: DataFrame, cents: Array[(Long, Array[Double])],
                    path: String, batchId: Long): Unit =
    Ticks.append(assignCids(delta, cents), path, batchId, "cid")

  /** Probe set computed once and collected: the (qid, q_emb, cid) rows of
    * [[probeSet]] or [[probeSetHier]] are dimension-sized — nQueries x
    * nprobe on the side that is about to be BROADCAST anyway — so both
    * consumers are served from a driver-local relation. Returns the
    * broadcast probes and `index` pruned by a static `cid IN (...)` filter
    * on their distinct cids, so a cid-partitioned scan reads ONLY the probed
    * list directories (PlanSpec gates the PartitionFilters). An internal
    * .cache() here would escape the function and be unpersistable for the
    * session (the round-3 q56 lesson); for query batches too large to
    * broadcast, use ivfTopK against the index DataFrame instead. */
  private def collectedProbes(probesDf: DataFrame,
                              index: DataFrame): (DataFrame, DataFrame) = {
    val rows = probesDf.collect()
    val probes = broadcast(probesDf.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), probesDf.schema))
    val cids = rows.map(_.getLong(2)).distinct
    (probes, index.where(col("cid").isin(cids.map(_.asInstanceOf[Any]): _*)))
  }

  /** Search a persisted IVF index: probes are computed per query and
    * collected once ([[collectedProbes]]); their DISTINCT cid set
    * (dimension-sized — at most nCentroids values) prunes the scan to the
    * probed list directories. Candidate restriction per query then happens
    * via the broadcast (qid, cid) join as in [[ivfTopK]]. */
  def searchIvfIndex(spark: SparkSession, path: String, queries: DataFrame,
                     cents: Array[(Long, Array[Double])], k: Int,
                     nprobe: Int): DataFrame = {
    validateCentroids(cents)
    val (probes, index) =
      collectedProbes(probeSet(queries, cents, nprobe), spark.read.parquet(path))
    topKOverCandidates(index, probes, k)
  }

  /** TWO-LEVEL probe set for a hierarchical index: rank the k1 top
    * centroids per query, keep `nprobe1` clusters, rank only THOSE
    * clusters' sub-centroids, keep `nprobe` lists overall — O(k1 +
    * nprobe1 * k2) dots per query instead of [[probeSet]]'s O(k1 * k2),
    * and the broadcast dimension is k1 + nprobe1-filtered rows instead of
    * the full flat table (the per-query probing analogue of what
    * `st_ivf_assign2` does per corpus row). With nprobe1 = k1 the ranking
    * degenerates to the flat [[probeSet]] EXACTLY (same cosine law, same
    * (csim desc, cid) tie-break over the same sub-centroid set). */
  private def probeSetHier(queries: DataFrame, hier: HierCentroids,
                           nprobe1: Int, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val topDf = spark.createDataFrame(hier.top.map { case (c1, ce) => (c1, ce) })
      .toDF("c1", "cemb")
    val subDf = spark.createDataFrame(hier.flat.map { case (cid, ce) =>
      (cid / hier.k2, cid, ce)
    }).toDF("c1", "cid", "semb")
    val w1 = Window.partitionBy("qid").orderBy(col("tsim").desc, col("c1"))
    val picked = queries.select(col("qid"), col("q_emb"))
      .crossJoin(broadcast(topDf))
      .withColumn("tsim", cosine(col("q_emb"), col("cemb")))
      .withColumn("trn", row_number().over(w1))
      .where(col("trn") <= nprobe1)
      .select("qid", "q_emb", "c1")
    val w2 = Window.partitionBy("qid").orderBy(col("csim").desc, col("cid"))
    picked.join(broadcast(subDf), Seq("c1"))
      .withColumn("csim", cosine(col("q_emb"), col("semb")))
      .withColumn("crn", row_number().over(w2))
      .where(col("crn") <= nprobe)
      .select("qid", "q_emb", "cid")
  }

  /** Search a persisted hierarchical index with two-level probing — same
    * collected-probe static partition pruning as [[searchIvfIndex]], but
    * the probe ranking never scans all k1*k2 centroids per query. At
    * nprobe1 = k1 the probe set equals the flat one exactly, so full
    * probe (nprobe = k1*k2) remains exact brute force (the q89 gate). */
  def searchIvfIndexHier(spark: SparkSession, path: String, queries: DataFrame,
                         hier: HierCentroids, k: Int,
                         nprobe1: Int, nprobe: Int): DataFrame = {
    validateCentroids(hier.flat)
    val (probes, index) = collectedProbes(
      probeSetHier(queries, hier, nprobe1, nprobe), spark.read.parquet(path))
    topKOverCandidates(index, probes, k)
  }

  // ---- int8 scalar quantization -------------------------------------------

  /** Persist an int8-quantized embedding index: (vec_id, minv, scale,
    * q: binary) — 1 byte/dim + 16 bytes of per-vector affine params instead
    * of 8 bytes/dim, the ~4x on-disk / ~8x in-memory footprint lever for a
    * 10^9-vector corpus. Search reconstructs minv + q_i * scale on the fly
    * (asymmetric distance: quantized corpus x full-precision query), so
    * recall loss is bounded by the per-vector quantization error. */
  def writeQuantizedIndex(corpus: DataFrame, path: String): Unit =
    corpus
      .select(col("vec_id"),
        call_function("st_q8_pack", col("embedding").cast("array<double>")).as("p"))
      .select(col("vec_id"), col("p.minv").as("minv"),
        col("p.scale").as("scale"), col("p.q").as("q"))
      .write.mode("overwrite").parquet(path)

  /** Exact top-k over a quantized index (brute-force ADC — compose with the
    * IVF list pruning for sublinear candidate sets; the two index layouts
    * are orthogonal). Output: (qid, vec_id, sim, rank), sim = cosine of the
    * reconstruction against the full-precision query. */
  def searchQuantizedIndex(spark: SparkSession, path: String,
                           queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("qid"), col("q_emb"))
    rankTopK(
      spark.read.parquet(path)
        .crossJoin(broadcast(q))
        .withColumn("sim", call_function("st_q8_cosine",
          col("minv"), col("scale"), col("q"), col("q_emb"))), k)
  }

  /** Combined IVF + int8 index (the FAISS IVF-SQ8 shape): inverted lists as
    * cid partition directories AND int8 payloads inside them — probes prune
    * files, ADC computes distances, and the corpus costs 1 byte/dim on
    * disk. The two layouts compose because they act on different axes
    * (which rows a probe reads vs how each row stores its vector). */
  def writeIvfQ8Index(corpus: DataFrame, cents: Array[(Long, Array[Double])],
                      path: String): Unit =
    assignCids(corpus, cents)
      .select(col("vec_id"), col("cid"),
        call_function("st_q8_pack", col("embedding")).as("p"))
      .select(col("vec_id"), col("cid"), col("p.minv").as("minv"),
        col("p.scale").as("scale"), col("p.q").as("q"))
      .write.partitionBy("cid").mode("overwrite").parquet(path)

  def searchIvfQ8Index(spark: SparkSession, path: String, queries: DataFrame,
                       cents: Array[(Long, Array[Double])], k: Int,
                       nprobe: Int): DataFrame = {
    validateCentroids(cents)
    val (probes, index) =
      collectedProbes(probeSet(queries, cents, nprobe), spark.read.parquet(path))
    rankTopK(
      index.join(probes, Seq("cid"))
        .withColumn("sim", call_function("st_q8_cosine",
          col("minv"), col("scale"), col("q"), col("q_emb"))), k)
  }

  /** LSH-bucketed ANN top-k: candidates = corpus rows sharing any band key
    * with the query (16 bands of 6 hyperplane bits), then exact cosine +
    * window top-k over candidates only. Recall < 1 by construction. Rows
    * whose embedding length differs from `dims` get NULL keys and drop out
    * silently (relaxed null discipline, like unparseable text spans) —
    * validate embedding dimensionality upstream if that must be an error. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int = 64): DataFrame = {
    def withKeys(df: DataFrame, emb: String): DataFrame =
      df.select(df.columns.map(col) :+
        posexplode(lshBandKeys(col(emb), dims, 16, 6)).as(Seq("band", "key")): _*)
    val c = withKeys(corpus.select(col("vec_id"), col("embedding")), "embedding")
    val q = withKeys(queries.select(col("qid"), col("q_emb")), "q_emb")
    val cand = c.join(broadcast(q), Seq("band", "key"))
      .select("qid", "q_emb", "vec_id", "embedding")
      .dropDuplicates("qid", "vec_id")
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    cand.withColumn("sim", cosine(col("embedding"), col("q_emb")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "vec_id", "sim", "rank")
  }
}
