package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (content hash),
  * MinHash+LSH banding, SimHash hamming buckets, n-gram Jaccard verification.
  *
  * Scale design: every method is shuffle-bounded by the *candidate* set, not
  * the corpus cross product — LSH bands / simhash chunks are the join keys,
  * so the only quadratic work happens inside a bucket. Hot buckets (the skew
  * case: boilerplate-heavy corpora collapse into a few buckets) are capped at
  * `maxBucket` rows per (band, bucket) via a window row_number, bounding the
  * per-bucket self-join at C(maxBucket, 2) pairs; rows beyond the cap in a
  * degenerate bucket are quarantined from candidate generation rather than
  * detonating the join. Exact groups are likewise bounded (membership rows
  * with a window count, never an unbounded collect_list). */
object Dedup {

  /** Exact duplicate membership rows (content_hash, doc_id, n) by content
    * hash, without any unbounded per-group state (a window count instead
    * of collect_list). */
  def exactGroups(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    docs.select(md5(col("text")).as("content_hash"), col("doc_id"))
      .withColumn("n", count(lit(1)).over(w))
      .where(col("n") > 1)
  }

  /** Word 3-gram shingles of the normalized text (codegen'd st_shingles
    * kernel: lower-cased alnum words, distinct space-joined n-grams). */
  def shingles(text: Column): Column =
    call_function("st_shingles", text, lit(3))

  /** (doc_id, band, bucket) LSH band-bucket rows, hot buckets capped. */
  private def bandBuckets(sh: DataFrame,
                          numHashes: Int, bands: Int, maxBucket: Int): DataFrame = {
    val rows = numHashes / bands
    require(rows * bands == numHashes, "numHashes must be a multiple of bands")
    val sigDf = sh.select(col("doc_id"),
      explode(array(call_function("st_minhash", col("shingles"), lit(numHashes)))).as("sig"))
    // bucket = md5 of the band's signature slice (the band index is already a
    // join column, so no seed is needed) — md5 rather than xxhash64 so an
    // independent SQL oracle reproduces the exact bucketing, cap included
    val banded = sigDf.select(col("doc_id"),
      posexplode(array((0 until bands).map { b =>
        md5(concat_ws(",",
          (0 until rows).map(r => col("sig")(b * rows + r).cast("string")): _*))
      }: _*)).as(Seq("band", "bucket")))
    val wB = Window.partitionBy(col("band"), col("bucket")).orderBy(col("doc_id"))
    banded.withColumn("bn", row_number().over(wB))
      .where(col("bn") <= maxBucket)
      .select("doc_id", "band", "bucket")
  }

  /** MinHash+LSH near-duplicate pairs: band the signature (bands x rows),
    * bucket-join within bands (capped at maxBucket rows per bucket), then
    * verify with true shingle Jaccard. Returns (doc_a, doc_b, jaccard) with
    * doc_a < doc_b, jaccard >= threshold.
    *
    * The shingle projection is consumed twice — banding and Jaccard
    * verification — and is recomputed for each rather than stored: the
    * stored projection measured 4.7x the raw text bytes and slower end to
    * end (sf0.1 documents, local[16]). */
  def minhashLsh(docs: DataFrame, numHashes: Int = 32, bands: Int = 8,
                 threshold: Double = 0.7, maxBucket: Int = 64): DataFrame = {
    val sh = docs.select(col("doc_id"), shingles(col("text")).as("shingles"))
    val banded = bandBuckets(sh, numHashes, bands, maxBucket)
    val a = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
    val idPairs = a.join(b, Seq("band", "bucket"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    val pairs = idPairs
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
    pairs
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", round(col("inter") / greatest(col("uni"), lit(1.0)), 6))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** 64-bit SimHash over the word multiset via the codegen'd st_simhash
    * kernel (word hash = big-endian first 8 bytes of md5(word), signed bit
    * votes) — no typed .map row ser/de in the path. */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("string").as("doc_id"),
      call_function("st_simhash", call_function("st_words", col("text"))).as("simhash"))

  /** SimHash near-dup candidate pairs: 4 x 16-bit chunk buckets (capped at
    * maxBucket rows per chunk-key, same quarantine rule as minhashLsh),
    * verify hamming distance <= maxHamming. Note the candidate guarantee is
    * pigeonhole-exact only for maxHamming <= 3 with 4 chunks; beyond that a
    * pair can differ in every chunk and still be within maxHamming. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   maxBucket: Int = 64): DataFrame = {
    val sh = simhash(docs)
    val chunked = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map { c =>
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))
      }: _*)).as(Seq("chunk", "key")))
    val wB = Window.partitionBy(col("chunk"), col("key")).orderBy(col("doc_id"))
    val capped = chunked.withColumn("bn", row_number().over(wB))
      .where(col("bn") <= maxBucket)
    val a = capped.select(col("chunk"), col("key"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = capped.select(col("chunk"), col("key"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk", "key"))
      .where(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Embedding-cosine near-duplicate pairs: hyperplane-LSH bucket candidates
    * (16 bands of 6 bits, the same deterministic md5-derived planes as
    * Ann.lshTopK), capped per bucket, then exact cosine verification.
    * vecs: (vec_id, embedding array<double> of 64 dims; other lengths get
    * NULL keys and drop out, as in Ann.lshTopK). Returns (vec_a, vec_b, cos) with vec_a < vec_b,
    * cos >= threshold. Approximate by construction (recall < 1 for
    * moderate thresholds). Identical vectors share every band bucket, so
    * exact copies are found UNLESS their duplicate group exceeds 64
    * members (the per-bucket cap) — members past the cap are quarantined,
    * the same rule as minhashLsh/simhashPairs.
    *
    * Shuffle shape matches minhashLsh: only (vec_id, band, key) rows enter
    * the band shuffle and the candidate self-join; embeddings re-attach once
    * per deduped candidate pair for the cosine verify. */
  def embeddingNearDup(vecs: DataFrame, threshold: Double = 0.9): DataFrame = {
    val banded = vecs.select(col("vec_id"),
      posexplode(Ann.lshBandKeys(col("embedding"), 64, 16, 6))
        .as(Seq("band", "key")))
    val wB = Window.partitionBy(col("band"), col("key")).orderBy(col("vec_id"))
    val capped = banded.withColumn("bn", row_number().over(wB))
      .where(col("bn") <= 64)
    val a = capped.select(col("band"), col("key"), col("vec_id").as("vec_a"))
    val b = capped.select(col("band"), col("key"), col("vec_id").as("vec_b"))
    val idPairs = a.join(b, Seq("band", "key"))
      .where(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .dropDuplicates("vec_a", "vec_b")
    idPairs
      .join(vecs.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), Seq("vec_a"))
      .join(vecs.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), Seq("vec_b"))
      .withColumn("cos", round(Ann.cosine(col("emb_a"), col("emb_b")), 6) + 0.0)
      .where(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** Substring-overlap near-dup candidates via winnowing fingerprints
    * ([[TextOps.winnowCol]]): (doc_a, doc_b, n_shared) for pairs of docs
    * sharing at least 10 fingerprints. The winnowing guarantee makes any
    * pair sharing a contiguous substring of length >= 8 a candidate — the
    * contiguous-plagiarism detector the token-set methods (minhash/simhash)
    * miss when the shared run is short relative to the documents. Same
    * 100-TB bucket shape as the LSH paths: the fingerprint is the join key,
    * hot fingerprints (boilerplate substrings) capped at 64 docs so no
    * bucket detonates the self-join. */
  def winnowNearDup(docs: DataFrame): DataFrame = {
    val fps = docs.select(col("doc_id"), explode(TextOps.winnowCol(col("text"))).as("fp"))
    val wF = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val capped = fps.withColumn("rn", row_number().over(wF))
      .where(col("rn") <= 64)
      .select("fp", "doc_id")
    val a = capped.select(col("fp"), col("doc_id").as("doc_a"))
    val b = capped.select(col("fp"), col("doc_id").as("doc_b"))
    a.join(b, Seq("fp"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 10L)
  }

  /** Edge cap (BOTH-direction rows) below which [[connectedComponents]]
    * runs a driver union-find instead of distributed label rounds: each
    * round costs 2 shuffles + a snapshot + a count action, which dominates
    * wall time when the edge list is small (a 600k-edge DBSCAN core graph
    * collects in ~50 MB and resolves in milliseconds). Nodes are NEVER
    * collected — only edge endpoints — so a corpus of 10^9 singletons with
    * 100 dup pairs still takes the driver path. Specs force the
    * distributed rounds through the `driverEdgeCap` parameter of the
    * `private[graft]` overload (0 disables the driver regime). */
  val DriverEdgeCap = 400000L

  /** Total order matching Spark's least() for the id types the driver
    * regime supports; None = unsupported, caller falls back to the
    * distributed path. Strings compare as UTF-8 BYTES (UTF8String), not
    * UTF-16 code units: the distributed rounds' min()/least() compare
    * UTF8String binary, and for ids with supplementary-plane characters the
    * two orders differ — the elected representative must not depend on
    * which regime ran (r05 advisory). */
  private def driverLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: Int, y: Int) => x < y
    case (x: String, y: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
    case _ => throw new IllegalStateException(s"unsupported driver-CC id: $a")
  }

  private def driverRegimeType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == org.apache.spark.sql.types.LongType ||
      dt == org.apache.spark.sql.types.IntegerType ||
      dt == org.apache.spark.sql.types.StringType

  /** Driver union-find over the collected edge rows — orientation- and
    * duplicate-insensitive (union is idempotent), so the caller hands over
    * its RAW pair rows with no both-direction union, no distinct and no
    * orientation filter. Per-root MINIMUM member as the representative —
    * the identical fixpoint the distributed rounds converge to.
    * `distinctNodes = true` when the caller cannot guarantee unique node
    * rows. */
  private def driverComponents(spark: org.apache.spark.sql.SparkSession,
                               nodes: DataFrame, edges: DataFrame,
                               distinctNodes: Boolean): DataFrame = {
    import scala.collection.mutable
    val parent = mutable.HashMap.empty[Any, Any]
    def find(a: Any): Any = {
      var r = a
      while (parent.getOrElse(r, r) != r) {
        val p = parent(r)
        parent(r) = parent.getOrElse(p, p) // path halving
        r = parent(r)
      }
      r
    }
    val endpoints = mutable.HashSet.empty[Any]
    edges.collect().foreach { row =>
      endpoints += row.get(0)
      endpoints += row.get(1)
      val (ra, rb) = (find(row.get(0)), find(row.get(1)))
      if (ra != rb) parent(ra) = rb
    }
    val minOfRoot = mutable.HashMap.empty[Any, Any]
    // all edge ENDPOINTS, not parent.keySet — a node that was only ever a
    // union TARGET never appears as a key but still needs its mapping row
    val members = endpoints.toSeq
    members.foreach { m =>
      val r = find(m)
      val cur = minOfRoot.get(r)
      if (cur.isEmpty || driverLt(m, cur.get)) minOfRoot(r) = m
    }
    val idType = nodes.schema("doc_id").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("mrep", idType)))
    val rows = members.map(m => org.apache.spark.sql.Row(m, minOfRoot(find(m))))
    val mapDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val nodeIds = nodes.select(col("doc_id").as("id"))
    (if (distinctNodes) nodeIds.distinct() else nodeIds)
      .join(broadcast(mapDf), Seq("id"), "left_outer")
      .select(col("id").as("doc_id"), coalesce(col("mrep"), col("id")).as("rep"))
  }

  /** Connected components over a near-duplicate pair set -> per-doc cluster
    * representative (the component's MINIMUM doc id): the step AFTER pair
    * detection in a production dedup pipeline — keep one canonical doc per
    * cluster, drop the rest. `nodes` (doc_id) is every doc that needs a
    * cluster id (docs in no pair stay their own singleton); `pairs`
    * (doc_a, doc_b) is undirected.
    *
    * Min-label propagation WITH per-round pointer doubling (path
    * shortcutting): each round every node takes the min of its label and
    * its neighbors' labels, then follows its representative pointer one
    * extra hop (rep <- rep(rep), looked up in the previous round's label
    * map). Propagation alone needs O(component diameter) rounds — a
    * CHAIN-shaped dup graph (pairwise sliding near-dups) of length 10^6
    * would blow any practical maxIter; the shortcut roughly doubles how far
    * the minimum has reached each round, so convergence is O(log n) rounds
    * (a 1000-node path converges in ~10, gated by EngineSpec). Reps only
    * ever DECREASE and stay within the component (each new rep is some
    * member's current-or-previous rep), so the fixpoint every member agrees
    * on is the component MINIMUM, exactly as pure propagation's. THROWS if
    * not converged by `maxIter` rather than returning a
    * plausible-but-wrong clustering.
    *
    * Scale shape: each round shuffles only the label table (one row per
    * node) — once against the cached edge list, once for the shortcut
    * lookup. In the distributed regime the labels are checkpointed per
    * round through [[Durable.Rounds]] (reliable files under the checkpoint
    * dir — executor-loss-safe, lineage-bounded), and the SUPERSEDED round is
    * deleted as soon as the next one commits, so a call holds at most two
    * rounds on disk and leaves one, the final round. Convergence costs one
    * count action per round (the label table is the size of the node set,
    * so unlike Knn's query-sized rounds it cannot live on the driver). That
    * regime needs spark.checkpoint.dir on shared storage on a cluster; the
    * driver regime writes nothing. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          maxIter: Int = 30): DataFrame =
    connectedComponents(nodes, pairs, maxIter, validateNodes = true, DriverEdgeCap)

  /** `validateNodes = false` is the trusted-caller mode for callers that
    * construct the edge set FROM the node set themselves (dbscan semi-joins
    * its core edges against the core ids, so endpoint ⊆ nodes holds by
    * construction, and its node rows are unique by the operator's pid
    * contract): it skips the endpoint-containment fail-fast action AND the
    * node-distinct shuffles — identical output, fewer jobs. External
    * callers keep the default checks. `driverEdgeCap` is the
    * [[DriverEdgeCap]] regime threshold (0 forces the distributed rounds). */
  private[graft] def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                                         maxIter: Int,
                                         validateNodes: Boolean,
                                         driverEdgeCap: Long): DataFrame = {
    val spark = nodes.sparkSession
    // RAW pair rows, cached once: the driver regime consumes them directly
    // (union-find is orientation- and duplicate-insensitive), so the
    // both-direction union + distinct shuffle is deferred to the
    // distributed path — the only regime whose per-round joins need it
    val rawEdges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .cache()
    var roundEdges: Option[DataFrame] = None // distributed-path cache, see finally
    try {
      // a pair endpoint missing from `nodes` would silently DROP its edges in
      // the propagation join and split components with no error — fail fast
      // instead (one dimension-sized anti-join action, consistent with the
      // throw-on-non-convergence contract)
      if (validateNodes) {
        val endpoints = rawEdges.select(col("src").as("doc_id"))
          .unionByName(rawEdges.select(col("dst").as("doc_id"))).distinct()
        val orphans = endpoints
          .join(nodes.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
          .limit(5).collect().map(_.get(0))
        require(orphans.isEmpty,
          s"pair endpoint(s) missing from nodes: ${orphans.mkString(", ")} — " +
            "edges through them would be silently ignored")
      }
      // cap <= 0 disables the driver regime outright (documented semantics;
      // previously an EMPTY edge list still satisfied count <= 0 and took
      // the driver path — same result, but the gate now matches its doc).
      // The cap compares against 2x the pair-row count — the both-direction
      // edge count of a dup-free single-direction pair set, preserving the
      // documented cap meaning without paying the distinct to measure it.
      if (driverEdgeCap > 0 && driverRegimeType(nodes.schema("doc_id").dataType) &&
          rawEdges.count() * 2 <= driverEdgeCap)
        return driverComponents(spark, nodes, rawEdges,
          distinctNodes = validateNodes)
      val edges = rawEdges
        .unionByName(rawEdges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .cache() // reused every round; unpersisted in the finally below
      roundEdges = Some(edges)
      val rounds = new Durable.Rounds(spark)
      // id type is whatever the caller's doc_id is (long or string); the
      // "minimum" representative is numeric or lexicographic accordingly
      val nodeIds = nodes.select(col("doc_id").as("id"))
      var labels = rounds.commit(
        (if (validateNodes) nodeIds.distinct() else nodeIds)
          .withColumn("rep", col("id")))
      var changed = 1L
      var i = 0
      while (changed > 0 && i < maxIter) {
        val nbrMin = edges
          .join(labels.select(col("id").as("src"), col("rep").as("srep")), Seq("src"))
          .groupBy(col("dst").as("id")).agg(min(col("srep")).as("nmin"))
        // keep the previous rep alongside: the change flag is computed
        // INSIDE the round's plan, so convergence detection costs a scan of
        // the committed snapshot instead of an extra self-join per round
        val propagated = labels.join(nbrMin, Seq("id"), "left_outer")
          .select(col("id"), col("rep").as("rep0"),
            least(col("rep"), coalesce(col("nmin"), col("rep"))).as("rep"))
        // pointer doubling against the PREVIOUS round's (file-backed) map:
        // rep_{r-1}(u) >= rep_r(u) and both are valid shrinking pointers
        // into the component, so the stale lookup preserves correctness
        // while avoiding a second materialization of `propagated` per
        // round; reps are always node ids, so the left join + coalesce is
        // purely defensive
        val shortcut = propagated
          .join(labels.select(col("id").as("rep"), col("rep").as("rep2")),
            Seq("rep"), "left_outer")
          .select(col("id"), coalesce(col("rep2"), col("rep")).as("rep"),
            (coalesce(col("rep2"), col("rep")) =!= col("rep0")).as("chg"))
        val next = rounds.commit(shortcut)
        changed = next.where(col("chg")).count()
        rounds.dropPrevious() // the count above was the last read of r-1
        labels = next
        i += 1
      }
      require(changed == 0,
        s"connectedComponents did not converge within $maxIter rounds")
      // the returned frame reads the FINAL round's checkpoint files; the
      // Durable shutdown hook removes them at JVM exit
      labels.select(col("id").as("doc_id"), col("rep"))
    } finally {
      roundEdges.foreach(_.unpersist())
      rawEdges.unpersist()
    }
  }

  /** Word 3-gram Jaccard similarity for explicit candidate pairs
    * (pairs: doc_a, doc_b) against the docs table. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"), shingles(col("text")).as("sh"))
    pairs
      .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), Seq("doc_a"))
      .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), Seq("doc_b"))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          greatest(size(array_union(col("sh_a"), col("sh_b"))).cast("double"), lit(1.0)), 6))
      .select("doc_a", "doc_b", "jaccard")
  }
}
