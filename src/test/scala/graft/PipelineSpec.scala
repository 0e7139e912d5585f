package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine._

/** Training-data pipeline operators: planted-duplicate recovery for the
  * dedup family, ANN exactness/recall, text analysis, media plumbing. */
class PipelineSpec extends AnyFunSuite {

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

  private def docsDf = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val nearDup = base.replace("today", "tonight")
    val other = (1 to 30).map(i => s"completely different document number $i with unique words alpha$i beta$i gamma$i delta$i epsilon$i").toSeq
    (Seq(("d1", base), ("d2", base), ("d3", nearDup), ("d4", "short text")) ++
      other.zipWithIndex.map { case (t, i) => (s"o$i", t) })
      .toDF("doc_id", "text")
  }

  test("exact dedup groups hold the planted identical pair only") {
    val members = Dedup.exactGroups(docsDf).select("doc_id").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(members == Seq("d1", "d2"))
  }

  test("minhash kernel: signature matches a slow reference and estimates jaccard") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def sig(shingles: Seq[String], h: Int): Seq[Long] = {
      val ad = new GenericArrayData(shingles.map(s =>
        UTF8String.fromString(s)).toArray[Any])
      graft.expr.K.minhashSig(ad, h).toLongArray().toSeq
    }
    // slow reference: per-shingle md5 halves, h_i = h1 + i*h2, unsigned min
    def slowSig(shingles: Seq[String], h: Int): Seq[Long] =
      (0 until h).map { i =>
        shingles.map { s =>
          val d = graft.core.Hashing.md5(s.getBytes("UTF-8"))
          graft.core.Hashing.longBE(d, 0) + i.toLong * graft.core.Hashing.longBE(d, 8)
        }.min(Ordering.fromLessThan[Long](java.lang.Long.compareUnsigned(_, _) < 0))
      }
    val a = Seq("the quick brown", "quick brown fox", "brown fox jumps", "fox jumps over")
    val b = Seq("the quick brown", "quick brown fox", "brown fox leaps", "fox leaps over")
    assert(sig(a, 32) == slowSig(a, 32))
    assert(sig(b, 32) == slowSig(b, 32))
    // identical sets -> identical signatures; matching fraction estimates J
    assert(sig(a, 32) == sig(a, 32))
    val matches = sig(a, 128).zip(sig(b, 128)).count { case (x, y) => x == y }
    val trueJ = a.intersect(b).size.toDouble / a.union(b).distinct.size // 2/6
    assert(math.abs(matches / 128.0 - trueJ) < 0.2,
      s"minhash estimate ${matches / 128.0} far from $trueJ")
  }

  test("hot LSH buckets are capped: all-identical corpus stays bounded") {
    import spark.implicits._
    val n = 20000
    val cap = 16
    val same = spark.range(n).select(
      concat(lit("s"), format_string("%06d", col("id"))).as("doc_id"),
      lit("identical boilerplate text repeated across every single document in the corpus").as("text"))
    val bands = 8
    val pairs = Dedup.minhashLsh(same, numHashes = 32, bands = bands,
      threshold = 0.5, maxBucket = cap).count()
    // every doc collides into one bucket per band; the cap bounds candidates
    // at bands * C(cap, 2) (pair dedupe may reduce further)
    assert(pairs <= bands.toLong * cap * (cap - 1) / 2,
      s"uncapped bucket blow-up: $pairs pairs")
    assert(pairs > 0)
    val sPairs = Dedup.simhashPairs(same, maxHamming = 3, maxBucket = cap).count()
    assert(sPairs <= 4L * cap * (cap - 1) / 2 && sPairs > 0,
      s"uncapped simhash chunk blow-up: $sPairs pairs")
  }

  test("minhash LSH finds planted near-duplicates with true jaccard") {
    val pairs = Dedup.minhashLsh(docsDf, threshold = 0.4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains(("d1", "d2")), s"missed exact dup: ${keys.mkString(",")}")
    assert(keys.contains(("d1", "d3")) && keys.contains(("d2", "d3")),
      s"missed near dup: ${keys.mkString(",")}")
    val exact = pairs.find(p => p._1 == "d1" && p._2 == "d2").get
    assert(exact._3 == 1.0)
    // no false positives among the unrelated docs
    assert(pairs.forall(p => Set("d1", "d2", "d3").contains(p._1)))
  }

  test("simhash pairs bucket identical and near docs together") {
    val pairs = Dedup.simhashPairs(docsDf, maxHamming = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("d1", "d2")))
    assert(pairs.contains(("d1", "d3")))
  }

  test("ngram jaccard on explicit pairs") {
    import spark.implicits._
    val pairs = Seq(("d1", "d2"), ("d1", "d4")).toDF("doc_a", "doc_b")
    val got = Dedup.ngramJaccard(docsDf, pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got(("d1", "d2")) == 1.0)
    assert(got(("d1", "d4")) == 0.0)
  }

  test("brute-force ANN is exact: self is rank 1 with sim 1") {
    implicit val s: SparkSession = spark
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val queries = e.where(col("vec_id") < 5)
      .select(concat(lit("q"), col("vec_id")).as("qid"), col("embedding").as("q_emb"))
    val top = Ann.bruteForceTopK(e, queries, k = 3).collect()
    for (q <- 0 until 5) {
      val r1 = top.find(r => r.getString(0) == s"q$q" && r.getInt(3) == 1).get
      assert(r1.getLong(1) == q, s"q$q rank1 is ${r1.getLong(1)}")
      assert(math.abs(r1.getDouble(2) - 1.0) < 1e-9)
    }
  }

  test("LSH ANN finds self and has decent recall vs brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val queries = e.where(col("vec_id") < 8)
      .select(concat(lit("q"), col("vec_id")).as("qid"), col("embedding").as("q_emb"))
    val brute = Ann.bruteForceTopK(e, queries, k = 5).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(e, queries, k = 5, dims = 64).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    for (q <- 0 until 8)
      assert(lsh.contains((s"q$q", q.toLong)), s"LSH missed self for q$q")
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"LSH recall $recall too low")
  }

  test("IVF ANN: probing every list is exactly brute force; partial probe finds self") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val queries = e.where(col("vec_id") < 8)
      .select(concat(lit("q"), col("vec_id")).as("qid"), col("embedding").as("q_emb"))
    // nprobe == nCentroids -> every inverted list searched -> exact
    val brute = Ann.bruteForceTopK(e, queries, k = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
    val full = Ann.ivfTopK(e, queries, k = 5, nCentroids = 4, nprobe = 4).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
    assert(full == brute, s"full-probe IVF != brute force: ${full.diff(brute)} / ${brute.diff(full)}")
    // partial probe: the query's own vector lives in its nearest list
    // (assignment and probe share the argmax), so self must be rank 1
    val part = Ann.ivfTopK(e, queries, k = 5, nCentroids = 16, nprobe = 2).collect()
    for (q <- 0 until 8) {
      val r1 = part.find(r => r.getString(0) == s"q$q" && r.getInt(3) == 1).get
      assert(r1.getLong(1) == q, s"q$q rank1 is ${r1.getLong(1)}")
    }
  }

  test("trained IVF: k-means centroids give high partial-probe recall on a CLUSTERED corpus; persisted index path matches in-memory") {
    import spark.implicits._
    // 8 well-separated clusters in 16-dim — the data shape where untrained
    // first-N-by-id centroids have unknown recall but fitted centroids must
    // align with the clusters
    val rng = new java.util.Random(123L)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian() * 5.0))
    val vecs = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.toSeq.map(_ + rng.nextGaussian() * 0.3))
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = vecs.take(8).map { case (id, v) => (s"q$id", v) }.toDF("qid", "q_emb")
    val cents = Ann.kmeansFit(corpus, k = 8, iters = 8, sampleCap = 400)
    assert(cents.length == 8 && cents.map(_._1).toSeq == (0L until 8L))
    val brute = Ann.bruteForceTopK(corpus, queries, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val trained = Ann.ivfTopK(corpus, queries, k = 10, nprobe = 2,
        centroids = Some(cents)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
    val recall = brute.intersect(trained.map(t => (t._1, t._2)).toSet).size.toDouble / brute.size
    assert(recall >= 0.9, s"trained IVF recall@10 at nprobe=2/8 was $recall")
    // persisted-index path: identical centroids + nprobe -> identical rows
    // (and the probe reads only the probed cid partitions — PlanSpec gates)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfidx2").toString
    try {
      Ann.writeIvfIndex(corpus, cents, tmp)
      val viaIndex = Ann.searchIvfIndex(spark, tmp, queries, cents, k = 10, nprobe = 2)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
      assert(viaIndex.toSet == trained.toSet,
        s"index path diverged: ${viaIndex.toSet.diff(trained.toSet)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("hierarchical IVF: deterministic fit, full probe exact, high partial-probe recall on clusters") {
    import spark.implicits._
    // 16 well-separated clusters in 16-dim -> k1=4 top clusters with k2=4
    // sub-lists each; the two-level quantizer must align with the clusters
    val rng = new java.util.Random(77L)
    val centers = Array.fill(16)(Array.fill(16)(rng.nextGaussian() * 5.0))
    val vecs = (0 until 800).map { i =>
      val c = centers(i % 16)
      (i.toLong, c.toSeq.map(_ + rng.nextGaussian() * 0.3))
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val h = Ann.kmeansFitHier(corpus.repartition(3), k1 = 4, k2 = 4, iters = 6,
      sampleCap = 600, subSampleCap = 256)
    assert(h.top.length == 4 && h.k2 == 4)
    assert(h.flat.length == 16 && h.flat.map(_._1).toSeq == (0L until 16L))
    // partitioning-invariance: the sample draw, top fit, per-cluster subset
    // selection and sub-fits are all deterministic under any parallelism
    val h2 = Ann.kmeansFitHier(corpus.repartition(7), k1 = 4, k2 = 4, iters = 6,
      sampleCap = 600, subSampleCap = 256)
    assert(h.flat.map(_._2.toSeq).toSeq == h2.flat.map(_._2.toSeq).toSeq,
      "hierarchical fit not partitioning-invariant")
    val queries = vecs.take(6).map { case (id, v) => (s"q$id", v) }.toDF("qid", "q_emb")
    val idx = java.nio.file.Files.createTempDirectory("graft_hieridx").toString
    try {
      Ann.writeIvfIndexHier(corpus, h, idx)
      // every corpus row lands in exactly one list -> full probe is exact
      // brute force regardless of the two-level approximation
      assert(spark.read.parquet(idx).count() == 800)
      val brute = Ann.bruteForceTopK(corpus, queries, k = 5).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
      val full = Ann.searchIvfIndex(spark, idx, queries, h.flat, k = 5, nprobe = 16)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
      assert(full == brute, s"full-probe hier != brute: ${full.diff(brute)}")
      // partial probe (4 of 16 lists) on clustered data: near-exact
      val part = Ann.searchIvfIndex(spark, idx, queries, h.flat, k = 5, nprobe = 4)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val recall = brute.map(t => (t._1, t._2)).intersect(part).size.toDouble / brute.size
      assert(recall >= 0.9, s"hier partial-probe recall $recall too low")
      // two-level probing at nprobe1 = k1 ranks the IDENTICAL probe set as
      // the flat path (same law, same tie-break) -> row-identical results
      // at any nprobe; at a REDUCED nprobe1 it is the cheap path (k1 +
      // nprobe1*k2 dots per query) and must keep recall on clustered data
      val flatP = Ann.searchIvfIndex(spark, idx, queries, h.flat, k = 5, nprobe = 6)
        .collect().map(_.toSeq).toSeq
      val hierP = Ann.searchIvfIndexHier(spark, idx, queries, h, k = 5,
        nprobe1 = 4, nprobe = 6).collect().map(_.toSeq).toSeq
      assert(flatP == hierP, "hier probing at nprobe1=k1 diverged from flat probing")
      val hierPart = Ann.searchIvfIndexHier(spark, idx, queries, h, k = 5,
          nprobe1 = 2, nprobe = 4)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val recall2 = brute.map(t => (t._1, t._2)).intersect(hierPart).size.toDouble / brute.size
      assert(recall2 >= 0.9, s"two-level-probe recall $recall2 too low")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
  }

  test("st_ivf_assign2: lowest-cid ties at both levels — padding duplicates never win") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(-1.0, 0.0)))
      .toDF("vec_id", "embedding")
    // top: +x / -x; block 0 repeats its first row at rows 1 and 3 (the
    // padding shape), block 1 is ALL duplicates (the empty-cluster shape)
    val top = Seq(1.0, 0.0, -1.0, 0.0)
    val sub = Seq(1.0, 0.0, 1.0, 0.0, 0.0, 1.0, 1.0, 0.0,
      -1.0, 0.0, -1.0, 0.0, -1.0, 0.0, -1.0, 0.0)
    val got = df.withColumn("cid", call_function("st_ivf_assign2",
        col("embedding").cast("array<double>"), typedLit(top), typedLit(sub), lit(2)))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    // (1,0): top 0, block-0 rows 0/1/3 tie -> lowest -> cid 0
    // (0,1): top sims tie at 0 -> top 0; block-0 row 2 wins -> cid 2
    // (-1,0): top 1; block-1 all tie -> first row -> cid 4
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 4L), s"got $got")
  }

  test("IVF assignment plans and runs at 1024 centroids (single-literal kernel)") {
    // the pre-r4 greatest()-over-per-centroid-structs argmax built a
    // multi-megabyte expression tree that blew whole-stage codegen past
    // ~O(100) centroids; the flat-literal kernel must stay constant
    // codegen size at the 10^3-10^4 centroids a 10^9-vector corpus wants
    import spark.implicits._
    val rng = new java.util.Random(5L)
    val vecs = (0 until 2048).map(i => (i.toLong, Seq.fill(16)(rng.nextGaussian())))
    // parquet-backed so the plan is a real scan (a LocalRelation would be
    // constant-folded at plan time and show no codegen stage at all)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf1024").toString
    try {
      vecs.toDF("vec_id", "embedding").write.mode("overwrite").parquet(tmp)
      val corpus = spark.read.parquet(tmp)
      val cents = Array.tabulate(1024)(c => (c.toLong, Array.fill(16)(rng.nextGaussian())))
      val assigned = Ann.assignCids(corpus, cents)
      val usedLists = assigned.groupBy("cid").count().count()
      assert(usedLists > 256, s"only $usedLists of 1024 lists used — assignment degenerate")
      val plan = assigned.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"assignment gained a shuffle:\n${plan.take(1200)}")
      // executedPlan.toString marks whole-stage-codegen stages with a "*(n)"
      // prefix on each operator
      assert(plan.startsWith("*("),
        s"assignment fell out of codegen:\n${plan.take(1200)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("int8-quantized index: ~4x smaller on disk, near-exact cosine, self still rank 1") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val queries = e.where(col("vec_id") < 8)
      .select(concat(lit("q"), col("vec_id")).as("qid"), col("embedding").as("q_emb"))
    val raw = java.nio.file.Files.createTempDirectory("graft_q8raw").toString
    val idx = java.nio.file.Files.createTempDirectory("graft_q8idx").toString
    try {
      e.write.mode("overwrite").parquet(raw)
      Ann.writeQuantizedIndex(e, idx)
      def bytes(p: String): Long =
        org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(p))
      val ratio = bytes(idx).toDouble / bytes(raw)
      assert(ratio < 0.45, s"quantized index not smaller: ratio $ratio")
      val got = Ann.searchQuantizedIndex(spark, idx, queries, k = 5).collect()
      // self-query: reconstruction error must not displace the exact match
      for (q <- 0 until 8) {
        val r1 = got.find(r => r.getString(0) == s"q$q" && r.getInt(3) == 1).get
        assert(r1.getLong(1) == q, s"q$q rank1 is ${r1.getLong(1)}")
        assert(r1.getDouble(2) > 0.999, s"q$q self-sim ${r1.getDouble(2)}")
      }
      // quantized sims track exact sims closely across the whole top-5
      val exact = Ann.bruteForceTopK(e, queries, k = 5).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      for (r <- got; ex <- exact.get((r.getString(0), r.getLong(1))))
        assert(math.abs(r.getDouble(2) - ex) < 0.01,
          s"quantization drift: ${r.getDouble(2)} vs $ex")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(raw))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    }
  }

  test("IVF-SQ8 combined index: partial probe prunes lists, full probe equals quantized brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val queries = e.where(col("vec_id") < 8)
      .select(concat(lit("q"), col("vec_id")).as("qid"), col("embedding").as("q_emb"))
    val cents = Ann.firstNCentroids(e, 8)
    val flat = java.nio.file.Files.createTempDirectory("graft_q8flat").toString
    val comb = java.nio.file.Files.createTempDirectory("graft_ivfq8").toString
    try {
      Ann.writeQuantizedIndex(e, flat)
      Ann.writeIvfQ8Index(e, cents, comb)
      val brute = Ann.searchQuantizedIndex(spark, flat, queries, k = 5).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
      val full = Ann.searchIvfQ8Index(spark, comb, queries, cents, k = 5, nprobe = 8)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
      assert(full == brute,
        s"full-probe IVF-SQ8 != quantized brute: ${full.diff(brute)} / ${brute.diff(full)}")
      // partial probe: partition pruning visible in the plan, self found
      val part = Ann.searchIvfQ8Index(spark, comb, queries, cents, k = 5, nprobe = 2)
      val plan = part.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(plan).isDefined,
        s"combined index not partition-pruned:\n${plan.take(2000)}")
      val got = part.collect()
      for (q <- 0 until 8) {
        val r1 = got.find(r => r.getString(0) == s"q$q" && r.getInt(3) == 1).get
        assert(r1.getLong(1) == q, s"q$q rank1 is ${r1.getLong(1)}")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(flat))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(comb))
    }
  }

  test("kmeansFit scales to hundreds of centroids (distributed Lloyd rounds)") {
    import spark.implicits._
    // 4096 x 64-dim vectors, k=256, iters=4: 2.7e8 total flops — ABOVE
    // Ann.SmallFitFlops, so this exercises the DISTRIBUTED Lloyd regime
    // (the k~1000 production shape); it must return k sorted, unit-norm
    // centroids that actually partition the data, identically under any
    // parallelism (exact decimal sums)
    assert(4096L * 256 * 64 * 4 > Ann.SmallFitFlops, "test no longer hits the distributed regime")
    val rng = new java.util.Random(11L)
    val vecs = (0 until 4096).map(i => (i.toLong, Seq.fill(64)(rng.nextGaussian())))
    val cents = Ann.kmeansFit(vecs.toDF("vec_id", "embedding").repartition(3),
      k = 256, iters = 4)
    assert(cents.length == 256)
    assert(cents.map(_._1).toSeq == (0L until 256L))
    for ((_, c) <- cents) {
      val norm = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-9, s"centroid not unit-norm: $norm")
    }
    // every centroid distinct (no farthest-point duplicate collapse)
    assert(cents.map(_._2.toSeq).distinct.length == 256)
    // distributed-regime determinism: different input partitioning, same bits
    val cents2 = Ann.kmeansFit(vecs.toDF("vec_id", "embedding").repartition(7),
      k = 256, iters = 4)
    assert(cents.map(_._2.toSeq).toSeq == cents2.map(_._2.toSeq).toSeq)
    // the assignment kernel spreads the corpus over many lists
    val assigned = Ann.assignCids(vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")), cents)
    assert(assigned.select("cid").distinct().count() > 128)
  }

  test("ivf ingest ticks: exactly-once on replay, equals the one-shot index, probes still prune") {
    import spark.implicits._
    val rng = new java.util.Random(41L)
    val vecs = (0 until 300).map(i => (i.toLong, Seq.fill(16)(rng.nextGaussian())))
    val corpus = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val cents = Ann.firstNCentroids(corpus, 8)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_ticks").toString
    val oneShot = java.nio.file.Files.createTempDirectory("graft_ivf_oneshot").toString
    try {
      Ann.ivfIngestTick(corpus.where(col("vec_id") % 2 === 0), cents, idx, 0L)
      Ann.ivfIngestTick(corpus.where(col("vec_id") % 2 === 1), cents, idx, 1L)
      // crash between sink commit and offset commit -> the batch REPLAYS;
      // the batchId-keyed dynamic overwrite must absorb it, not duplicate
      Ann.ivfIngestTick(corpus.where(col("vec_id") % 2 === 1), cents, idx, 1L)
      val got = spark.read.parquet(idx)
      assert(got.count() == 300, "replayed tick duplicated rows")
      Ann.writeIvfIndex(corpus, cents, oneShot)
      val a = got.select(col("vec_id"), col("cid").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = spark.read.parquet(oneShot).select(col("vec_id"), col("cid").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a == b, "tick-accumulated index differs from the one-shot index")
      // searches over the two layouts agree at PARTIAL probe, and the
      // two-level (batch, cid) layout still prunes on cid
      val queries = corpus.where(col("vec_id") < 4)
        .select(concat(lit("q"), col("vec_id")).as("qid"), col("embedding").as("q_emb"))
      val sTicks = Ann.searchIvfIndex(spark, idx, queries, cents, k = 5, nprobe = 3)
      val sOnce = Ann.searchIvfIndex(spark, oneShot, queries, cents, k = 5, nprobe = 3)
      assert(sTicks.collect().map(_.toSeq).toSeq == sOnce.collect().map(_.toSeq).toSeq)
      val rx = "PartitionFilters: \\[[^\\]]*cid".r
      val plan = sTicks.queryExecution.executedPlan.toString
      assert(rx.findFirstIn(plan).isDefined,
        s"tick index scan not partition-pruned on cid:\n${plan.take(2500)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(oneShot))
    }
  }

  test("ivf tick compaction: crash-safe manifest, watermark hides replays, search unchanged") {
    import spark.implicits._
    val rng = new java.util.Random(43L)
    val vecs = (0 until 300).map(i => (i.toLong, Seq.fill(16)(rng.nextGaussian())))
    val corpus = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val cents = Ann.firstNCentroids(corpus, 8)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_compact").toString
    try {
      val b = Array.tabulate(3)(i => corpus.where(col("vec_id") % 3 === i))
      for (i <- 0 until 3) Ann.ivfIngestTick(b(i), cents, idx, i.toLong)
      val queries = corpus.where(col("vec_id") < 4)
        .select(concat(lit("q"), col("vec_id")).as("qid"), col("embedding").as("q_emb"))
      val before = Ann.searchIvfTicks(spark, idx, queries, cents, k = 5, nprobe = 3)
        .collect().map(_.toSeq).toSeq
      // a CRASHED compaction attempt: a stale generation dir exists but the
      // manifest was never committed — readers must not see it
      corpus.limit(5).write.mode("overwrite").parquet(s"$idx/batch=-1/cid=0")
      assert(Ticks.live(spark, idx).get.count() == 300,
        "stale uncommitted generation leaked into the live set")
      // real compaction folding batches 0 and 1 (gen 1 swept the stray dir)
      Ticks.fold(spark, idx, 2L, "cid")(identity)
      val liveDirs = new java.io.File(idx).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
      assert(liveDirs == Set("batch=-1", "batch=2"), s"unexpected dirs: $liveDirs")
      assert(Ticks.live(spark, idx).get.count() == 300)
      val after = Ann.searchIvfTicks(spark, idx, queries, cents, k = 5, nprobe = 3)
        .collect().map(_.toSeq).toSeq
      assert(after == before, "compaction changed search results")
      // contract-violating replay of a COMPACTED batch: the watermark makes
      // the recreated dir invisible — no double counting, search unchanged
      Ann.ivfIngestTick(b(0), cents, idx, 0L)
      assert(Ticks.live(spark, idx).get.count() == 300,
        "replayed compacted batch double-counted")
      // second compaction folds gen 1 + batch 2 into gen 2 and sweeps the
      // replayed dead dir
      Ticks.fold(spark, idx, 3L, "cid")(identity)
      val live2 = new java.io.File(idx).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
      assert(live2 == Set("batch=-2"), s"unexpected dirs after gen 2: $live2")
      assert(Ticks.live(spark, idx).get.count() == 300)
      assert(Ann.searchIvfTicks(spark, idx, queries, cents, k = 5, nprobe = 3)
        .collect().map(_.toSeq).toSeq == before)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
  }

  test("kmeansFit at k = 2048: farthest-point seeding, deterministic and distinct") {
    import spark.implicits._
    // k = 2048 over 4096 x 32-dim vectors with iters=1 crosses
    // SmallFitFlops, so this exercises the large-k path: farthest-point
    // seeding over the sample -> one distributed Lloyd round. Must be
    // repartition-invariant (hash-order sample + exact Q40 sums are
    // partitioning-free) and yield k distinct unit-norm centroids.
    assert(4096L * 2048 * 32 * 1 > Ann.SmallFitFlops)
    val rng = new java.util.Random(23L)
    val vecs = (0 until 4096).map(i => (i.toLong, Seq.fill(32)(rng.nextGaussian())))
    val a = Ann.kmeansFit(vecs.toDF("vec_id", "embedding").repartition(3), k = 2048, iters = 1)
    val b = Ann.kmeansFit(vecs.toDF("vec_id", "embedding").repartition(8), k = 2048, iters = 1)
    assert(a.length == 2048 && a.map(_._1).toSeq == (0L until 2048L))
    assert(a.map(_._2.toSeq).toSeq == b.map(_._2.toSeq).toSeq,
      "k = 2048 fit not partitioning-invariant")
    assert(a.map(_._2.toSeq).distinct.length == 2048, "duplicate centroids")
    for ((_, c) <- a.take(50)) {
      val norm = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-9)
    }
  }

  test("kmeansFit is deterministic and parallelism-invariant") {
    import spark.implicits._
    val rng = new java.util.Random(9L)
    val vecs = (0 until 300).map(i => (i.toLong, Seq.fill(8)(rng.nextGaussian())))
    val a = Ann.kmeansFit(vecs.toDF("vec_id", "embedding").repartition(2), k = 4, iters = 4)
    val b = Ann.kmeansFit(vecs.toDF("vec_id", "embedding").repartition(7), k = 4, iters = 4)
    assert(a.map(_._2.toSeq).toSeq == b.map(_._2.toSeq).toSeq)
  }

  test("compact cells preserves coverage exactly on a real polygon covering") {
    // a big polygon covered at a fine level completes many sibling sets
    val ring = Corpus.genPoly(3).ring.flatMap(p => Seq(p.lat, p.lon)).toArray
    val original = graft.core.Cells.coverRing(ring, 5).toSet
    val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      original.toArray.map(org.apache.spark.unsafe.types.UTF8String.fromString(_)
        .asInstanceOf[Any]))
    val compactedArr = graft.expr.K.compactCells(arr)
    val compacted = (0 until compactedArr.numElements())
      .map(i => compactedArr.getUTF8String(i).toString).toSet
    assert(compacted.size < original.size, "nothing compacted on a big polygon")
    // exact coverage both ways: every original cell has a compacted
    // ancestor-or-self, and every compacted cell is an original cell or a
    // parent whose ENTIRE subtree down to the original level is present
    for (c <- original)
      assert(compacted.exists(p => c.startsWith(p)), s"lost coverage at $c")
    val b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    def expand(cell: String, toLen: Int): Set[String] =
      if (cell.length >= toLen) Set(cell)
      else b32.flatMap(ch => expand(cell + ch, toLen)).toSet
    for (p <- compacted)
      assert(expand(p, 5).subsetOf(original), s"over-coverage from $p")
  }

  test("as-of join: latest at-or-before match, equal-ts ties to max id, null when none") {
    import spark.implicits._
    val clicks = Seq((1L, 100L, 10L), (1L, 50L, 11L), (2L, 10L, 12L))
      .toDF("user_id", "ts", "event_id")
    val views = Seq((1L, 100L, 20L), (1L, 100L, 21L), (1L, 60L, 22L), (3L, 5L, 23L))
      .toDF("user_id", "ts", "event_id")
    val got = engine.AsOf.joinAsOf(clicks, views).collect()
      .map(r => r.getLong(1) -> (Option(r.get(3)), Option(r.get(4)))).toMap
    // click at ts=100: views at-or-before = {100->20, 100->21, 60->22};
    // max ts wins, equal-ts tie -> max id
    assert(got(10L) == (Some(21L), Some(100L)))
    assert(got(11L) == (None, None)) // earliest view is at 60 > 50
    assert(got(12L) == (None, None)) // user 2 has no views
  }

  test("as-of join keeps null-ts left rows (null match) and ignores null-ts/null-id right rows") {
    import spark.implicits._
    val clicks = Seq((1L, Some(100L), Some(10L)), (1L, None, Some(11L)), (2L, None, Some(12L)))
      .toDF("user_id", "ts", "event_id")
    // the null-ID view at ts=80 has no referencable identity: it must not
    // become the match NOR donate its ts to another row's asof_ts (the
    // pair must come from ONE row — and both code paths must agree)
    val views = Seq((1L, Some(60L), Some(20L)), (1L, Some(80L), None),
      (1L, None, Some(21L)), (2L, None, Some(22L)))
      .toDF("user_id", "ts", "event_id")
    for (bf <- Seq(None, Some((t: org.apache.spark.sql.Column) =>
      floor(t / lit(50L)).cast("long")))) {
      val got = engine.AsOf.joinAsOf(clicks, views, bucketFn = bf).collect()
        .map(r => r.getLong(1) -> (Option(r.get(3)), Option(r.get(4)))).toMap
      assert(got.keySet == Set(10L, 11L, 12L))
      assert(got(10L) == (Some(20L), Some(60L)), s"bucketFn=$bf")
      assert(got(11L) == (None, None))
      assert(got(12L) == (None, None))
    }
  }

  test("as-of join: time-bucketed two-pass equals one-pass and splits a hot key") {
    import spark.implicits._
    val n = 1000000L
    // ONE pathologically hot key: n views at even ts, n clicks at odd ts —
    // the single-partition-window shape the bucketed variant exists for
    val views = spark.range(n).select(lit(1L).as("user_id"),
      (col("id") * 2).as("ts"), col("id").as("event_id"))
    val clicks = spark.range(n).select(lit(1L).as("user_id"),
      (col("id") * 2 + 1).as("ts"), (col("id") + n).as("event_id"))
    val bf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      t => floor(t / lit(4096L)).cast("long")
    val out = engine.AsOf.joinAsOf(clicks, views, bucketFn = Some(bf))
    // closed form: the click at ts = 2i+1 matches the view at 2i (id i)
    assert(out.where(col("asof_id") =!= (col("ts") - 1) / 2).count() == 0L)
    assert(out.where(col("asof_ts") =!= col("ts") - 1).count() == 0L)
    assert(out.count() == n)
    assert(out.where(col("asof_id").isNull).count() == 0L)
    // the hot key's rows must NOT be serialized into one task: the pass-1
    // window partitions by (key, bucket), so many partitions carry rows
    assert(out.select(spark_partition_id()).distinct().count() > 1,
      "bucketed as-of still runs the hot key in a single partition")
    // and on a small slice, the bucketed path must agree with the one-pass
    // path row for row (including bucket-boundary carries)
    val smallV = views.where(col("event_id") < 300)
    val smallC = clicks.where(col("event_id") >= n && col("event_id") < n + 300)
    val a = engine.AsOf.joinAsOf(smallC, smallV).collect()
      .map(r => (r.getLong(1), Option(r.get(3)), Option(r.get(4)))).toSet
    val b = engine.AsOf.joinAsOf(smallC, smallV,
        bucketFn = Some(t => floor(t / lit(64L)).cast("long"))).collect()
      .map(r => (r.getLong(1), Option(r.get(3)), Option(r.get(4)))).toSet
    assert(a == b)
  }

  test("connected components: chains merge to min id, singletons stay, non-convergence throws") {
    import spark.implicits._
    val nodes = (0L to 9L).toDF("doc_id")
    // chain 0-1-2-3 (diameter 3, needs multi-round propagation),
    // pair {5,7}, singletons 4,6,8,9
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 7L)).toDF("doc_a", "doc_b")
    // small edge list -> the DRIVER union-find regime (also covers the
    // union-TARGET-only endpoint case: every i+1 in the chain is a target)
    val got = Dedup.connectedComponents(nodes, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L,
      5L -> 5L, 6L -> 6L, 7L -> 5L, 8L -> 8L, 9L -> 9L))
    // a too-small round budget must THROW, never return a partial
    // clustering — distributed path forced (the driver regime has no rounds)
    val dist = Dedup.connectedComponents(nodes, pairs, 30, validateNodes = true,
        driverEdgeCap = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == got, "driver and distributed regimes disagree")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(nodes, pairs, maxIter = 1, validateNodes = true,
        driverEdgeCap = 0L)
    }
  }

  test("connected components: driver and distributed regimes agree on a random graph") {
    import spark.implicits._
    val rng = new java.util.Random(31L)
    val nodes = (0L until 400L).toDF("doc_id")
    val pairs = (0 until 300).map(_ => (rng.nextInt(400).toLong, rng.nextInt(400).toLong))
      .filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
    val driver = Dedup.connectedComponents(nodes, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(nodes, pairs, 30, validateNodes = true,
        driverEdgeCap = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(driver == dist)
    assert(driver.size == 400)
  }

  test("connected components: trusted-caller mode equals the checked path in both regimes") {
    import spark.implicits._
    // trusted mode (validateNodes = false — dbscan's calling convention:
    // nodes are distinct and cover every endpoint) must produce the same
    // clustering as the default checked path, under BOTH regimes; the pair
    // set mixes orientation and contains duplicates, which the raw-edge
    // driver union-find must absorb
    val rng = new java.util.Random(47L)
    val nodes = (0L until 300L).toDF("doc_id")
    val rawPairs = (0 until 250).map(_ => (rng.nextInt(300).toLong, rng.nextInt(300).toLong))
      .filter(p => p._1 != p._2)
    val pairs = (rawPairs ++ rawPairs.take(40).map(p => (p._2, p._1))).toDF("doc_a", "doc_b")
    def run(validate: Boolean, cap: Long = Dedup.DriverEdgeCap): Map[Long, Long] =
      Dedup.connectedComponents(nodes, pairs, maxIter = 30, validateNodes = validate,
          driverEdgeCap = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val checkedDriver = run(validate = true)
    val trustedDriver = run(validate = false)
    assert(trustedDriver == checkedDriver)
    val trustedDist = run(validate = false, cap = 0L)
    assert(trustedDist == checkedDriver)
    assert(checkedDriver.size == 300)
  }

  test("connected components: 1000-node chain converges in O(log n) rounds") {
    import spark.implicits._
    // the worst-case topology for pure min-label propagation (diameter 999
    // would need 999 rounds); pointer doubling must close it in ~10 — the
    // maxIter budget here is the gate. Distributed path forced: by default
    // a 999-edge graph takes the driver regime.
    val nodes = (0L until 1000L).toDF("doc_id")
    val pairs = (0L until 999L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(nodes, pairs, maxIter = 15, validateNodes = true,
      driverEdgeCap = 0L).collect()
    assert(got.length == 1000)
    assert(got.forall(_.getLong(1) == 0L), "chain did not collapse to min id 0")
  }

  test("embedding-cosine near-dup finds planted duplicate/near vectors") {
    import spark.implicits._
    val rng = new java.util.Random(77L)
    def vec(): Array[Double] = Array.fill(64)(rng.nextGaussian())
    val base = vec()
    val near = base.zipWithIndex.map { case (v, i) => if (i == 0) v + 0.05 else v }
    val rows = Seq((0L, base), (1L, base), (2L, near)) ++
      (3L until 60L).map(i => (i, vec()))
    val got = Dedup.embeddingNearDup(rows.toDF("vec_id", "embedding"), threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = got.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)), s"missed exact dup vector: ${keys.mkString(",")}")
    assert(keys.contains((0L, 2L)) && keys.contains((1L, 2L)), "missed near vector")
    assert(got.find(p => p._1 == 0L && p._2 == 1L).get._3 == 1.0)
    // no false positives among random gaussian vectors at threshold 0.95
    assert(got.forall(p => p._1 <= 2L && p._2 <= 2L))
  }

  test("token counts: whitespace and BPE-ish tokenizations") {
    import spark.implicits._
    val d = Seq(
      ("t1", "The cat isn't here, 42 times!"),
      ("t2", ""),
      ("t3", "  spaced   out  ")).toDF("doc_id", "text")
    val got = TextOps.tokenCounts(d).collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(got("t1")._1 == 6) // whitespace tokens
    // BPE-ish: [The][ cat][ isn]['t][ here][,][ 42][ times][!]
    assert(got("t1")._2 == 9, s"bpe count ${got("t1")._2}")
    assert(got("t2") == ((0, 0)))
    assert(got("t3")._1 == 2)
  }

  test("text stats, quality, lang-id, fingerprint are deterministic and sane") {
    import spark.implicits._
    val d = Seq(
      ("t1", "The cat and the dog sat in the garden with it for the day"),
      ("t2", "der Hund und die Katze ist nicht mit der Maus zu den Haus"),
      ("t3", ""),
      ("t4", "le chat est dans la maison pour les vacances et pas une souris"))
      .toDF("doc_id", "text")
    val prof = TextOps.profile(d).collect().map(r => r.getString(0) -> r).toMap
    val lang = prof.map { case (k, r) => k -> r.getAs[String]("lang_pred") }
    assert(lang("t1") == "en" && lang("t2") == "de" && lang("t4") == "fr")
    assert(lang("t3") == "und")
    val q = prof.map { case (k, r) => k -> r.getAs[Double]("quality") }
    assert(q("t1") > 0.5 && q("t3") == 0.0)
    val nWords = d.where(col("doc_id") === "t1")
      .select(size(TextOps.wordsCol(col("text")))).collect()(0).getInt(0)
    assert(nWords == 14)
    val fp = prof.map { case (k, r) => k -> r.getAs[String]("fp") }
    assert(fp("t1") != fp("t2"))
    // portable definition: md5 of the space-joined normalized words
    assert(fp("t3") == graft.core.Hashing.md5Hex(""))
  }

  test("trigram lang-id discriminates twenty languages and matches the pure kernel") {
    import spark.implicits._
    val samples = Seq(
      ("t_en", "the quick brown fox and the lazy dog went to the house of the king", "en"),
      ("t_de", "der schnelle braune fuchs und die faulen hunde sind nicht durch den wald gegangen", "de"),
      ("t_fr", "le renard brun et rapide est dans la maison que les enfants ont pour les vacances", "fr"),
      ("t_es", "el zorro marrón y el perro en la casa de los niños que están por la mañana", "es"),
      ("t_it", "la volpe marrone veloce che salta per il cane pigro della casa di campagna", "it"),
      ("t_pt", "a raposa marrom que pula sobre o cão preguiçoso da casa em que os meninos estão", "pt"),
      ("t_ca", "els nens que jugaven per la casa amb els seus amics de la ciutat van perdre la pilota", "ca"),
      ("t_cs", "vláda se na jednání dohodla že pro nové projekty připraví další peníze pro město", "cs"),
      ("t_da", "han sagde at der ikke var noget af det som de havde haft til aftensmaden i huset", "da"),
      ("t_fi", "talossa on suuri sauna ja siellä on myös paljon muita asioita joista kansalaiset nauttivat", "fi"),
      ("t_hr", "vlada je na sjednici odlučila da za nove projekte izdvoji još novca za sve koji rade", "hr"),
      ("t_hu", "az egyetem egy nagy épület és azt mondta hogy a minisztérium szerint az egyik legjobb", "hu"),
      ("t_id", "mereka akan pergi ke pasar dan membeli makanan yang enak untuk keluarga di rumah", "id"),
      ("t_nl", "het is een van de mooiste dagen van het jaar voor de mensen die er wonen in het land", "nl"),
      ("t_no", "det var ikke noe av det som de hadde gjort for å komme seg til byen og se på den", "no"),
      ("t_pl", "nie wiadomo czy przedstawiciele rządu przyjadą na spotkanie które się odbędzie w mieście", "pl"),
      ("t_ro", "în cursul acestei săptămâni consiliul de administrație are de gând să prezinte raportul către parlament", "ro"),
      ("t_sk", "vláda sa na rokovaní dohodla na tom ako pre nové projekty pripraví peniaze ktoré sú pre mesto", "sk"),
      ("t_sv", "det är inte lätt att förstå och att se som man gjorde förut i staden och i landet", "sv"),
      ("t_tr", "bir gün onlar da bizim gibi büyük bir karar verdiler ve şehirde yeni bir hayata başladılar", "tr"),
      ("t_und", "zzz qqq xxx 12345", "und"))
    val d = samples.map(s => (s._1, s._2)).toDF("doc_id", "text")
    val got = TextOps.langIdNgram(d).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for ((id, text, want) <- samples) {
      assert(got(id) == want, s"$id: got ${got(id)}, want $want")
      // kernel path == pure-Scala reference path
      assert(graft.core.LangId.classify(text) == want)
    }
    assert(graft.core.LangId.classify(null) == null)
  }

  test("winnowing fingerprints: identical docs match, shared substrings overlap, short texts empty") {
    import spark.implicits._
    val shared = "distributed spatial join engine"
    val d = Seq(
      ("w1", s"alpha beta gamma $shared delta epsilon"),
      ("w2", s"completely different preamble text $shared and a different tail"),
      ("w3", s"alpha beta gamma $shared delta epsilon"),
      ("w4", "zq"), // shorter than k -> empty fingerprint set
      ("w5", "unrelated content with nothing in common whatsoever here"))
      .toDF("doc_id", "text")
    val got = TextOps.winnow(d).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    assert(got("w1") == got("w3"), "identical docs must fingerprint identically")
    assert(got("w4").isEmpty)
    // winnowing guarantee: a shared substring of length >= w + k - 1 = 8
    // yields at least one shared fingerprint
    assert(got("w1").intersect(got("w2")).nonEmpty, "shared substring missed")
    assert(got("w1").intersect(got("w5")).size < got("w1").size,
      "unrelated doc shares everything?")
  }

  test("PPM decode: parses real P6 bytes, rejects malformed, matches hand computation") {
    import graft.engine.Media
    // hand-built 2x1 image: pixels (10,20,30) and (250,0,100), comment in header
    val raster = Array[Byte](10, 20, 30, 250.toByte, 0, 100)
    val good = ("P6\n# c\n 2\t1\n255\n".getBytes("US-ASCII") ++ raster)
    val (w, h, nf, f) = Media.decodePpm(good)
    assert((w, h, nf) == (2, 1, 1))
    assert(f(0) == ((10 + 250) / 2.0).toFloat && f(1) == 10.0f && f(2) == 65.0f)
    // w2 = 1, h2 = 0 -> TL/TR quadrants empty (height 1): bottom row gets all
    assert(f(3) == 0.0f && f(4) == 0.0f)
    assert(f(5) == (60.0 / 3.0 / 1).toFloat && f(6) == (350.0 / 3.0 / 1).toFloat)
    assert(f(7) == 2.0f)
    // malformed: bad magic, short raster, maxval != 255
    assert(Media.decodePpm("P5\n2 1\n255\n??????".getBytes) == null)
    assert(Media.decodePpm("P6\n2 1\n255\n??".getBytes) == null)
    assert(Media.decodePpm(("P6\n2 1\n254\n".getBytes("US-ASCII") ++ raster)) == null)
    // render -> decode round trip is total over arbitrary refs
    for (ref <- Seq("img://a", "x", "media-ref-with-a-much-longer-name/42.jpg")) {
      val d = Media.decodePpm(Media.renderPpm(ref))
      assert(d != null && d._1 >= 8 && d._1 <= 23 && d._2 >= 8 && d._2 <= 23)
    }
  }

  test("media feature extraction: schema, determinism, batch shape") {
    val docs = Corpus.documentsDf(spark, 300, partitions = 3)
    val f1 = Media.extractFeatures(spark, docs).orderBy("doc_id", "media_ref").collect()
    val f2 = Media.extractFeatures(spark, docs.repartition(7)).orderBy("doc_id", "media_ref").collect()
    assert(f1.length == f2.length && f1.length > 0)
    assert(f1.zip(f2).forall { case (a, b) => a == b }) // partitioning-invariant
    val r = f1(0)
    assert(r.getInt(2) >= 64 && r.getInt(3) >= 64 && r.getInt(4) >= 1)
    assert(r.getAs[scala.collection.Seq[Float]]("feature").length == 8)
  }
}
