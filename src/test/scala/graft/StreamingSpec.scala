package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Corpus, SpatialJoin, Ticks, Tiler}
import graft.streaming.Streams

/** Streaming layer: batch parquet drives streaming queries synchronously via
  * the memory sink + processAllAvailable; streaming results must equal the
  * batch operators on the same data. */
class StreamingSpec extends AnyFunSuite {

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

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-stream")
    // forked test JVMs leak these otherwise (157 dirs observed in /tmp)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
      catch { case _: Throwable => () }))
    d.toString
  }

  /** events.parquet is a single file; file-stream sources need a directory. */
  private lazy val eventsDir: String = {
    val d = tmp()
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(d)
    d
  }

  test("streaming tile assignment equals the batch path") {
    val dir = tmp()
    val docs = Corpus.documentsDf(spark, 300, partitions = 3)
    docs.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema

    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = Tiler.assign(SpatialJoin.extractPoints(stream), 7)
      .select("doc_id", "offset", "tile_id")
      .writeStream.format("memory").queryName("tiles_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    // the streaming plan keeps extractPoints' Generate barrier: one parse
    // per span, not one in the null filter and another in the projection
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan.toString
    val n = "parsePoint".r.findAllIn(plan).size
    assert(n == 1, s"expected 1 parsePoint eval in the streaming plan, found $n:\n$plan")

    val got = spark.sql("SELECT * FROM tiles_out").collect().map(_.toString).sorted
    val want = Tiler.assign(SpatialJoin.extractPoints(spark.read.parquet(dir)), 7)
      .select("doc_id", "offset", "tile_id").collect().map(_.toString).sorted
    assert(got.length > 0 && got.sameElements(want))
  }

  test("incremental pyramid stream equals the batch pyramid on the unioned corpus") {
    val dir = tmp()
    val work = tmp()
    val docs = Corpus.documentsDf(spark, 300, partitions = 3)
    docs.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    // maxFilesPerTrigger=1 over 3 part files -> 3 ingest ticks: later ticks
    // must MERGE into the committed base, not recompute from scratch
    val q = Streams.pyramidStream(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir),
      work, minZoom = 4, maxZoom = 7, checkpoint = s"$work/ckpt")
    q.awaitTermination()
    val got = spark.read.parquet(s"$work/pyramid")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = graft.engine.Tiler.pyramid(
        SpatialJoin.extractPoints(spark.read.parquet(dir)), 4, 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got == want)
    // multiple deltas really were committed (one per tick)
    val deltaDirs = new java.io.File(s"$work/base_deltas").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(deltaDirs.size >= 2, s"expected >= 2 ingest ticks, saw $deltaDirs")
  }

  /** The `batch=<id>` directories of a pyramid work dir's tick store. */
  private def baseDeltaBatchDirs(work: String): Set[String] =
    new java.io.File(s"$work/base_deltas").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet

  test("pyramid ticks fold into one base generation; replays and stray generations stay invisible") {
    val work = tmp()
    val docs = Corpus.documentsDf(spark, 350, partitions = 2)
    val part = Array.tabulate(7)(i => docs.where(pmod(crc32(col("doc_id")), lit(7)) === i))
    def pyramid: Set[(Long, Int, Long)] = spark.read.parquet(s"$work/pyramid")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    def batchPyramid(in: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      Tiler.pyramid(SpatialJoin.extractPoints(in), 4, 7)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    def sumBase(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("tile_id")).agg(sum(col("n_points")).as("n_points"))
    for (i <- 0 until 6) Streams.pyramidTick(spark, part(i), work, 4, 7, batchId = i.toLong)
    val firstSix = batchPyramid(docs.where(pmod(crc32(col("doc_id")), lit(7)) =!= 6))
    assert(pyramid.nonEmpty && pyramid == firstSix)
    assert(baseDeltaBatchDirs(work) == (0 until 6).map(i => s"batch=$i").toSet)
    // fold mid-stream: one committed generation replaces the six ticks
    val root = s"$work/base_deltas"
    Ticks.fold(spark, root, 6L)(sumBase)
    val dirs = baseDeltaBatchDirs(work)
    assert(dirs.size == 1 && dirs.head.matches("batch=-[0-9]+"),
      s"expected exactly one batch=-g directory, saw $dirs")
    val g = dirs.head.stripPrefix("batch=-").toLong
    // replay of an already-folded batch: its tick lands below the watermark,
    // so the pyramid rebuilt from the folded base does not count it again
    Streams.pyramidTick(spark, part(2), work, 4, 7, batchId = 2L)
    assert(pyramid == firstSix, "replaying a folded batch changed the pyramid")
    // a fold that crashed before its log commit leaves an uncommitted
    // generation holding real rows: the next tick must not add it to the
    // base, and the next fold sweeps it with the replayed tick
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$root/batch=-$g"), new java.io.File(s"$root/batch=-${g + 1}"))
    Streams.pyramidTick(spark, part(6), work, 4, 7, batchId = 6L)
    assert(pyramid == batchPyramid(docs), "a stray generation changed the pyramid")
    Ticks.fold(spark, root, 7L)(sumBase)
    assert(baseDeltaBatchDirs(work) == Set(s"batch=-${g + 1}"))
    val folded = Ticks.live(spark, root).get.select("tile_id", "n_points")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(folded == Tiler.raster(SpatialJoin.extractPoints(docs), 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // a first tick with no points leaves nothing live: the pyramid is empty
    val empty = tmp()
    Streams.pyramidTick(spark, docs.where(lit(false)), empty, 4, 7, batchId = 0L)
    assert(spark.read.parquet(s"$empty/pyramid").count() == 0)
  }

  test("pyramid tick is idempotent per batchId (crash-replay never double-counts)") {
    val work = tmp()
    val docs = Corpus.documentsDf(spark, 200, partitions = 2)
    val b0 = docs.where(crc32(col("doc_id")) % 2 === 0)
    val b1 = docs.where(crc32(col("doc_id")) % 2 =!= 0)
    Streams.pyramidTick(spark, b0, work, 4, 7, batchId = 0L)
    Streams.pyramidTick(spark, b1, work, 4, 7, batchId = 1L)
    val once = spark.read.parquet(s"$work/pyramid")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // a crash between the sink commit and the source-offset commit makes
    // Structured Streaming REPLAY the batch: the batchId-keyed overwrite
    // must absorb it, not add the rows a second time
    Streams.pyramidTick(spark, b1, work, 4, 7, batchId = 1L)
    val replayed = spark.read.parquet(s"$work/pyramid")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(replayed == once, "replaying a batch changed the pyramid")
    val want = graft.engine.Tiler.pyramid(SpatialJoin.extractPoints(docs), 4, 7)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(replayed == want)
  }

  test("pyramid tick parses each span once in its base-delta write") {
    val work = tmp()
    val docs = Corpus.documentsDf(spark, 200, partitions = 2)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      // the adaptive plan's final physical plan (its string also repeats
      // the initial plan)
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add((qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }).toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // the write into the tick (the pyramid build's scan of it also names it)
    val delta = s"InsertIntoHadoopFsRelationCommand file:$work/base_deltas/batch=0,"
    def deltaPlans = plans.toArray(Array.empty[String]).toSeq.filter(_.contains(delta))
    try {
      Streams.pyramidTick(spark, docs, work, 4, 7, batchId = 0L)
      // listener events arrive on the listener bus, after the action returns
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (deltaPlans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(deltaPlans.size == 1, s"expected the delta write's plan once, saw ${deltaPlans.size}")
    val n = "parsePoint".r.findAllIn(deltaPlans.head).size
    assert(n == 1, s"expected 1 parsePoint eval in the delta write, found $n:\n${deltaPlans.head}")
  }

  test("stream-static spatial join equals batch join") {
    val dir = tmp()
    Corpus.documentsDf(spark, 300, partitions = 3).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val polys = Corpus.polygons(spark).toDF()
    val index = SpatialJoin.buildIndex(polys)

    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = SpatialJoin.joinWithIndex(SpatialJoin.extractPoints(stream), index)
      .select("doc_id", "offset", "poly_id")
      .writeStream.format("memory").queryName("sj_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val got = spark.sql("SELECT * FROM sj_out").collect().map(_.toString).sorted
    val want = SpatialJoin.join(SpatialJoin.extractPoints(spark.read.parquet(dir)), polys)
      .select("doc_id", "offset", "poly_id").collect().map(_.toString).sorted
    assert(got.length > 0 && got.sameElements(want))
  }

  test("streaming exact dedup keeps one row per content hash (vs batch distinct)") {
    import spark.implicits._
    val dir = tmp()
    // timestamped docs with planted duplicates inside the watermark window
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    (0 until 200).map { i =>
      val text = s"content number ${i % 80}" // 80 distinct texts, 200 rows
      (s"d$i", text, new java.sql.Timestamp(base.getTime + i * 1000L))
    }.toDF("doc_id", "text", "ts").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = Streams.dedupStream(stream)
      .select("content_hash")
      .writeStream.format("memory").queryName("dd_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT content_hash FROM dd_out").collect()
      .map(_.getString(0)).sorted
    val want = spark.read.parquet(dir).select(md5(col("text"))).distinct()
      .collect().map(_.getString(0)).sorted
    assert(got.length == 80 && got.sameElements(want))
  }

  test("watermarked windowed counts complete over a bounded stream") {
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    val q = Streams.windowedCounts(stream)
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    // append mode only emits windows below the final watermark; totals over
    // emitted windows must match the batch aggregation on the same windows
    val got = spark.sql("SELECT sum(n) FROM win_out").collect()(0).getLong(0)
    assert(got > 0)
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(window(col("ts").cast("timestamp"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val emitted = spark.sql("SELECT window, event_type, n FROM win_out")
      .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    val full = batch.collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    assert(emitted.forall { case (k, v) => full.get(k).contains(v) },
      "emitted window counts disagree with batch")
  }

  test("streaming geofence equals batch transitions incl. cross-batch flips") {
    import spark.implicits._
    val dir = tmp()
    val fences = Seq((40.7128, -74.0060), (51.5074, -0.1278))
    // 30 tracks oscillating near fence 0; split files by offset so flips
    // straddle the batch boundary (offset 20 -> 30 crosses it)
    val rng = new java.util.Random(3)
    val rows = (0 until 30).flatMap { t =>
      (0 until 6).map { i =>
        val in = rng.nextBoolean()
        val (la, lo) = if (in) (40.7128 + rng.nextGaussian() * 0.05,
          -74.0060 + rng.nextGaussian() * 0.05)
        else (10.0 + rng.nextGaussian(), 10.0 + rng.nextGaussian())
        (f"t$t%02d", i * 10, la, lo)
      }
    }
    val df = rows.toDF("doc_id", "offset", "lat", "lon")
    df.where(col("offset") < 30).coalesce(1).write.parquet(s"$dir/src")
    val f0 = new java.io.File(s"$dir/src").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(f0.setLastModified(System.currentTimeMillis() - 600000L))
    val late = new java.io.File(s"$dir/late")
    df.where(col("offset") >= 30).coalesce(1).write.parquet(late.getPath)
    val part = late.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      new java.io.File(s"$dir/src/late.parquet").toPath)
    val schema = spark.read.parquet(s"$dir/src").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/src")
    val q = Streams.geofenceStream(spark, stream, fences, 25000.0)
      .writeStream.format("memory").queryName("gf_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT doc_id, offset, transition FROM gf_out")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val want = graft.engine.Track.geofenceTransitions(df, fences, 25000.0)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(4))).toSet
    val cross = want.filter { case (_, off, _) => off == 30 }
    assert(cross.nonEmpty, "fixture has no cross-batch flip — weaken the rng")
    assert(got == want)
  }

  test("drain reads a stream with no rows back as an empty frame with its columns") {
    import spark.implicits._
    val dir = tmp()
    Seq.empty[(String, Int)].toDF("doc_id", "offset").coalesce(1).write.parquet(s"$dir/zero")
    val schema = spark.read.parquet(s"$dir/zero").schema
    assert(new java.io.File(s"$dir/none").mkdir())
    // a zero-row file runs one empty micro-batch, which still writes one
    // empty part file; an empty source runs none, so its sink holds no data
    // file and a bare spark.read.parquet of it throws on schema inference
    // (the r05 advisory, once handled for q100 alone)
    for (src <- Seq("zero", "none")) {
      val got = SparkEntry.drain(spark.readStream.schema(schema).parquet(s"$dir/$src"),
        s"drain_$src", dir)
      assert(got.count() == 0L, src)
      assert(got.columns.toSeq == Seq("doc_id", "offset"), src)
    }
  }

  test("stateful sessionization matches the batch window computation") {
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    val q = Streams.sessionize(spark, stream)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql(
      "SELECT user_id, max(sessions) AS s, max(events) AS e FROM sess_out GROUP BY user_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = SparkEntry.queries("q18_sessionize")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
  }
}
