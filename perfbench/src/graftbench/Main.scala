package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark process. One client issues one action at a time
  * (closed loop) against `local[cores]`.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --cores <n> --work <dir> --data <sf dir> --pinned <query_counts.json>
  *
  * Prints `REPORT <json>` (the workload's own figures and host facts) and,
  * last, `RESULT <json>` with the metrics `BENCHMARK.json` declares.
  * Exits 1 when an output check fails. */
object Main {
  /** Timed set-ups per run, after one untimed set-up that pays JVM and
    * Spark start-up; `setup_s` is their median. */
  val SetupRepeats = 5
  /** Untimed warm-up before the timed set-ups and the measured window (at
    * least one round). On 4 cores the JIT keeps speeding the flagship pass up
    * for about 30 s. */
  val WarmSeconds = 18.0

  private def now = System.nanoTime()
  private def secs(t0: Long) = (now - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cores = arg("cores").toInt
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val seed = arg("seed").toLong
    val work = arg("work")
    val pinned = """"(q\w+)"\s*:\s*(\d+)""".r
      .findAllMatchIn(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(arg("pinned")))))
      .map(m => m.group(1) -> m.group(2).toLong).toMap

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "524288")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expr.GraftFunctions.register(spark)

    val wl = Workloads(arg("workload"), spark, seed, work, arg("data"), pinned)
    val (correct, attempted, failed, metrics, report) =
      if (traced) tracedRun(spark, wl, seconds, cores, arg("data")) else plainRun(spark, wl, seconds)
    val host = Seq(
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"), "max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString)
    println("REPORT " + Json.obj(Seq(
      "workload" -> Json.str(wl.name), "trace" -> traced.toString,
      "host" -> Json.obj(host.map { case (k, v) => k -> Json.str(v) }),
      "figures" -> Json.metrics(report))))
    println("RESULT " + Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.metrics(metrics))))
    spark.stop()
    System.exit(if (correct) 0 else 1)
  }

  private def warm(wl: Workload, log: OpLog): Unit = {
    val t0 = now
    var r = 0
    while (r == 0 || secs(t0) < WarmSeconds) { wl.round(-1 - r, log); r += 1 }
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used, on all its threads. */
  private def cpuSecs: Double = osBean.getProcessCpuTime / 1e9

  /** Rounds until `seconds` have passed (at least one): the wall seconds
    * and the process CPU seconds of each. */
  private def window(wl: Workload, log: OpLog, seconds: Double, first: Int): Seq[(Double, Double)] = {
    val t0 = now
    val rounds = ArrayBuffer.empty[(Double, Double)]
    while (rounds.isEmpty || secs(t0) < seconds) {
      val r0 = now
      val c0 = cpuSecs
      wl.round(first + rounds.length, log)
      rounds += ((secs(r0), cpuSecs - c0))
    }
    rounds.toSeq
  }

  /** High-water resident set of this process, MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  private def verdict(wl: Workload): Boolean = {
    val bad = wl.check()
    bad.foreach(b => System.err.println(s"[perfbench] MISMATCH $b"))
    bad.isEmpty
  }

  private def plainRun(spark: SparkSession, wl: Workload, seconds: Double) = {
    val prime = wl.setup(0)
    val warmLog = new OpLog(spark, traced = false)
    val w0 = now
    warm(wl, warmLog)
    val warmS = secs(w0)
    // after the warm-up, so the timed set-ups run on a warm JIT, and their
    // engine calls warm it further before the window
    val setups = (1 to SetupRepeats).map(wl.setup)
    val log = new OpLog(spark, traced = false)
    val timed = window(wl, log, seconds, 0)
    val rounds = timed.map(_._1)
    val c0 = now
    val ok = verdict(wl)
    val checkS = secs(c0)
    val attempted = warmLog.attempted + log.attempted
    val failed = warmLog.failed + log.failed
    val common = Seq(M("setup_s", Stats.median(setups), "s"), M("round_s", Stats.median(rounds), "s"))
    val report = common ++ wl.report(rounds, log) ++ Seq(
      M("round_cpu_s", Stats.median(timed.map(_._2)), "s"), M("peak_rss_mb", peakRssMb(), "MB"),
      M("fail_ratio", failed.toDouble / attempted, "ratio"), M("rounds", rounds.length, "count"),
      M("ops", log.ops.length, "count"), M("first_setup_s", prime, "s"), M("warm_s", warmS, "s"),
      M("window_s", rounds.sum, "s"), M("check_s", checkS, "s"))
    (ok, attempted, failed, common, report)
  }

  /** Traced run: after the same warm-up, pairs of one untraced and one
    * traced round run until `seconds` have passed (at least one pair); odd
    * pairs run the traced round first, so neither kind always follows the
    * other. Only traced rounds have the listener attached and their calls
    * labelled; the ratio of their median durations is the tracing overhead.
    * The layer probes follow. */
  private def tracedRun(spark: SparkSession, wl: Workload, seconds: Double, cores: Int, sfDir: String) = {
    wl.setup(1)
    val warmLog = new OpLog(spark, traced = false)
    warm(wl, warmLog)
    val plainLog = new OpLog(spark, traced = false)
    val log = new OpLog(spark, traced = true)
    val tl = new TraceListener
    val plain = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    def plainRound(): Unit = {
      val p0 = now
      wl.round(plain.length + traced.length, plainLog)
      plain += secs(p0)
    }
    def tracedRound(): Unit = {
      tl.attach(spark)
      val r0 = now
      wl.round(plain.length + traced.length, log)
      traced += secs(r0)
      tl.flush(spark)
      tl.detach(spark)
    }
    val t0 = now
    while (traced.isEmpty || secs(t0) < seconds) {
      if (traced.length % 2 == 0) { plainRound(); tracedRound() }
      else { tracedRound(); plainRound() }
    }
    val t = tl.total
    val n = traced.length.toDouble
    val sparkM = Seq(
      M("spark.jobs", t.jobs / n, "count"), M("spark.stages", t.stages / n, "count"),
      M("spark.tasks", t.tasks / n, "count"), M("spark.executor_cpu_s", t.cpuNs / 1e9 / n, "s"),
      M("spark.core_occupancy", t.runMs / 1000.0 / (traced.sum * cores), "ratio"),
      M("spark.shuffle_write_bytes", t.shuffleWriteBytes / n, "bytes"),
      M("spark.spill_bytes", t.spillBytes / n, "bytes"),
      M("spark.broadcast_bytes", tl.broadcastBytes / n, "bytes"),
      M("trace_overhead_ratio", Stats.median(traced.toSeq) / Stats.median(plain.toSeq), "ratio"))
    val probeLog = new OpLog(spark, traced = true)
    val probeBad = ArrayBuffer.empty[String]
    tl.attach(spark)
    val layers = Probes.all(spark, wl.seed, s"${wl.work}/probe", sfDir, tl, probeLog, probeBad ++= _)
    probeBad.foreach(b => System.err.println(s"[perfbench] MISMATCH $b"))
    val ok = verdict(wl) && probeBad.isEmpty
    val logs = Seq(warmLog, plainLog, log, probeLog)
    val report = Seq(M("trace_pairs", n, "count"), M("plain_round_s", Stats.median(plain.toSeq), "s"),
      M("traced_round_s", Stats.median(traced.toSeq), "s"))
    (ok, logs.map(_.attempted).sum, logs.map(_.failed).sum, sparkM ++ layers, report)
  }
}

/** Minimal JSON writer for the flat records this harness prints. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def metrics(ms: Seq[M]): String =
    obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))
}
