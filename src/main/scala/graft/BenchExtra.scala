package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round side harness (Bench.scala is FROZEN for measurement;
  * this main exists so guide-§1 methodology — noop-sink isolation, labelled
  * jobs, formatted plans — never touches the driver's bench).
  *
  * Usage:
  *   sbt "runMain graft.BenchExtra plans <outDir> [q1 q2 ...]"
  *     writes .explain("formatted") for the named queries (default: all
  *     headline queries) to <outDir>/<name>.txt
  *   sbt "runMain graft.BenchExtra time <n> [q1 q2 ...]"
  *     times each named query n times through the NOOP sink (computes every
  *     column of every row, discards the output — guide §1.4) and prints
  *     min/median per query as one JSON line.
  *   sbt "runMain graft.BenchExtra timecount <n> [q1 q2 ...]"
  *     same as `time`, but each run is fn().count() — the exact action the
  *     frozen Bench times, for A/B runs that must match its plan shape
  *     (Catalyst may prune columns under .count() that the noop sink keeps).
  *
  * Env contract matches Bench: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS. */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("time")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "524288")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expr.GraftFunctions.register(spark)
    // warm exactly like Bench: JIT/codegen + materialize the stored corpus
    SparkEntry.entry(spark).count()
    graft.engine.Corpus.ensure(spark, SparkEntry.corpusDocs(sfDir))

    mode match {
      case "plans" =>
        val outDir = args(1)
        val names = if (args.length > 2) args.drop(2).toSeq else Bench.HeadlineQueries
        new java.io.File(outDir).mkdirs()
        names.foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val w = new java.io.PrintWriter(s"$outDir/$name.txt")
          try w.write(txt) finally w.close()
          System.err.println(s"[plans] wrote $outDir/$name.txt")
        }
      case "time" | "timecount" =>
        // "time" = noop sink (computes every column, guide §1.4);
        // "timecount" = fn().count(), the EXACT action the frozen Bench
        // times — for A/B runs that must match the driver's shape.
        val n = args.lift(1).map(_.toInt).getOrElse(3)
        val names = if (args.length > 2) args.drop(2).toSeq else Bench.HeadlineQueries
        val results = names.map { name =>
          val fn = SparkEntry.queries(name)
          val times = (1 to n).map { i =>
            spark.sparkContext.setJobDescription(s"$name run $i")
            val t0 = System.nanoTime()
            if (mode == "timecount") fn(spark, sfDir).count()
            else fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val dt = (System.nanoTime() - t0) / 1e9
            spark.sparkContext.setJobDescription(null)
            dt
          }.sorted
          (name, times.min, times(times.length / 2))
        }
        val qs = results
          .map { case (k, mn, md) => f""""$k":{"min":$mn%.3f,"median":$md%.3f}""" }
          .mkString("{", ",", "}")
        val la = java.lang.management.ManagementFactory.getOperatingSystemMXBean
          .getSystemLoadAverage
        val metric = if (mode == "timecount") "count_per_query" else "noop_per_query"
        println(s"""{"metric":"$metric","n":$n,"loadavg":$la,"queries":$qs,"sf":"$sfDir"}""")
      case other =>
        System.err.println(s"unknown mode $other (plans|time|timecount)")
        sys.exit(2)
    }
    spark.stop()
  }
}
