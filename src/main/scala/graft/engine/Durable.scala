package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reliable-checkpoint plumbing shared by the iterative operators whose
  * state is the size of the fact table (Dedup.connectedComponents,
  * Cluster.dbscan; Knn's query-sized round state stays on the driver
  * instead): per-round state is RELIABLY checkpointed — written to the checkpoint dir, readable after executor
  * loss — never localCheckpoint'ed (which stores blocks on executors and
  * truncates lineage, so one lost executor after round r kills the job with
  * no way to recompute).
  *
  * Contract: on a CLUSTER the caller must configure a SHARED checkpoint dir
  * (spark.checkpoint.dir on HDFS/object storage) — a node-local path would
  * strand partitions on the writer. [[ensureCheckpointDir]] fails fast on a
  * non-local master without one, and auto-provisions a process-private tmp
  * dir (removed at JVM exit) for local[*] masters, where one filesystem
  * serves all "executors". */
object Durable {

  // one shutdown hook per JVM for the auto-provisioned checkpoint dir
  private var cleanupRegistered = false

  def ensureCheckpointDir(spark: SparkSession): Unit = {
    if (spark.sparkContext.getCheckpointDir.nonEmpty) return
    require(spark.sparkContext.master.startsWith("local"),
      "iterative operators on a cluster need spark.checkpoint.dir on SHARED " +
        "storage (a node-local default would strand checkpoint partitions)")
    val ckpt = s"${sys.props("java.io.tmpdir")}/graft_ckpt_" +
      java.lang.ProcessHandle.current().pid()
    spark.sparkContext.setCheckpointDir(ckpt)
    // Spark never deletes reliable checkpoint files on its own
    // (cleanCheckpoints defaults to false); since WE provisioned a
    // process-private local dir, remove it when this JVM exits — its
    // contents are only meaningful within this JVM's lifetime anyway
    Durable.synchronized {
      if (!cleanupRegistered) {
        cleanupRegistered = true
        java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() => {
          try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
          catch { case _: Throwable => () }
        }))
      }
    }
  }

  /** persist-then-checkpoint: the eager checkpoint job populates the cache
    * while writing, so the plan is computed ONCE (a bare checkpoint(true)
    * would recompute the whole plan for the write). */
  def durable(df: DataFrame): DataFrame = {
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = cached.checkpoint(true)
    cached.unpersist()
    out
  }

  // one shutdown hook for ALL Rounds instances (a per-instance hook would
  // accumulate threads in a long-lived session — the leak being fixed)
  private val openRounds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Rounds]()
  private var roundsHookRegistered = false
  private def registerRounds(r: Rounds): Unit = {
    openRounds.add(r)
    Durable.synchronized {
      if (!roundsHookRegistered) {
        roundsHookRegistered = true
        java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() => {
          val it = openRounds.iterator()
          while (it.hasNext) it.next().close()
        }))
      }
    }
  }

  /** Per-call ROUND checkpointer for iterative operators, adding the cleanup
    * discipline RDD checkpoints lack (Spark never deletes reliable
    * checkpoint files — cleanCheckpoints defaults to false, so a long-lived
    * session running many iterative calls accumulates every round of every
    * call): [[commit]] is exactly [[durable]] (persist + eager reliable
    * checkpoint — the data also lands in the block-manager cache, so
    * re-reads within the round cost nothing, which is why this beats a
    * parquet write/read cycle ~2x per round at small scale), but the
    * checkpoint DIRECTORY of each round is captured from the returned
    * plan's LogicalRDD, so [[dropPrevious]] can delete the superseded
    * round as soon as the caller has committed the next one. At most TWO
    * rounds are ever on disk per call; the FINAL round's files back the
    * returned lazy DataFrame, so they live until [[close]] removes them at
    * JVM exit (or the caller, having materialized the result, closes
    * earlier). */
  final class Rounds(spark: SparkSession) {
    ensureCheckpointDir(spark)
    private val fs = new org.apache.hadoop.fs.Path(
      spark.sparkContext.getCheckpointDir.get)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    private var prevFile: Option[String] = None
    private var curFile: Option[String] = None
    registerRounds(this)

    private def delete(p: Option[String]): Unit = p.foreach { path =>
      try fs.delete(new org.apache.hadoop.fs.Path(path), true)
      catch { case _: Throwable => () }
    }

    /** Checkpoint `df` as this call's next round (reliable + cached) and
      * track its on-disk file set for later cleanup. */
    def commit(df: DataFrame): DataFrame = {
      val out = durable(df)
      val file = out.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.getCheckpointFile
        case _ => None // untracked: cleanup degrades to the pre-r5 behavior
      }
      prevFile = curFile
      curFile = file
      out
    }

    /** Delete the round BEFORE the latest one (call after the latest commit
      * and any comparison against the previous round has been computed). */
    def dropPrevious(): Unit = {
      delete(prevFile)
      prevFile = None
    }

    /** Remove every file this call still holds — only safe once the
      * returned DataFrame has been fully materialized (or abandoned). */
    def close(): Unit = {
      openRounds.remove(this)
      delete(prevFile)
      delete(curFile)
      prevFile = None
      curFile = None
    }
  }
}
