package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Round checkpointer for [[Dedup.connectedComponents]]' distributed rounds,
  * the one engine operator whose lineage grows with its input (one join
  * chain per round) and whose round state is the size of the node set, so it
  * can neither stay lazy nor live on the driver. Each round is RELIABLY
  * checkpointed — written to the checkpoint dir, readable after executor
  * loss — never localCheckpoint'ed (which stores blocks on executors and
  * truncates lineage, so one lost executor after round r kills the job with
  * no way to recompute).
  *
  * Contract: on a CLUSTER the caller must configure a SHARED checkpoint dir
  * (spark.checkpoint.dir on HDFS/object storage) — a node-local path would
  * strand partitions on the writer. [[ensureCheckpointDir]] fails fast on a
  * non-local master without one, and auto-provisions a process-private tmp
  * dir for local[*] masters, where one filesystem serves all "executors",
  * first sweeping the dirs of dead JVMs ([[Scratch.sweepDead]]). One JVM
  * shutdown hook runs [[shutdown]]. */
private[engine] object Durable {

  private val openRounds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Rounds]()
  // the dir ensureCheckpointDir provisioned in this JVM, if any
  @volatile private var provisioned: Option[java.io.File] = None

  java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() => shutdown()))

  def ensureCheckpointDir(spark: SparkSession): Unit = {
    if (spark.sparkContext.getCheckpointDir.nonEmpty) return
    require(spark.sparkContext.master.startsWith("local"),
      "iterative operators on a cluster need spark.checkpoint.dir on SHARED " +
        "storage (a node-local default would strand checkpoint partitions)")
    val tmpRoot = new java.io.File(sys.props("java.io.tmpdir"))
    Scratch.sweepDead(tmpRoot, "graft_ckpt")
    val dir = new java.io.File(tmpRoot, "graft_ckpt_" + java.lang.ProcessHandle.current().pid())
    spark.sparkContext.setCheckpointDir(dir.getPath)
    provisioned = Some(dir)
  }

  /** The shutdown hook's body: close every open [[Rounds]], THEN delete the
    * provisioned dir. Spark never deletes reliable checkpoint files on its
    * own (cleanCheckpoints defaults to false), and the provisioned dir's
    * contents mean nothing outside this JVM. The two steps run in order:
    * JVM hooks run concurrently, and a tree walk whose files another hook
    * deletes under it throws. A failed delete is printed to stderr. */
  def shutdown(): Unit = {
    openRounds.forEach(_.close())
    provisioned.foreach(Scratch.delete)
  }

  /** Per-call ROUND checkpointer, adding the cleanup discipline RDD
    * checkpoints lack (a long-lived session running many iterative calls
    * would otherwise accumulate every round of every call): [[commit]]
    * writes a round and captures its checkpoint DIRECTORY from the returned
    * plan's LogicalRDD, so [[dropPrevious]] can delete the superseded round
    * as soon as the caller has committed the next one. At most TWO rounds
    * are ever on disk per call; the FINAL round's files back the returned
    * lazy DataFrame, so they live until [[close]] removes them at JVM exit
    * (or the caller, having materialized the result, closes earlier). */
  final class Rounds(spark: SparkSession) {
    ensureCheckpointDir(spark)
    private val fs = new org.apache.hadoop.fs.Path(
      spark.sparkContext.getCheckpointDir.get)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    private var prevFile: Option[String] = None
    private var curFile: Option[String] = None
    openRounds.add(this)

    private def delete(p: Option[String]): Unit = p.foreach { path =>
      try fs.delete(new org.apache.hadoop.fs.Path(path), true)
      catch { case e: java.io.IOException =>
        System.err.println(s"graft: could not delete checkpoint $path: $e") }
    }

    /** Checkpoint `df` as this call's next round and track its file set.
      * persist-then-checkpoint: the eager checkpoint job fills the cache
      * while writing, so the plan is computed ONCE (a bare checkpoint(true)
      * would recompute it for the write); re-reads within the round then
      * cost nothing, which beats a parquet write/read cycle ~2x per round at
      * small scale. */
    def commit(df: DataFrame): DataFrame = {
      val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
      val out = cached.checkpoint(true)
      cached.unpersist()
      val file = out.queryExecution.analyzed match {
        case l: LogicalRDD if l.rdd.getCheckpointFile.nonEmpty => l.rdd.getCheckpointFile
        case p => throw new IllegalStateException(
          s"checkpoint left no checkpoint file to track: ${p.nodeName}")
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
