package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** What connected components' distributed rounds leave in the checkpoint
  * dir, the shutdown hook's cleanup of the auto-provisioned dir, and the
  * sweep of dirs whose JVM is gone. */
class DurableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def rddEntries(): Set[String] = spark.sparkContext.getCheckpointDir.toSeq.flatMap { d =>
    val p = new org.apache.hadoop.fs.Path(d)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith("rdd-")).toSeq
    else Nil
  }.toSet

  test("distributed connected components leave one round on disk: the final one") {
    import spark.implicits._
    // a 64-node chain needs several rounds; cap 0 forces the distributed regime
    val nodes = (0L until 64L).toDF("doc_id")
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = rddEntries()
    val got = Dedup.connectedComponents(nodes, pairs, maxIter = 30, validateNodes = true,
      driverEdgeCap = 0L)
    val added = rddEntries() -- before
    assert(added.size == 1, s"rounds left on disk: ${added.toSeq.sorted.mkString(", ")}")
    // that round backs the returned frame
    val rows = got.collect()
    assert(rows.length == 64 && rows.forall(_.getLong(1) == 0L))
  }

  test("the sweep deletes a dead JVM's checkpoint dir and keeps a live or foreign one") {
    val root = new java.io.File(graft.TestTmp.dir("graft-sweep"))
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    val dead = new java.io.File(root, s"graft_ckpt_${child.pid()}")
    val live = new java.io.File(root, s"graft_ckpt_${ProcessHandle.current().pid()}")
    val foreign = new java.io.File(root, s"graft_other_${child.pid()}")
    Seq(dead, live, foreign).foreach(d => assert(new java.io.File(d, "rdd-0").mkdirs()))
    Scratch.sweepDead(root, "graft_ckpt")
    assert(!dead.exists(), s"$dead survived the sweep")
    assert(live.isDirectory && foreign.isDirectory)
  }

  test("shutdown closes the open Rounds, then deletes the provisioned dir") {
    import spark.implicits._
    val rounds = new Durable.Rounds(spark)
    rounds.commit(Seq(1L, 2L, 3L).toDF("id"))
    val provisioned = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_ckpt_" + java.lang.ProcessHandle.current().pid())
    val ckpt = new java.io.File(new java.net.URI(spark.sparkContext.getCheckpointDir.get))
    assert(ckpt.getParentFile.getCanonicalFile == provisioned.getCanonicalFile,
      s"checkpoint dir $ckpt is not the provisioned one")
    assert(provisioned.isDirectory)
    Durable.shutdown()
    assert(!provisioned.exists(), s"$provisioned survived shutdown")
    // the session's checkpoint dir still points under it: a later round
    // recreates the path
    val later = new Durable.Rounds(spark)
    assert(later.commit(Seq(4L).toDF("id")).count() == 1L)
    later.close()
  }
}
