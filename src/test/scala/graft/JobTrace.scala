package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Which Spark jobs a block of driver code starts. */
object JobTrace {

  /** The stage names of every job `body` starts, one `;`-joined string per
    * job in start order. A SparkListener records each job start with its
    * job group, and `body` runs under a group of its own (AQE copies the
    * caller's local properties to its stage threads, so their jobs carry it
    * too). The listener bus delivers events in order, so once a marker
    * job's start arrives every job `body` ran has been seen. */
  def jobs(spark: SparkSession)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""), e.stageInfos.map(_.name).mkString(";")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("traced", "body under test")
      body
      sc.setJobGroup("marker", "listener flush")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(_._1 == "marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      if (!seen.asScala.exists(_._1 == "marker"))
        throw new IllegalStateException("marker job never reached the listener")
      seen.asScala.toSeq.filter(_._1 == "traced").map(_._2)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
