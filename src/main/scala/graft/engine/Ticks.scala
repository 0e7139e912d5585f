package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog

/** The tick store behind every incrementally maintained artifact (the tile
  * pyramid's base histogram, the tick-built IVF index): micro-batch ticks
  * land as `root/batch=<id>` directories, and a fold merges them into one
  * generation `root/batch=-<gen>`. Each fold commits one batch of Spark's
  * `HDFSMetadataLog` under `root/_graft_log`: the batch id is the live
  * generation, the entry the WATERMARK `upTo` — every tick id < upTo is
  * folded into it and is DEAD as a directory. That log entry is the single
  * commit point, so a fold is crash-safe without a transactional store: a
  * crash before it leaves the old live set named (the half-written
  * generation is invisible garbage), a crash after it leaves superseded
  * dirs that [[live]] ignores; the next fold sweeps both. */
private[graft] object Ticks {

  private final case class Fold(upTo: Long)

  /** (gen, upTo) of the latest committed fold; (0, 0) before any. */
  private def committed(spark: SparkSession, root: String): (Long, Long) =
    Checkpoint.latest[Fold](spark, root).fold((0L, 0L)) { case (gen, f) => (gen, f.upTo) }

  private def batchDirs(fs: FileSystem, root: String): Seq[(Long, Path)] =
    if (!fs.exists(new Path(root))) Nil
    else fs.listStatus(new Path(root)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .flatMap { st =>
        st.getPath.getName.stripPrefix("batch=").toLongOption.map(id => (id, st.getPath))
      }

  /** Commit `df` as tick `batchId` by overwriting `root/batch=<id>`
    * (further partitioned by `partitionCols`) — a replayed batch rewrites
    * its own files instead of appending duplicates: exactly-once without a
    * transactional sink. */
  def append(df: DataFrame, root: String, batchId: Long, partitionCols: String*): Unit =
    df.write.partitionBy(partitionCols: _*).mode("overwrite").parquet(s"$root/batch=$batchId")

  /** The LIVE rows under `root` — the committed generation plus every tick
    * at or above the watermark — or None while nothing is live. Stale
    * generations and ticks REPLAYED below the watermark (which a naive
    * read would double-count) are invisible. basePath keeps the partition
    * columns, so partition pruning works as on an unfolded store. */
  def live(spark: SparkSession, root: String): Option[DataFrame] = {
    val (gen, upTo) = committed(spark, root)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = batchDirs(fs, root).collect {
      case (id, p) if (gen > 0 && id == -gen) || id >= upTo => p.toString
    }
    if (dirs.isEmpty) None else Some(spark.read.option("basePath", root).parquet(dirs: _*))
  }

  /** Fold the generation plus every tick in [watermark, upToBatch) into the
    * next generation — `rows` rewrites their live rows (an aggregate merge,
    * or the identity for a plain small-file compaction) — commit it with
    * watermark `upToBatch`, and delete the folded dirs. Stale dirs are
    * swept first; with no tick in range nothing else happens. `upToBatch`
    * must not exceed the source's highest COMMITTED batch id + 1, so a
    * folded batch never legitimately replays; if one does, the watermark
    * hides it. Ticks >= upToBatch may be appended concurrently. */
  def fold(spark: SparkSession, root: String, upToBatch: Long,
           partitionCols: String*)(rows: DataFrame => DataFrame): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (gen, oldUpTo) = committed(spark, root)
    val (stale, dirs) = batchDirs(fs, root).partition { case (id, _) =>
      (id < 0 && id != -gen) || (id >= 0 && id < oldUpTo)
    }
    stale.foreach { case (_, p) => fs.delete(p, true) }
    val ticks = dirs.collect { case (id, p) if id >= oldUpTo && id < upToBatch => p }
    if (ticks.isEmpty) return
    val src = dirs.collect { case (id, p) if gen > 0 && id == -gen => p } ++ ticks
    append(rows(spark.read.option("basePath", root).parquet(src.map(_.toString): _*)
      .drop("batch")), root, -(gen + 1), partitionCols: _*)
    // the commit point: readers switch generation and watermark in one log
    // entry; a concurrent fold that committed gen + 1 first fails this add
    val log = new HDFSMetadataLog[Fold](spark, s"$root/_graft_log")
    require(log.add(gen + 1, Fold(upToBatch)),
      s"fold generation ${gen + 1} under $root was committed concurrently")
    log.purge(gen + 1)
    src.foreach(p => fs.delete(p, true))
  }
}
