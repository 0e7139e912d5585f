package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog
import org.apache.spark.sql.functions._

/** Z-ordered data layout + file-level bbox pruning — the storage-side half
  * of spatial query performance at 100 TB.
  *
  * [[writeZOrdered]] range-partitions a point table by its Morton key
  * (st_zorder) and sorts within partitions, so each output file covers a
  * compact spatial extent; per-file lat/lon min/max are then computed in
  * one distributed pass over the written files and committed as the next
  * batch of Spark's `HDFSMetadataLog` under `dir/_graft_log` (the per-file
  * skipping metadata of Jigsaw, SIGMOD 2021). [[readBBox]] consults the
  * latest committed batch and hands Spark ONLY the files whose bbox
  * intersects the query box — pruning happens before task planning, exactly
  * like Iceberg metadata pruning, and composes with parquet row-group
  * min/max skipping inside the surviving files (the zkey sort makes the
  * per-row-group lat/lon ranges tight too).
  *
  * Scale shape: the write is one range shuffle (range boundaries from
  * Spark's reservoir sample of the zkey distribution — skewed hotspots just
  * get more files); the manifest pass is a file-count-sized aggregate; the
  * driver only ever materializes the manifest (one entry per file — ~10^5
  * for a 100 TB table at 1 GB files), never data, and reads it back with
  * no Spark job.
  */
object Layout {

  /** Write `pts` (must carry lat/lon) z-ordered into `dir/data` as
    * `numFiles` range-partitioned files, then commit the per-file
    * (file, min/max lat/lon) manifest to `dir/_graft_log`. `bits` is the
    * curve resolution per axis — 16 gives ~600 m cells at the equator, far
    * finer than any realistic file extent. `curve` picks the space-filling
    * curve: "morton" (st_zorder, default) or "hilbert" (st_hilbert — no Z
    * jumps, so file bboxes come out tighter and pruning skips more files;
    * the measured A/B lives in BASELINE.md). The key column is `zkey`
    * either way. */
  def writeZOrdered(pts: DataFrame, dir: String, bits: Int = 16,
                    numFiles: Int = 16, curve: String = "morton"): Unit = {
    val fn = curve match {
      case "morton" => "st_zorder"
      case "hilbert" => "st_hilbert"
      case other => throw new IllegalArgumentException(
        s"unknown curve '$other' (expected morton or hilbert)")
    }
    val spark = pts.sparkSession
    pts.withColumn("zkey", call_function(fn, col("lat"), col("lon"), lit(bits)))
      .repartitionByRange(numFiles, col("zkey"))
      .sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(s"$dir/data")
    // each file's box over its non-NaN coordinates (NaN sorts above every
    // double in Spark and the log's JSON cannot hold it; min/max skip
    // nulls); a file with none gets an empty box that no query hits. Exact:
    // a NaN or null coordinate never passes readBBox's residual filter
    def finite(c: String) = when(!isnan(col(c)), col(c))
    val entries = spark.read.parquet(s"$dir/data")
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(coalesce(min(finite("lat")), lit(Double.MaxValue)),
        coalesce(max(finite("lat")), lit(-Double.MaxValue)),
        coalesce(min(finite("lon")), lit(Double.MaxValue)),
        coalesce(max(finite("lon")), lit(-Double.MaxValue)))
      .collect()
      .map(r => Entry(r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    val log = new HDFSMetadataLog[LayoutFiles](spark, s"$dir/_graft_log")
    val next = log.getLatestBatchId().fold(0L)(_ + 1)
    require(log.add(next, LayoutFiles(entries)),
      s"another writer committed a layout under $dir concurrently")
    log.purge(next)
  }

  private final case class Entry(file: String, minLat: Double, maxLat: Double,
                                 minLon: Double, maxLon: Double)
  private final case class LayoutFiles(files: Seq[Entry])

  /** Load the latest committed manifest (a driver-side log read, no Spark
    * job — it is file-count-sized, the driver holds it by design, like
    * Iceberg's manifest list) and verify it describes EXACTLY the files on
    * disk: a crash between a data overwrite and its log commit would
    * otherwise leave a stale manifest silently pruning with wrong bboxes.
    * One directory listing per read; fails loudly on any mismatch. */
  private def loadManifest(spark: SparkSession, dir: String): Seq[Entry] = {
    // compare scheme-normalized paths (file:/ vs file:/// spellings differ
    // between _metadata.file_path and FileSystem.listStatus)
    def norm(p: String): String = new Path(p).toUri.getPath
    val path = new Path(s"$dir/data")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = path.getFileSystem(conf)
    val latest = Checkpoint.latest[LayoutFiles](spark, dir)
    require(latest.isDefined, s"no layout committed under $dir")
    val entries = latest.get._2.files
    val onDiskPaths = fs.listStatus(path).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
    val onDisk = onDiskPaths.map(p => norm(p.toString)).toSet
    val inManifest = entries.map(e => norm(e.file)).toSet
    // The manifest is derived from ROWS, so a ZERO-row part file (possible
    // when repartitionByRange lands an empty range partition on skewed or
    // duplicate zkeys) can exist on disk without a manifest entry. Such a
    // file is provably content-free, so it cannot affect any read —
    // tolerate it (verified by its parquet footer row count, a driver-local
    // metadata read that only happens in this rare mismatch case; the
    // common path costs nothing extra). A NON-empty unlisted file, or a
    // manifest entry with no file behind it, still fails loudly: that is
    // the interrupted-write crash window the check exists for (r05
    // advisory).
    val unlisted = onDiskPaths.filter(p => !inManifest.contains(norm(p.toString)))
    val unlistedNonEmpty = unlisted.filter { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount > 0L finally r.close()
    }
    require(unlistedNonEmpty.isEmpty && (inManifest -- onDisk).isEmpty,
      s"layout manifest out of sync with $dir/data (" +
        s"${unlistedNonEmpty.length} unlisted non-empty, " +
        s"${(inManifest -- onDisk).size} ghost " +
        s"files) — rewrite the layout (interrupted writeZOrdered?)")
    entries
  }

  /** Manifest entries whose file bbox intersects [south..north]x[west..east].
    * The box must not cross the antimeridian (east >= west). */
  private def hits(entries: Seq[Entry], south: Double, west: Double,
                   north: Double, east: Double): Seq[Entry] = {
    require(east >= west && north >= south,
      s"bbox must be south<=north, west<=east (no antimeridian wrap): " +
        s"[$south..$north]x[$west..$east]")
    entries.filter(e => e.minLat <= north && e.maxLat >= south &&
      e.minLon <= east && e.maxLon >= west)
  }

  /** (selected, total) file counts for a bbox — the pruning observability
    * hook (and the test gate that pruning actually skips files). */
  def pruneStats(spark: SparkSession, dir: String, south: Double, west: Double,
                 north: Double, east: Double): (Long, Long) = {
    val entries = loadManifest(spark, dir)
    (hits(entries, south, west, north, east).size.toLong, entries.size.toLong)
  }

  /** Read only the rows in the bbox, scanning only manifest-selected files.
    * The residual lat/lon filter still runs (file bboxes overlap the query
    * box without being contained), and is pushed into the parquet scan. */
  def readBBox(spark: SparkSession, dir: String, south: Double, west: Double,
               north: Double, east: Double): DataFrame = {
    val files = hits(loadManifest(spark, dir), south, west, north, east).map(_.file)
    val base =
      if (files.isEmpty) spark.read.parquet(s"$dir/data").where(lit(false))
      else spark.read.parquet(files.toIndexedSeq: _*)
    base.where(col("lat") >= south && col("lat") <= north &&
      col("lon") >= west && col("lon") <= east)
  }
}
