package graft.engine

import org.apache.spark.sql.DataFrame

/** Co-located joins via bucketed tables.
  *
  * Both sides are written `bucketBy(n, key).sortBy(key)` as saved tables;
  * Spark's scan then reports the bucket spec as a hash partitioning over
  * `key`, EnsureRequirements sees both children already satisfy the join's
  * distribution, and the sort-merge join plans with ZERO Exchange (and the
  * sortBy usually removes the per-side Sort too — PlanSpec gates the
  * exchange-free shape).
  *
  * At 100 TB this is THE pattern for a fact table that is joined repeatedly
  * on a stable key (cell id, doc id): pay the shuffle once at write time,
  * then every subsequent join on that key is map-side — the third
  * co-location tool next to broadcast (dimension-sized side) and salting
  * (skewed keys). Bucket count is fixed at write time: pick it for the
  * TARGET scale (files per bucket grow, bucket count does not).
  */
object Bucketing {

  /** Write `df` as a bucketed, bucket-sorted external table (data under
    * `path`, metadata in the session catalog) and return the table-backed
    * DataFrame whose scan carries the bucket spec. The identifier is
    * backtick-quoted (an unquoted interpolation would break on any
    * non-identifier character in a caller-supplied name). */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    key: String, nBuckets: Int): DataFrame = {
    require(!table.contains("`"), s"table name must not contain backticks: $table")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    df.write.format("parquet").option("path", path)
      .bucketBy(nBuckets, key).sortBy(key)
      .mode("overwrite").saveAsTable(s"`$table`")
    spark.table(s"`$table`")
  }

  /** Equi-join of two same-key, same-count bucketed tables: merge-hinted so
    * the co-located sort-merge path is used regardless of size estimates
    * (a broadcast would also be shuffle-free, but the point of bucketing is
    * the NO-broadcast, NO-shuffle join at fact x fact scale). */
  def bucketedJoin(a: DataFrame, b: DataFrame, key: String): DataFrame =
    a.hint("merge").join(b, Seq(key))
}
