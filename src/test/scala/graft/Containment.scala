package graft

import org.apache.spark.sql.DataFrame

import graft.engine.SpatialJoin

/** Containment-only variants of the spatial join, the reference the specs
  * check [[SpatialJoin.containmentSplit]] against: docs that have >=1 point
  * in any polygon (left-semi) or in none (left-anti) — no row
  * multiplication. */
object Containment {
  def containedDocs(points: DataFrame, polys: DataFrame,
                    level: Int = SpatialJoin.DefaultLevel): DataFrame = {
    val hits = SpatialJoin.join(points, polys, level).select("doc_id").distinct()
    points.select("doc_id").distinct().join(hits, Seq("doc_id"), "left_semi")
  }

  def uncontainedDocs(points: DataFrame, polys: DataFrame,
                      level: Int = SpatialJoin.DefaultLevel): DataFrame = {
    val hits = SpatialJoin.join(points, polys, level).select("doc_id").distinct()
    points.select("doc_id").distinct().join(hits, Seq("doc_id"), "left_anti")
  }
}
