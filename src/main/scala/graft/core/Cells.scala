package graft.core

import scala.collection.mutable

/** Hierarchical cell index + Web-Mercator tiling.
  *
  * The primary cell index is the geohash prefix hierarchy (reference-native,
  * built on Geohash encode/adjacent — SURVEY §2B.6); no H3/S2 jars exist in
  * this environment so the secondary index is a packed z-order Long id over
  * the same bisection, cheap to shuffle and join on. Tiles are standard
  * slippy-map Web-Mercator z/x/y (the raster side of raster<->vector).
  */
object Cells {

  final val MaxCoverCells = 8192

  // ---- geohash string cells -------------------------------------------

  def cell(lat: Double, lon: Double, level: Int): String =
    Geohash.encode(lat, lon, level)

  /** Packed z-order cell id: geohash bit path (5 bits/char, lon-first) in the
    * high bits + level in the low 6 bits. Total ordering groups children
    * under parents at the same level. Level 1..11. */
  def cellLong(lat: Double, lon: Double, level0: Int): Long = {
    val level = math.min(math.max(level0, 1), 11)
    var bits = 0L
    var nBits = 0
    var evenBit = true
    var latMin = -90.0; var latMax = 90.0
    var lonMin = -180.0; var lonMax = 180.0
    while (nBits < 5 * level) {
      if (evenBit) {
        val mid = (lonMin + lonMax) / 2
        if (lon >= mid) { bits = bits * 2 + 1; lonMin = mid } else { bits = bits * 2; lonMax = mid }
      } else {
        val mid = (latMin + latMax) / 2
        if (lat >= mid) { bits = bits * 2 + 1; latMin = mid } else { bits = bits * 2; latMax = mid }
      }
      evenBit = !evenBit
      nBits += 1
    }
    (bits << 6) | level.toLong
  }

  /** Geohash string -> packed long id (level = hash length, capped 11). */
  def cellToLong(hash: String): Long = {
    if (hash == null || hash.isEmpty) return -1L
    val level = math.min(hash.length, 11)
    var bits = 0L
    var i = 0
    while (i < level) {
      val idx = Geohash.Base32.indexOf(Character.toLowerCase(hash.charAt(i)))
      if (idx < 0) return -1L
      bits = (bits << 5) | idx.toLong
      i += 1
    }
    (bits << 6) | level.toLong
  }

  /** Parent cell (prefix) at a coarser level. */
  def cellParent(hash: String, level: Int): String =
    if (hash == null || level < 1 || level >= hash.length) hash
    else hash.substring(0, level)

  /** True iff the cell touches the north (dir = 'n') or south pole edge —
    * the lookup-table `adjacent` wraps lat like a torus there (geohash-js
    * behavior, reference-faithful), which is geometrically wrong for
    * neighborhoods, so disk walks must stop at these rows. */
  private def atPoleEdge(cell: String, dir: Char): Boolean = {
    val b = Geohash.bounds(cell)
    if (b == null) true
    else if (dir == 'n') b(2) >= 90.0
    else b(0) <= -90.0
  }

  /** All cells within Chebyshev ring-distance <= k of `cell` (the (2k+1)^2
    * disk), deduped; the k-ring primitive under kNN expansion.
    *
    * The grid is a cylinder: lon wraps (correct; the LinkedHashSet dedupes a
    * full wrap at coarse levels) but the lat walk CLAMPS at the poles —
    * `adjacent` itself wraps +90 -> -90 like the public table algorithm, so
    * the walk checks the pole edge explicitly. The truncated disk is exactly
    * "every existing cell within Chebyshev distance k", which is what the
    * kNN termination bound needs (no cells, hence no points, beyond the
    * pole). */
  def cellDisk(cell: String, k: Int): Array[String] = {
    if (cell == null || cell.isEmpty || k < 0) return null
    if (k == 0) return Array(cell)
    val out = mutable.LinkedHashSet.empty[String]
    // walk north up to k steps (clamped at the pole), then west k steps
    var corner = cell
    var northSteps = 0
    var atPole = atPoleEdge(corner, 'n')
    while (!atPole && northSteps < k) {
      val n = Geohash.adjacent(corner, 'n')
      if (n == null) atPole = true
      else { corner = n; northSteps += 1; atPole = atPoleEdge(corner, 'n') }
    }
    var i = 0
    while (i < k) {
      val w = Geohash.adjacent(corner, 'w')
      if (w == null) i = k else { corner = w; i += 1 }
    }
    var rowStart: String = corner
    var r = 0
    val nRows = northSteps + k + 1
    val side = 2 * k + 1
    while (r < nRows && rowStart != null) {
      var c = rowStart
      var j = 0
      while (j < side && c != null) {
        out += c
        c = Geohash.adjacent(c, 'e')
        j += 1
      }
      rowStart =
        if (atPoleEdge(rowStart, 's')) null
        else Geohash.adjacent(rowStart, 's')
      r += 1
    }
    out += cell
    out.toArray
  }

  /** Ring only (Chebyshev distance exactly k). */
  def cellRing(cell: String, k: Int): Array[String] = {
    if (k <= 0) return cellDisk(cell, 0)
    val inner = cellDisk(cell, k - 1)
    if (inner == null) return null
    val disk = cellDisk(cell, k)
    if (disk == null) return null
    val innerSet = inner.toSet
    disk.filterNot(innerSet)
  }

  /** Max cell dimension (deg) at a geohash level: used by kNN termination —
    * a neighbour ring at distance k is at least (k-1) * minCellDeg away. */
  def cellSizeDeg(level: Int): (Double, Double) = {
    // lat bits = floor(5*level/2), lon bits = ceil(5*level/2)
    val latBits = 5 * level / 2
    val lonBits = 5 * level - latBits
    (180.0 / (1L << latBits), 360.0 / (1L << lonBits))
  }

  /** Geohash cells covering the closed box [s,n] x [w,e]; null when more
    * than MaxCoverCells would be produced (pick a coarser level). */
  def coverBox(s: Double, w: Double, n: Double, e: Double, level: Int): Array[String] = {
    if (s > n || w > e) return null
    val out = mutable.ArrayBuffer.empty[String]
    var rowCell = Geohash.encode(s, w, level)
    var guard = 0
    var done = false
    while (!done && rowCell != null) {
      // walk east across the row
      var c = rowCell
      var rowDone = false
      while (!rowDone && c != null) {
        out += c
        guard += 1
        if (guard > MaxCoverCells) return null
        val b = Geohash.bounds(c)
        if (b(3) >= e) rowDone = true
        else c = Geohash.adjacent(c, 'e')
      }
      val rb = Geohash.bounds(rowCell)
      if (rb(2) >= n) done = true
      else rowCell = Geohash.adjacent(rowCell, 'n')
    }
    out.toArray
  }

  /** Segment-box intersection helper (box: latMin..latMax x lonMin..lonMax). */
  private def segmentIntersectsBox(y1: Double, x1: Double, y2: Double, x2: Double,
                                   latMin: Double, lonMin: Double,
                                   latMax: Double, lonMax: Double): Boolean = {
    // quick accept: either endpoint inside
    if (y1 >= latMin && y1 <= latMax && x1 >= lonMin && x1 <= lonMax) return true
    if (y2 >= latMin && y2 <= latMax && x2 >= lonMin && x2 <= lonMax) return true
    // Liang-Barsky clip
    val dx = x2 - x1; val dy = y2 - y1
    var t0 = 0.0; var t1 = 1.0
    val p = Array(-dx, dx, -dy, dy)
    val q = Array(x1 - lonMin, lonMax - x1, y1 - latMin, latMax - y1)
    var i = 0
    while (i < 4) {
      if (p(i) == 0.0) { if (q(i) < 0) return false }
      else {
        val r = q(i) / p(i)
        if (p(i) < 0) { if (r > t1) return false; if (r > t0) t0 = r }
        else { if (r < t0) return false; if (r < t1) t1 = r }
      }
      i += 1
    }
    true
  }

  /** True iff the cell box intersects the polygon ring (exact for convex and
    * concave simple rings): corner-in-polygon, vertex-in-box, or edge-crosses-box. */
  def cellIntersectsRing(cellBounds: Array[Double], ring: Array[Double]): Boolean = {
    val latMin = cellBounds(0); val lonMin = cellBounds(1)
    val latMax = cellBounds(2); val lonMax = cellBounds(3)
    // any cell corner (or centre) inside polygon
    if (Pip.contains(latMin, lonMin, ring) || Pip.contains(latMin, lonMax, ring) ||
        Pip.contains(latMax, lonMin, ring) || Pip.contains(latMax, lonMax, ring) ||
        Pip.contains((latMin + latMax) / 2, (lonMin + lonMax) / 2, ring)) return true
    // any polygon vertex inside box, or any edge crossing the box
    val n = ring.length / 2
    var j = n - 1
    var i = 0
    while (i < n) {
      val yi = ring(2 * i); val xi = ring(2 * i + 1)
      if (yi >= latMin && yi <= latMax && xi >= lonMin && xi <= lonMax) return true
      val yj = ring(2 * j); val xj = ring(2 * j + 1)
      if (segmentIntersectsBox(yi, xi, yj, xj, latMin, lonMin, latMax, lonMax)) return true
      j = i
      i += 1
    }
    false
  }

  /** PRECONDITION shared by all coverings and polyfill: ring lon span must
    * be <= 180 degrees. The math runs in planar lon space, and a span > 180
    * is indistinguishable from a ring that crosses the antimeridian (whose
    * planar bbox/covering/containment would be silently wrong), so such
    * rings are rejected outright — a structural requirement like a malformed
    * schema, deliberately independent of the strict/relaxed data-quality
    * mode. Split antimeridian-crossing polygons at +-180 upstream (and
    * genuinely hemisphere-wide rings into lon-halves). */
  private def requireLonSpanHalf(bb: Array[Double]): Unit =
    if (bb(3) - bb(1) > 180.0) throw new IllegalArgumentException(
      s"polygon ring lon span ${bb(3) - bb(1)} deg > 180 (lon range " +
        s"[${bb(1)}, ${bb(3)}]): either it crosses the antimeridian or it " +
        "spans more than a hemisphere — split it at +-180 (or into " +
        "lon-halves) before covering/joining")

  /** Geohash cells intersecting the polygon ring at `level` (vector->cell
    * covering used by the spatial join build side). Superset-exact: every
    * cell that intersects the ring is returned, nothing else. */
  def coverRing(ring: Array[Double], level: Int): Array[String] = {
    val bb = Pip.bbox(ring)
    requireLonSpanHalf(bb)
    val cells = coverBox(bb(0), bb(1), bb(2), bb(3), level)
    if (cells == null) return null
    cells.filter(c => cellIntersectsRing(Geohash.bounds(c), ring))
  }

  /** Adaptive covering: the finest level <= maxLevel whose covering stays
    * within maxCells. Geohash prefixes encode their own level (string
    * length), so a multi-resolution covering joins against point-cell
    * prefixes directly. Never null: falls back to level 1 (32 cells max). */
  def coverRingAdaptive(ring: Array[Double], maxLevel: Int, maxCells: Int): Array[String] = {
    val bb = Pip.bbox(ring)
    requireLonSpanHalf(bb)
    var level = math.max(1, maxLevel)
    while (level > 1) {
      val (latDeg, lonDeg) = cellSizeDeg(level)
      val est = ((bb(2) - bb(0)) / latDeg + 2.0) * ((bb(3) - bb(1)) / lonDeg + 2.0)
      if (est <= maxCells * 2.0) {
        val cells = coverRing(ring, level)
        if (cells != null && cells.length <= maxCells) return cells
      }
      level -= 1
    }
    coverRing(ring, 1)
  }

  // ---- slippy-map Web-Mercator tiles -----------------------------------

  final val MaxTileZoom = 29

  def tileX(lon: Double, z: Int): Long = {
    val nTiles = 1L << z
    val x = math.floor((lon + 180.0) / 360.0 * nTiles).toLong
    math.min(math.max(x, 0L), nTiles - 1)
  }

  def tileY(lat: Double, z: Int): Long = {
    val nTiles = 1L << z
    val latR = GeoMath.toRadians(math.min(math.max(lat, -85.05112878), 85.05112878))
    val y = math.floor((1.0 - math.log(math.tan(latR) + 1.0 / math.cos(latR)) / math.Pi) / 2.0 * nTiles).toLong
    math.min(math.max(y, 0L), nTiles - 1)
  }

  /** Packed tile id layout: z (5 bits) | x (29 bits) | y (29 bits). The
    * shifts and the x/y mask are the one definition every packer and
    * decoder reads (the SQL-side codec lives in `graft.engine.Tiler`). */
  final val TileZShift = 58
  final val TileXShift = 29
  final val TileXYMask: Long = (1L << 29) - 1

  private def packTileId(z: Int, x: Long, y: Long): Long =
    (z.toLong << TileZShift) | (x << TileXShift) | y

  def tileId(lat: Double, lon: Double, z0: Int): Long = {
    val z = math.min(math.max(z0, 0), MaxTileZoom)
    packTileId(z, tileX(lon, z), tileY(lat, z))
  }

  def tileIdZ(id: Long): Int = (id >>> TileZShift).toInt
  def tileIdX(id: Long): Long = (id >>> TileXShift) & TileXYMask
  def tileIdY(id: Long): Long = id & TileXYMask

  /** Tile bounds: Array(latSouth, lonWest, latNorth, lonEast). */
  def tileBounds(z: Int, x: Long, y: Long): Array[Double] = {
    val nTiles = (1L << z).toDouble
    val lonW = x / nTiles * 360.0 - 180.0
    val lonE = (x + 1) / nTiles * 360.0 - 180.0
    def latOf(yy: Double): Double = {
      val n = math.Pi - 2.0 * math.Pi * yy / nTiles
      GeoMath.toDegrees(math.atan(math.sinh(n)))
    }
    Array(latOf((y + 1).toDouble), lonW, latOf(y.toDouble), lonE)
  }

  /** Tile ids covering a polygon ring at zoom z (vector->raster assignment);
    * null when the covering exceeds MaxCoverCells. */
  def tilePolyfill(ring: Array[Double], z: Int): Array[Long] = {
    val bb = Pip.bbox(ring)
    requireLonSpanHalf(bb)
    val x0 = tileX(bb(1), z); val x1 = tileX(bb(3), z)
    val y0 = tileY(bb(2), z); val y1 = tileY(bb(0), z) // y grows southward
    val count = (x1 - x0 + 1) * (y1 - y0 + 1)
    if (count > MaxCoverCells) return null
    val out = mutable.ArrayBuffer.empty[Long]
    var x = x0
    while (x <= x1) {
      var y = y0
      while (y <= y1) {
        val tb = tileBounds(z, x, y)
        if (cellIntersectsRing(tb, ring))
          out += packTileId(z, x, y)
        y += 1
      }
      x += 1
    }
    out.toArray
  }
}
