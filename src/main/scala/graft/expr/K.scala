package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.core._

/** Catalyst bridge kernels: static methods over Catalyst runtime types
  * (UTF8String / InternalRow / ArrayData / primitives), invoked from
  * expressions via StaticInvoke so every function participates in
  * whole-stage codegen. Null returns become SQL NULL (relaxed mode — the
  * reference throws typed exceptions; see exceptions.d).
  *
  * Methods are not overloaded (StaticInvoke resolves by name).
  */
object K {

  private val Wgs84A = 6378137.0
  private val Wgs84F = 1.0 / 298.257223563

  @inline private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  /** array<struct<lat,lon>> column -> packed flat ring [lat0,lon0,lat1,...]. */
  private def ringOf(ad: ArrayData): Array[Double] = {
    if (ad == null) return null
    val n = ad.numElements()
    val out = new Array[Double](2 * n)
    var i = 0
    while (i < n) {
      val r = ad.getStruct(i, 2)
      out(2 * i) = r.getDouble(0)
      out(2 * i + 1) = r.getDouble(1)
      i += 1
    }
    out
  }

  // ---- strict mode --------------------------------------------------------

  /** Strict mode (`spark.graft.strict=true`, captured as a plan-time literal
    * by the function builders): invalid input throws the reference's typed
    * exception instead of returning SQL NULL. NULL *inputs* still propagate
    * to NULL in both modes (propagateNull runs before the kernel). */
  @inline private def failIf(strict: Boolean, e: => CoordException): Null =
    if (strict) throw e else null

  // ---- parsing ----------------------------------------------------------

  /** st_parse_point: free text -> struct<lat,lon>; null if unparseable. */
  def parsePoint(text: UTF8String, strict: Boolean): InternalRow = {
    if (text == null) return null
    val p = Parsers.parsePoint(text.toString)
    if (p == null) failIf(strict, new LatLonException("Failed to parse coordinates!"))
    else new GenericInternalRow(Array[Any](p(0), p(1)))
  }

  /** Compat-mode parse (reference quirk Q1: east flips sign). */
  def parsePointCompat(text: UTF8String, strict: Boolean): InternalRow = {
    if (text == null) return null
    val p = Parsers.parsePoint(text.toString, compat = true)
    if (p == null) failIf(strict, new LatLonException("Failed to parse coordinates!"))
    else new GenericInternalRow(Array[Any](p(0), p(1)))
  }

  /** st_parse_coord: single coordinate text -> double; null if unparseable. */
  def parseCoord(text: UTF8String, strict: Boolean): java.lang.Double = {
    if (text == null) return null
    val v = Parsers.parseCoord(text.toString)
    if (v.isNaN) failIf(strict, new LatLonException("Failed to parse coordinates!"))
    else java.lang.Double.valueOf(v)
  }

  /** st_parse_utm -> struct<zone:int, hemisphere:string, easting, northing>.
    * The letter is interpreted as band when not N/S (band->hemisphere rule). */
  def parseUtm(text: UTF8String, strict: Boolean): InternalRow = {
    if (text == null) return null
    val t = Parsers.parseUtm(text.toString)
    if (t == null) return failIf(strict, new UtmException("Failed to parse utm coordinate!"))
    val letter = t._2
    val hemisphere =
      if (letter == 'N' || letter == 'S') letter else Utm.bandToHemisphere(letter)
    new GenericInternalRow(Array[Any](t._1, utf8(hemisphere.toString), t._3, t._4))
  }

  /** st_parse_mgrs -> struct<zone:int, band, e100k, n100k, easting, northing>. */
  def parseMgrs(text: UTF8String, strict: Boolean): InternalRow = {
    if (text == null) return null
    val t = Parsers.parseMgrs(text.toString)
    if (t == null || t._3.length != 2)
      return failIf(strict, new MgrsException("Failed to parse mgrs coordinate!"))
    new GenericInternalRow(Array[Any](
      t._1, utf8(t._2.toString), utf8(t._3.substring(0, 1)), utf8(t._3.substring(1)),
      t._4, t._5))
  }

  // ---- constructors / validators ------------------------------------------

  /** st_geo(lat, lon, alt, accuracy, altAccuracy): validating constructor
    * mirroring the reference Geo invariants (latlon.d:101-108; NaN = missing
    * for the extension fields). Null (or throw) on violation. */
  def geoCtor(lat: Double, lon: Double, alt: Double, acc: Double, altAcc: Double,
              strict: Boolean): InternalRow = {
    if (lat < -90 || lat > 90 || lat.isNaN)
      return failIf(strict, new LatLonException("Latitude out of bounds [-90;+90]!"))
    if (lon < -180 || lon > 180 || lon.isNaN)
      return failIf(strict, new LatLonException("Longitude out of bounds [-180;+180]!"))
    if (!acc.isNaN && acc < 0)
      return failIf(strict, new LatLonException("Accuracy out of range!"))
    if (!altAcc.isNaN && altAcc < 0)
      return failIf(strict, new LatLonException("Altitude accuracy out of range!"))
    new GenericInternalRow(Array[Any](lat, lon, alt, acc, altAcc))
  }

  def geoIsValid(lat: Double, lon: Double): Boolean =
    !(lat < -90 || lat > 90 || lat.isNaN || lon < -180 || lon > 180 || lon.isNaN)

  /** st_utm(zone, hemisphere, easting, northing, alt): validating constructor
    * mirroring the reference UTM invariants (utm.d:91, 132-133). */
  def utmCtor(zone: Int, hemisphere: UTF8String, easting: Double, northing: Double,
              alt: Double, strict: Boolean): InternalRow = {
    if (hemisphere == null || hemisphere.numChars() < 1)
      return failIf(strict, new UtmException("Wrong hemisphere [N, S]!"))
    val h = Character.toUpperCase(hemisphere.toString.charAt(0))
    if (h != 'N' && h != 'S')
      return failIf(strict, new UtmException("Wrong hemisphere [N, S]!"))
    if (zone <= 0 || zone > 60)
      return failIf(strict, new UtmException("Zone number out of range [1..60]!"))
    new GenericInternalRow(Array[Any](zone, utf8(h.toString), easting, northing, alt))
  }

  def utmIsValid(zone: Int, hemisphere: UTF8String): Boolean = {
    if (hemisphere == null || hemisphere.numChars() < 1) return false
    val h = Character.toUpperCase(hemisphere.toString.charAt(0))
    (h == 'N' || h == 'S') && zone > 0 && zone <= 60
  }

  // ---- geohash ----------------------------------------------------------

  /** precision <= 0 selects the shortest hash that round-trips the point
    * (reference geohash.d:70-77 auto-precision rule). */
  def geohashEncode(lat: Double, lon: Double, precision: Int, strict: Boolean): UTF8String = {
    if (lat < -90 || lat > 90 || lat.isNaN)
      return failIf(strict, new LatLonException("Latitude out of bounds [-90;+90]!"))
    if (lon.isNaN)
      return failIf(strict, new LatLonException("Longitude out of bounds [-180;+180]!"))
    val lw = GeoMath.wrap180(lon)
    utf8(if (precision <= 0) Geohash.encodeAuto(lat, lw) else Geohash.encode(lat, lw, precision))
  }

  def geohashDecode(hash: UTF8String, strict: Boolean): InternalRow = {
    if (hash == null) return null
    val c = Geohash.decode(hash.toString)
    if (c == null) failIf(strict, new GeohashException(s"Invalid geohash [$hash]!"))
    else new GenericInternalRow(Array[Any](c(0), c(1)))
  }

  def geohashBounds(hash: UTF8String, strict: Boolean): InternalRow = {
    if (hash == null) return null
    val b = Geohash.bounds(hash.toString)
    if (b == null) failIf(strict, new GeohashException(s"Invalid geohash [$hash]!"))
    else new GenericInternalRow(Array[Any](b(0), b(1), b(2), b(3)))
  }

  def geohashAdjacent(hash: UTF8String, direction: UTF8String, strict: Boolean): UTF8String = {
    if (hash == null || direction == null || direction.numChars() < 1) return null
    val a = Geohash.adjacent(hash.toString, direction.toString.charAt(0))
    if (a == null) failIf(strict, new GeohashException(s"Invalid geohash [$hash]!"))
    else utf8(a)
  }

  def geohashNeighbors(hash: UTF8String, strict: Boolean): ArrayData = {
    if (hash == null) return null
    val n = Geohash.neighbours(hash.toString)
    if (n == null) failIf(strict, new GeohashException(s"Invalid geohash [$hash]!"))
    else new GenericArrayData(n.map(utf8(_)).asInstanceOf[Array[Any]])
  }

  // ---- cells / tiles ----------------------------------------------------

  def cellOf(lat: Double, lon: Double, level: Int, strict: Boolean): UTF8String =
    geohashEncode(lat, lon, level, strict)

  def cellLongOf(lat: Double, lon: Double, level: Int, strict: Boolean): java.lang.Long = {
    if (lat < -90 || lat > 90 || lat.isNaN)
      return failIf(strict, new LatLonException("Latitude out of bounds [-90;+90]!"))
    if (lon.isNaN)
      return failIf(strict, new LatLonException("Longitude out of bounds [-180;+180]!"))
    java.lang.Long.valueOf(Cells.cellLong(lat, GeoMath.wrap180(lon), level))
  }

  def cellToLongOf(hash: UTF8String): java.lang.Long = {
    if (hash == null) return null
    val v = Cells.cellToLong(hash.toString)
    if (v < 0) null else java.lang.Long.valueOf(v)
  }

  def cellParentOf(hash: UTF8String, level: Int): UTF8String =
    if (hash == null) null else utf8(Cells.cellParent(hash.toString, level))

  def cellDiskOf(cell: UTF8String, k: Int): ArrayData = {
    if (cell == null) return null
    val d = Cells.cellDisk(cell.toString, k)
    if (d == null) null else new GenericArrayData(d.map(utf8(_)).asInstanceOf[Array[Any]])
  }

  def cellRingOf(cell: UTF8String, k: Int): ArrayData = {
    if (cell == null) return null
    val d = Cells.cellRing(cell.toString, k)
    if (d == null) null else new GenericArrayData(d.map(utf8(_)).asInstanceOf[Array[Any]])
  }

  /** st_cover_cells(ring, level): geohash cells intersecting the polygon. */
  def coverCells(ring: ArrayData, level: Int): ArrayData = {
    val r = ringOf(ring)
    if (r == null || r.length < 6) return null
    val cells = Cells.coverRing(r, level)
    if (cells == null) null
    else new GenericArrayData(cells.map(utf8(_)).asInstanceOf[Array[Any]])
  }

  /** st_cover_cells_adaptive(ring, maxLevel, maxCells): multi-resolution
    * covering — never drops a polygon (falls back to coarser levels). */
  def coverCellsAdaptive(ring: ArrayData, maxLevel: Int, maxCells: Int): ArrayData = {
    val r = ringOf(ring)
    if (r == null || r.length < 6) return null
    val cells = Cells.coverRingAdaptive(r, maxLevel, maxCells)
    if (cells == null) null
    else new GenericArrayData(cells.map(utf8(_)).asInstanceOf[Array[Any]])
  }

  def coverBoxCells(s: Double, w: Double, n: Double, e: Double, level: Int): ArrayData = {
    val cells = Cells.coverBox(s, w, n, e, level)
    if (cells == null) null
    else new GenericArrayData(cells.map(utf8(_)).asInstanceOf[Array[Any]])
  }

  def tileIdOf(lat: Double, lon: Double, z: Int): java.lang.Long = {
    if (lat.isNaN || lon.isNaN) return null
    java.lang.Long.valueOf(Cells.tileId(lat, GeoMath.wrap180(lon), z))
  }

  /** st_tile(lat, lon, z) -> struct<z:int, x:long, y:long>. */
  def tileXyz(lat: Double, lon: Double, z: Int): InternalRow = {
    if (lat.isNaN || lon.isNaN) return null
    val lw = GeoMath.wrap180(lon)
    new GenericInternalRow(Array[Any](z, Cells.tileX(lw, z), Cells.tileY(lat, z)))
  }

  /** st_tile_bounds(z,x,y) -> struct<south,west,north,east>. */
  def tileBoundsOf(z: Int, x: Long, y: Long): InternalRow = {
    val b = Cells.tileBounds(z, x, y)
    new GenericInternalRow(Array[Any](b(0), b(1), b(2), b(3)))
  }

  /** st_tile_center(z,x,y) -> struct<lat,lon>: the tile's centre point
    * (web-mercator midpoint, the reference location for raster
    * interpolation). One formula — NOT the bounds midpoint — so the SQL
    * mirror can reproduce it bit-for-bit modulo sinh ulp. */
  def tileCenterOf(z: Int, x: Long, y: Long): InternalRow = {
    val n = (1L << z).toDouble
    val lon = (x + 0.5) / n * 360.0 - 180.0
    val t = math.Pi - 2.0 * math.Pi * (y + 0.5) / n
    val lat = GeoMath.toDegrees(math.atan(math.sinh(t)))
    new GenericInternalRow(Array[Any](lat, lon))
  }

  /** st_tile_polyfill(ring, z) -> array<long> of packed tile ids. */
  def tilePolyfill(ring: ArrayData, z: Int): ArrayData = {
    val r = ringOf(ring)
    if (r == null || r.length < 6) return null
    val t = Cells.tilePolyfill(r, z)
    if (t == null) null else new GenericArrayData(t)
  }

  // ---- predicates -------------------------------------------------------

  /** st_point_in_polygon(lat, lon, ring). */
  def pointInPolygon(lat: Double, lon: Double, ring: ArrayData): java.lang.Boolean = {
    val r = ringOf(ring)
    if (r == null || r.length < 6) return null
    java.lang.Boolean.valueOf(Pip.contains(lat, lon, r))
  }

  def boxContains(south: Double, west: Double, north: Double, east: Double,
                  lat: Double, lon: Double): Boolean =
    Pip.boxContains(lat, lon, south, west, north, east)

  /** array<array<struct<lat,lon>>> column -> packed rings. */
  private def ringsOf(ad: ArrayData): Array[Array[Double]] = {
    if (ad == null) return null
    val n = ad.numElements()
    val out = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      out(i) = if (ad.isNullAt(i)) null else ringOf(ad.getArray(i))
      i += 1
    }
    out
  }

  /** st_point_in_polygon_multi(lat, lon, rings): even-odd over all rings —
    * polygon with holes ([outer, hole...]) or multipolygon (several outers). */
  def pointInPolygonMulti(lat: Double, lon: Double, rings: ArrayData): java.lang.Boolean = {
    val rs = ringsOf(rings)
    if (rs == null || rs.length < 1) return null
    java.lang.Boolean.valueOf(Pip.containsRings(lat, lon, rs))
  }

  // ---- UTM / MGRS / ECEF ------------------------------------------------

  /** st_geo_to_utm(lat, lon, a, f) -> struct<zone:int, hemisphere:string,
    * easting, northing, convergence, scale>. */
  def geoToUtm(lat: Double, lon: Double, a: Double, f: Double, strict: Boolean): InternalRow = {
    if (lat < -90 || lat > 90 || lat.isNaN)
      return failIf(strict, new LatLonException("Latitude out of bounds [-90;+90]!"))
    if (lon < -180 || lon > 180 || lon.isNaN)
      return failIf(strict, new LatLonException("Longitude out of bounds [-180;+180]!"))
    val u = Utm.geoToUtm(lat, lon, a, f)
    new GenericInternalRow(Array[Any](
      u.zone, utf8(u.hemisphere.toString), u.easting, u.northing, u.convergence, u.scale))
  }

  /** st_utm_to_geo(zone, hemisphere, easting, northing, a, f) -> struct<lat,lon>. */
  def utmToGeo(zone: Int, hemisphere: UTF8String, easting: Double, northing: Double,
               a: Double, f: Double, strict: Boolean): InternalRow = {
    if (hemisphere == null || hemisphere.numChars() < 1) return null
    val h = Character.toUpperCase(hemisphere.toString.charAt(0))
    if (h != 'N' && h != 'S')
      return failIf(strict, new UtmException("Wrong hemisphere [N, S]!"))
    val g = Utm.utmToGeo(zone, h, easting, northing, a, f)
    if (g == null) failIf(strict, new UtmException("Zone number out of range [1..60]!"))
    else new GenericInternalRow(Array[Any](g(0), g(1)))
  }

  /** st_utm_to_mgrs -> struct<zone:int, band, e100k, n100k, easting, northing>. */
  def utmToMgrs(zone: Int, hemisphere: UTF8String, easting: Double, northing: Double,
                a: Double, f: Double, strict: Boolean): InternalRow = {
    if (hemisphere == null || hemisphere.numChars() < 1) return null
    val h = Character.toUpperCase(hemisphere.toString.charAt(0))
    if (h != 'N' && h != 'S')
      return failIf(strict, new UtmException("Wrong hemisphere [N, S]!"))
    val m = Utm.utmToMgrs(zone, h, easting, northing, a, f)
    if (m == null)
      return failIf(strict, new MgrsException("Utm position outside the mgrs grid!"))
    new GenericInternalRow(Array[Any](
      m.zone, utf8(m.band.toString), utf8(m.e100k.toString), utf8(m.n100k.toString),
      m.easting, m.northing))
  }

  /** st_mgrs_to_utm(zone, band, e100k, n100k, easting, northing, a, f). */
  def mgrsToUtm(zone: Int, band: UTF8String, e100k: UTF8String, n100k: UTF8String,
                easting: Double, northing: Double, a: Double, f: Double,
                strict: Boolean): InternalRow = {
    if (band == null || e100k == null || n100k == null) return null
    if (band.numChars() < 1 || e100k.numChars() < 1 || n100k.numChars() < 1)
      return failIf(strict, new MgrsException("Failed to parse mgrs coordinate!"))
    val u = Utm.mgrsToUtm(zone, band.toString.charAt(0), e100k.toString.charAt(0),
      n100k.toString.charAt(0), easting, northing, a, f)
    if (u == null)
      return failIf(strict, new MgrsException("Invalid zone/band/grid letters!"))
    new GenericInternalRow(Array[Any](
      u.zone, utf8(u.hemisphere.toString), u.easting, u.northing))
  }

  /** st_geo_to_mgrs(lat, lon, a, f): composition geo->utm->mgrs
    * (conv.d:354-356), except the latitude band comes straight from the
    * input latitude: the reference's utm->mgrs path re-derives it through the
    * inverse projection, whose ~1e-10 deg noise flips the band letter for
    * points sitting exactly on an 8-degree boundary. */
  def geoToMgrs(lat: Double, lon: Double, a: Double, f: Double, strict: Boolean): InternalRow = {
    if (lat < -90 || lat > 90 || lat.isNaN)
      return failIf(strict, new LatLonException("Latitude out of bounds [-90;+90]!"))
    if (lon < -180 || lon > 180 || lon.isNaN)
      return failIf(strict, new LatLonException("Longitude out of bounds [-180;+180]!"))
    val u = Utm.geoToUtm(lat, lon, a, f)
    val m = Utm.utmToMgrs(u.zone, u.hemisphere, u.easting, u.northing, a, f)
    if (m == null)
      return failIf(strict, new MgrsException("Utm position outside the mgrs grid!"))
    val band = Utm.latBand(lat)
    if (band == '?')
      return failIf(strict, new MgrsException("Latitude outside the mgrs bands [-80;84]!"))
    new GenericInternalRow(Array[Any](
      m.zone, utf8(band.toString), utf8(m.e100k.toString), utf8(m.n100k.toString),
      m.easting, m.northing))
  }

  /** st_mgrs_to_geo: composition mgrs->utm->geo (conv.d:359-361). */
  def mgrsToGeo(zone: Int, band: UTF8String, e100k: UTF8String, n100k: UTF8String,
                easting: Double, northing: Double, a: Double, f: Double,
                strict: Boolean): InternalRow = {
    if (band == null || e100k == null || n100k == null) return null
    if (band.numChars() < 1 || e100k.numChars() < 1 || n100k.numChars() < 1)
      return failIf(strict, new MgrsException("Failed to parse mgrs coordinate!"))
    val u = Utm.mgrsToUtm(zone, band.toString.charAt(0), e100k.toString.charAt(0),
      n100k.toString.charAt(0), easting, northing, a, f)
    if (u == null)
      return failIf(strict, new MgrsException("Invalid zone/band/grid letters!"))
    val g = Utm.utmToGeo(u.zone, u.hemisphere, u.easting, u.northing, a, f)
    if (g == null) failIf(strict, new UtmException("Zone number out of range [1..60]!"))
    else new GenericInternalRow(Array[Any](g(0), g(1)))
  }

  /** st_band(lat): MGRS latitude band letter; null outside -80..84. */
  def latBandOf(lat: Double): UTF8String = {
    if (lat.isNaN) return null
    val b = Utm.latBand(lat)
    if (b == '?') null else utf8(b.toString)
  }

  def bandToHemisphereOf(band: UTF8String): UTF8String = {
    if (band == null || band.numChars() < 1) return null
    utf8(Utm.bandToHemisphere(band.toString.charAt(0)).toString)
  }

  /** st_utm_band(zone, hemisphere, easting, northing): MGRS latitude band of
    * a UTM position — the accessor the reference leaves as an empty TODO
    * (utm.d:95-97); implemented as the obvious round trip through latitude. */
  def utmBandOf(zone: Int, hemisphere: UTF8String, easting: Double, northing: Double): UTF8String = {
    if (hemisphere == null || hemisphere.numChars() < 1) return null
    val h = Character.toUpperCase(hemisphere.toString.charAt(0))
    if (h != 'N' && h != 'S') return null
    val g = Utm.utmToGeo(zone, h, easting, northing, 6378137.0, 1.0 / 298.257223563)
    if (g == null) return null
    latBandOf(g(0))
  }

  def utmZoneOf(lat: Double, lon: Double): java.lang.Integer = {
    if (lat.isNaN || lon.isNaN || lat < -90 || lat > 90) return null
    java.lang.Integer.valueOf(Utm.zoneFor(lat, GeoMath.wrap180(lon)))
  }

  /** st_geo_to_ecef(lat, lon, h, a, f) -> struct<x,y,z>. */
  def geoToEcef(lat: Double, lon: Double, h: Double, a: Double, f: Double,
                strict: Boolean): InternalRow = {
    if (lat < -90 || lat > 90 || lat.isNaN)
      return failIf(strict, new LatLonException("Latitude out of bounds [-90;+90]!"))
    if (lon.isNaN)
      return failIf(strict, new LatLonException("Longitude out of bounds [-180;+180]!"))
    val e = Ecef.geoToEcef(lat, lon, h, a, f)
    new GenericInternalRow(Array[Any](e(0), e(1), e(2)))
  }

  /** st_ecef_to_geo(x, y, z, a, f) -> struct<lat,lon,h>. */
  def ecefToGeo(x: Double, y: Double, z: Double, a: Double, f: Double,
                strict: Boolean): InternalRow = {
    if (x.isNaN || y.isNaN || z.isNaN)
      return failIf(strict, new EcefException("Invalid ecef coordinate!"))
    val g = Ecef.ecefToGeo(x, y, z, a, f)
    new GenericInternalRow(Array[Any](g(0), g(1), g(2)))
  }

  // ---- datum transforms ---------------------------------------------------

  /** st_helmert7(x,y,z, dx,dy,dz, rx,ry,rz, ds_ppm) -> struct<x,y,z>
    * (position-vector convention; ds in ppm). */
  def helmert7(x: Double, y: Double, z: Double,
               dx: Double, dy: Double, dz: Double,
               rx: Double, ry: Double, rz: Double, dsPpm: Double): InternalRow = {
    val r = Transform.helmert7Ppm(x, y, z, dx, dy, dz, rx, ry, rz, dsPpm)
    new GenericInternalRow(Array[Any](r(0), r(1), r(2)))
  }

  def helmert3(x: Double, y: Double, z: Double,
               dx: Double, dy: Double, dz: Double): InternalRow = {
    val r = Transform.helmert3(x, y, z, dx, dy, dz)
    new GenericInternalRow(Array[Any](r(0), r(1), r(2)))
  }

  /** st_molodensky(lat, lon, h, dx, dy, dz, a, f, da, df) -> struct<lat,lon,h>:
    * abridged Molodensky direct geodetic shift (the reference's empty
    * geodetic5p stub, transform.d:151-153, completed from the published
    * formulas). */
  def molodensky(lat: Double, lon: Double, h: Double,
                 dx: Double, dy: Double, dz: Double,
                 a: Double, f: Double, da: Double, df: Double,
                 strict: Boolean): InternalRow = {
    if (lat < -90 || lat > 90 || lat.isNaN)
      return failIf(strict, new LatLonException("Latitude out of bounds [-90;+90]!"))
    // the abridged formula divides dlambda by N*cos(phi): undefined at the
    // poles (and meaningless in their immediate neighbourhood) — null/throw
    // instead of emitting a blown-up longitude shift
    if (math.abs(lat) > 89.9)
      return failIf(strict, new LatLonException(
        "Abridged Molodensky is undefined near the poles (|lat| > 89.9)!"))
    if (lon < -180 || lon > 180 || lon.isNaN)
      return failIf(strict, new LatLonException("Longitude out of bounds [-180;+180]!"))
    val r = Transform.molodenskyAbridged(lat, lon, h, dx, dy, dz, a, f, da, df)
    new GenericInternalRow(Array[Any](r(0), r(1), r(2)))
  }

  def molodenskyBadekas(x: Double, y: Double, z: Double,
                        dx: Double, dy: Double, dz: Double,
                        rx: Double, ry: Double, rz: Double,
                        ox: Double, oy: Double, oz: Double,
                        dsPpm: Double): InternalRow = {
    val r = Transform.molodenskyBadekas(x, y, z, dx, dy, dz, rx, ry, rz, ox, oy, oz,
      1.0 + dsPpm * 1e-6)
    new GenericInternalRow(Array[Any](r(0), r(1), r(2)))
  }

  /** st_datum_shift(x,y,z, datum_name): Helmert-7 to WGS84 using the
    * registry's parameter table; null for unknown datum. */
  def datumShiftToWgs84(x: Double, y: Double, z: Double, datum: UTF8String,
                        strict: Boolean): InternalRow = {
    if (datum == null) return null
    val d = Registry.resolveDatum(datum.toString).orNull
    if (d == null) return failIf(strict, new DatumException(s"Unknown datum [$datum]!"))
    val p = Registry.helmert7ByDatum.get(d.epsg).orNull
    if (p == null)
      return failIf(strict, new DatumException(s"No transform parameters for datum [$datum]!"))
    val r = Transform.helmert7Ppm(x, y, z, p.dx, p.dy, p.dz, p.rx, p.ry, p.rz, p.ds)
    new GenericInternalRow(Array[Any](r(0), r(1), r(2)))
  }

  /** st_datum_shift_inv(x,y,z, datum_name): WGS84 -> datum, the EPSG-style
    * approximate reversal of the SAME registry Helmert-7 row — all seven
    * parameters negated (translations, arcsecond rotations, ppm scale
    * delta). Quirk Q6 applies: negation is a FIRST-ORDER inverse of the
    * small-angle form, not the exact matrix inverse — round-trip residual
    * is O(rot * |T| + (rot + ds)^2 * |X|): centimetres for
    * published-magnitude parameters (arcsec rotations, ppm scale,
    * hundreds-of-metres translations); registry rows inherited
    * VERBATIM from the reference CSV (ingested unscaled — hundreds of
    * arcsec) scale the residual by the same law (both regimes gated in
    * CoreKernelSpec). Null for unknown datum / missing parameters, like
    * the forward shift. */
  def datumShiftFromWgs84(x: Double, y: Double, z: Double, datum: UTF8String,
                          strict: Boolean): InternalRow = {
    if (datum == null) return null
    val d = Registry.resolveDatum(datum.toString).orNull
    if (d == null) return failIf(strict, new DatumException(s"Unknown datum [$datum]!"))
    val p = Registry.helmert7ByDatum.get(d.epsg).orNull
    if (p == null)
      return failIf(strict, new DatumException(s"No transform parameters for datum [$datum]!"))
    val r = Transform.helmert7Ppm(x, y, z, -p.dx, -p.dy, -p.dz, -p.rx, -p.ry, -p.rz, -p.ds)
    new GenericInternalRow(Array[Any](r(0), r(1), r(2)))
  }

  // ---- ellipsoid / registry lookups (foldable at plan time) ---------------

  /** st_box_center(south, west, north, east) -> struct<lat,lon>: midpoint of
    * a box — CodeArea.center generalized (openlocationcode.d:479-484). */
  def boxCenter(south: Double, west: Double, north: Double, east: Double): InternalRow =
    new GenericInternalRow(Array[Any]((south + north) / 2.0, (west + east) / 2.0))

  /** st_datum(name_or_epsg) -> struct<epsg, short_name, name, ellipsoid_epsg,
    * a, f>: datum resolution at plan time (foldable — the registry is a
    * driver-side constant map, datums.d:84-197 semantics). */
  def datumInfo(nameOrEpsg: UTF8String, strict: Boolean): InternalRow = {
    if (nameOrEpsg == null) return null
    val d = Registry.resolveDatum(nameOrEpsg.toString).orNull
    if (d == null)
      return failIf(strict, new DatumException(s"Unknown datum [$nameOrEpsg]!"))
    val e = Registry.ellipsoidByEpsg.get(d.ellipsoidEpsg).orNull
    new GenericInternalRow(Array[Any](
      d.epsg, utf8(d.shortName), utf8(d.name), d.ellipsoidEpsg,
      if (e == null) Double.NaN else e.a,
      if (e == null) Double.NaN else e.f))
  }

  def ellipsoidA(nameOrEpsg: UTF8String, strict: Boolean): java.lang.Double = {
    if (nameOrEpsg == null) return null
    ellipsoidOf(nameOrEpsg.toString).map(e => java.lang.Double.valueOf(e.a))
      .getOrElse(failIf(strict, new DatumException(s"Unknown ellipsoid [$nameOrEpsg]!")))
  }

  def ellipsoidF(nameOrEpsg: UTF8String, strict: Boolean): java.lang.Double = {
    if (nameOrEpsg == null) return null
    ellipsoidOf(nameOrEpsg.toString).map(e => java.lang.Double.valueOf(e.f))
      .getOrElse(failIf(strict, new DatumException(s"Unknown ellipsoid [$nameOrEpsg]!")))
  }

  private def ellipsoidOf(s0: String): Option[Ellipsoid] = {
    val s = s0.trim.toLowerCase.stripPrefix("epsg:")
    val direct =
      if (s.nonEmpty && s.forall(_.isDigit)) Registry.ellipsoidByEpsg.get(s.toLong)
      else Registry.ellipsoidByName.get(s)
    direct.orElse(Registry.resolveDatum(s0).flatMap(d =>
      Registry.ellipsoidByEpsg.get(d.ellipsoidEpsg)))
  }

  // ---- OLC ----------------------------------------------------------------

  def olcEncode(lat: Double, lon: Double, len: Int, strict: Boolean): UTF8String = {
    if (lat.isNaN || lon.isNaN)
      return failIf(strict, new OlcException("Latitude/longitude is NaN!"))
    val c = Olc.encode(lat, lon, len)
    if (c == null) failIf(strict, new OlcException(s"Illegal code length [$len]!"))
    else utf8(c)
  }

  /** olc_decode -> struct<south,west,north,east,length:int>. */
  def olcDecode(code: UTF8String, strict: Boolean): InternalRow = {
    if (code == null) return null
    Olc.decode(code.toString) match {
      case Some(a) => new GenericInternalRow(Array[Any](a.south, a.west, a.north, a.east, a.codeLength))
      case None => failIf(strict, new OlcException(s"Not a valid full code [$code]!"))
    }
  }

  def olcShorten(code: UTF8String, lat: Double, lon: Double, strict: Boolean): UTF8String = {
    if (code == null) return null
    Olc.shorten(code.toString, lat, lon) match {
      case Some(c) => utf8(c)
      case None => failIf(strict,
        new OlcException(s"Cannot shorten [$code]: invalid/padded code or reference too far!"))
    }
  }

  def olcRecover(code: UTF8String, lat: Double, lon: Double, strict: Boolean): UTF8String = {
    if (code == null) return null
    Olc.recoverNearest(code.toString, lat, lon) match {
      case Some(c) => utf8(c)
      case None => failIf(strict, new OlcException(s"Cannot recover [$code]: not a valid code!"))
    }
  }

  def olcIsValid(code: UTF8String): Boolean = code != null && Olc.isValid(code.toString)
  def olcIsShort(code: UTF8String): Boolean = code != null && Olc.isShort(code.toString)
  def olcIsFull(code: UTF8String): Boolean = code != null && Olc.isFull(code.toString)
  def olcIsPadded(code: UTF8String): Boolean = code != null && Olc.isPadded(code.toString)

  // ---- distances / math ----------------------------------------------------

  def haversine(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double =
    Dist.haversine(lat1, lon1, lat2, lon2)

  def vincenty(lat1: Double, lon1: Double, lat2: Double, lon2: Double,
               a: Double, f: Double): java.lang.Double = {
    val d = Dist.vincenty(lat1, lon1, lat2, lon2, a, f)
    if (d.isNaN) null else java.lang.Double.valueOf(d)
  }

  /** st_bearing(lat1, lon1, lat2, lon2): initial great-circle bearing from
    * point 1 towards point 2, degrees in [0, 360). Standard spherical
    * forward-azimuth formula: atan2(sin dl * cos p2,
    * cos p1 * sin p2 - sin p1 * cos p2 * cos dl). */
  def bearing(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val phi1 = GeoMath.toRadians(lat1); val phi2 = GeoMath.toRadians(lat2)
    val dLam = GeoMath.toRadians(lon2 - lon1)
    val y = math.sin(dLam) * math.cos(phi2)
    val x = math.cos(phi1) * math.sin(phi2) -
      math.sin(phi1) * math.cos(phi2) * math.cos(dLam)
    GeoMath.wrap360(GeoMath.toDegrees(math.atan2(y, x)))
  }

  /** st_destination(lat, lon, bearing_deg, dist_m): spherical direct geodesic
    * problem on the haversine sphere R = 6371008.8 m — the point reached by
    * travelling `dist_m` metres from (lat, lon) along the initial bearing.
    * The asin argument is clamped to [-1, 1] (long distances near the poles
    * can overshoot by an ulp). Returns a (lat, lon) struct. */
  def destination(lat: Double, lon: Double, bearingDeg: Double,
                  distM: Double): InternalRow = {
    val phi1 = GeoMath.toRadians(lat)
    val theta = GeoMath.toRadians(bearingDeg)
    val delta = distM / GeoMath.MeanEarthRadiusM
    val sinPhi2 = math.sin(phi1) * math.cos(delta) +
      math.cos(phi1) * math.sin(delta) * math.cos(theta)
    val phi2 = math.asin(math.min(1.0, math.max(-1.0, sinPhi2)))
    val y = math.sin(theta) * math.sin(delta) * math.cos(phi1)
    val x = math.cos(delta) - math.sin(phi1) * sinPhi2
    val lam2 = GeoMath.toRadians(lon) + math.atan2(y, x)
    new GenericInternalRow(Array[Any](
      GeoMath.toDegrees(phi2), GeoMath.wrap180(GeoMath.toDegrees(lam2))))
  }

  /** st_hilbert(lat, lon, bits): Hilbert-curve key over the same
    * equirectangular quantization as [[zorder]] — consecutive keys are
    * always grid-adjacent (no Z-curve jumps), so range-partitioned files
    * get tighter bboxes and bbox pruning skips more files. Standard
    * iterative xy2d (rot + quadrant accumulate), exact integer arithmetic
    * end to end. bits in [1, 31]. */
  def hilbert(lat: Double, lon: Double, bits: Int): Long = {
    val b = if (bits < 1) 1 else if (bits > 31) 31 else bits
    val n = 1L << b
    var x = math.min(n - 1, math.max(0L, math.floor((lon + 180.0) / 360.0 * n).toLong))
    var y = math.min(n - 1, math.max(0L, math.floor((lat + 90.0) / 180.0 * n).toLong))
    var d = 0L
    var s = n / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // canonical rot: reflect with the FULL grid extent (n-1), not s-1 —
      // keeps x/y in [0, n) so bit tests stay floor-div-expressible (the
      // s-1 variant walks a valid Hilbert curve too, but through negative
      // intermediates whose bit tests SQL cannot mirror)
      if (ry == 0L) {
        if (rx == 1L) {
          x = n - 1 - x
          y = n - 1 - y
        }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  /** st_zorder(lat, lon, bits): Morton / Z-order key over the equirectangular
    * grid with 2^bits cells per axis — lon quantized into the even bits, lat
    * into the odd bits. Range-partitioning and sorting a point table by this
    * key clusters spatially-near rows into the same files, which is what
    * makes file-level bbox min/max pruning effective at scale (the Iceberg
    * z-ordered-layout idea). bits in [1, 31]. */
  def zorder(lat: Double, lon: Double, bits: Int): Long = {
    val b = if (bits < 1) 1 else if (bits > 31) 31 else bits
    val n = 1L << b
    val x = math.min(n - 1, math.max(0L, math.floor((lon + 180.0) / 360.0 * n).toLong))
    val y = math.min(n - 1, math.max(0L, math.floor((lat + 90.0) / 180.0 * n).toLong))
    var z = 0L
    var i = 0
    while (i < b) {
      z |= ((x >>> i) & 1L) << (2 * i) | ((y >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /** Quirk-compat variants: reproduce the reference's behavior bit-for-bit
    * where representable in Double (SURVEY §2A Q2/Q4/Q7). */
  def geoToUtmCompat(lat: Double, lon: Double, a: Double, f: Double,
                     strict: Boolean): InternalRow = {
    if (lat < -90 || lat > 90 || lon < -180 || lon > 180 || lat.isNaN || lon.isNaN)
      return failIf(strict, new LatLonException("Latitude/longitude out of bounds!"))
    val u = Utm.geoToUtm(lat, lon, a, f, compat = true)
    new GenericInternalRow(Array[Any](
      u.zone, utf8(u.hemisphere.toString), u.easting, u.northing, u.convergence, u.scale))
  }

  def utmToGeoCompat(zone: Int, hemisphere: UTF8String, easting: Double, northing: Double,
                     a: Double, f: Double, strict: Boolean): InternalRow = {
    if (hemisphere == null || hemisphere.numChars() < 1) return null
    val h = Character.toUpperCase(hemisphere.toString.charAt(0))
    if (h != 'N' && h != 'S')
      return failIf(strict, new UtmException("Wrong hemisphere [N, S]!"))
    val g = Utm.utmToGeo(zone, h, easting, northing, a, f, compat = true)
    if (g == null) failIf(strict, new UtmException("Zone number out of range [1..60]!"))
    else new GenericInternalRow(Array[Any](g(0), g(1)))
  }

  def wrap90Compat(d: Double): Double = GeoMath.wrap90Compat(d)

  def wrap90(d: Double): Double = GeoMath.wrap90(d)
  def wrap180(d: Double): Double = GeoMath.wrap180(d)
  def wrap360(d: Double): Double = GeoMath.wrap360(d)

  // ---- extension-field (altitude/accuracy) pass-through variants ----------

  /** st_geo_to_utm_full: like geoToUtm but carries altitude through
    * (reference structs ride altitude along every conversion, utils.d:12-21;
    * NaN = missing). */
  def geoToUtmFull(lat: Double, lon: Double, alt: Double, a: Double, f: Double,
                   strict: Boolean): InternalRow = {
    val u = geoToUtm(lat, lon, a, f, strict)
    if (u == null) return null
    new GenericInternalRow(Array[Any](
      u.getInt(0), u.getUTF8String(1), u.getDouble(2), u.getDouble(3), alt))
  }

  /** st_utm_to_geo_full: inverse with altitude pass-through -> (lat, lon, h). */
  def utmToGeoFull(zone: Int, hemisphere: UTF8String, easting: Double, northing: Double,
                   alt: Double, a: Double, f: Double, strict: Boolean): InternalRow = {
    val g = utmToGeo(zone, hemisphere, easting, northing, a, f, strict)
    if (g == null) return null
    new GenericInternalRow(Array[Any](g.getDouble(0), g.getDouble(1), alt))
  }

  /** st_helmert7_ex: Helmert-7 with the reference's convention flags
    * (transform.d:66-76): coordinateFrame flips the rotation sign convention
    * (position-vector vs coordinate-frame), inverse negates all parameters.
    * `ds` is ppm, like st_helmert7. */
  def helmert7Ex(x: Double, y: Double, z: Double,
                 dx: Double, dy: Double, dz: Double,
                 rx: Double, ry: Double, rz: Double, dsPpm: Double,
                 coordinateFrame: Boolean, inverse: Boolean): InternalRow = {
    val r = Transform.helmert7(x, y, z, dx, dy, dz, rx, ry, rz,
      1.0 + dsPpm * 1e-6, coordinateFrame, inverse)
    new GenericInternalRow(Array[Any](r(0), r(1), r(2)))
  }

  /** st_matmul(a, b): the reference's `cross` matrix product
    * (transform.d:38-50 — result[m][p] = dot(a-row m, b-row p); B is stored
    * column-order per its doc). The reference's version is a test-only toy
    * with two defects we do NOT reproduce: a fixed 3-double backing buffer
    * (breaks for m*p > 3) and a transposed return (quirk Q8); this is the
    * corrected m x p result. Null on ragged/empty/mismatched shapes. */
  def matMul(a: ArrayData, b: ArrayData): ArrayData = {
    if (a == null || b == null) return null
    val m = a.numElements()
    val p = b.numElements()
    if (m == 0 || p == 0) return null
    val ar = new Array[Array[Double]](m)
    var i = 0
    while (i < m) {
      if (a.isNullAt(i)) return null
      ar(i) = a.getArray(i).toDoubleArray()
      if (i > 0 && ar(i).length != ar(0).length) return null
      i += 1
    }
    val n = ar(0).length
    val out = new Array[Any](m)
    i = 0
    while (i < m) {
      val row = new Array[Double](p)
      var j = 0
      while (j < p) {
        if (b.isNullAt(j)) return null
        val bc = b.getArray(j)
        if (bc.numElements() != n) return null
        var acc = 0.0
        var k = 0
        while (k < n) { acc += ar(i)(k) * bc.getDouble(k); k += 1 }
        row(j) = acc
        j += 1
      }
      out(i) = new GenericArrayData(row)
      i += 1
    }
    new GenericArrayData(out)
  }

  // ---- text hashing kernels (dedup family) --------------------------------

  private val NonWordRx = java.util.regex.Pattern.compile("[^\\p{L}\\p{N}]+")

  private def splitWords(text: UTF8String): Array[String] = {
    if (text == null) return Array.empty[String]
    // Locale.ROOT: default-locale toLowerCase would break determinism and
    // DuckDB/Spark lower() parity (e.g. Turkish dotless-i)
    NonWordRx.split(text.toString.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
  }

  /** st_words(text): lower-cased alnum word runs — kernel twin of
    * TextOps.wordsCol (the HOF filter/split chain evaluates interpreted). */
  def words(text: UTF8String): ArrayData = {
    val w = splitWords(text)
    new GenericArrayData(w.map(utf8(_)).asInstanceOf[Array[Any]])
  }

  /** st_langid(text): rank-weighted character-trigram language ID
    * (core.LangId profiles); "und" when nothing matches. */
  def langId3(text: UTF8String): UTF8String = {
    if (text == null) return null
    utf8(graft.core.LangId.classify(text.toString))
  }

  /** st_winnow(text, k, w): winnowing document fingerprints (Schleimer,
    * Wilkerson, Aiken 2003) — rolling polynomial hashes of the lower-cased
    * text's character k-grams, the minimum of every length-w hash window,
    * output as the sorted distinct minima. Any substring of length >=
    * w + k - 1 shared by two documents yields at least one shared
    * fingerprint (the winnowing guarantee). Base 257 with k <= 6 keeps
    * every sum exactly inside a signed 64-bit value even at the max
    * codepoint 0x10FFFF, so the SQL oracle mirrors the arithmetic with
    * plain BIGINTs (no modular wrap). Returns an empty array for texts
    * shorter than k codepoints.
    *
    * Unicode discipline: k-grams iterate CODEPOINTS (matching DuckDB
    * unicode()/length(), not UTF-16 units) and lower-case per codepoint via
    * Character.toLowerCase(int) (locale-free simple mapping, matching SQL
    * lower() on everything but the handful of full-fold specials like
    * U+0130). Oracle hash parity is exact for ASCII and for BMP text with
    * simple case mappings — the documented envelope. */
  def winnowOf(text: UTF8String, k: Int, w: Int): ArrayData = {
    if (text == null) return null
    require(k >= 1 && k <= 6 && w >= 1, "st_winnow: need 1 <= k <= 6, w >= 1")
    val raw = text.toString
    // lower-cased codepoint array (one pass; ASCII fast path is implicit in
    // codePointAt)
    val cps = new Array[Int](raw.length)
    var n = 0
    var ci = 0
    while (ci < raw.length) {
      val cp = raw.codePointAt(ci)
      cps(n) = Character.toLowerCase(cp)
      n += 1
      ci += Character.charCount(cp)
    }
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val nh = n - k + 1
    val hs = new Array[Long](nh)
    var i = 0
    while (i < nh) {
      var h = 0L
      var j = 0
      while (j < k) { h = h * 257L + cps(i + j).toLong; j += 1 }
      hs(i) = h
      i += 1
    }
    val nw = math.max(nh - w + 1, 1)
    val out = new java.util.TreeSet[java.lang.Long]()
    var s = 0
    while (s < nw) {
      var m = hs(s)
      var j = s + 1
      val end = math.min(s + w, nh)
      while (j < end) { if (hs(j) < m) m = hs(j); j += 1 }
      out.add(m)
      s += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var o = 0
    while (it.hasNext) { arr(o) = it.next(); o += 1 }
    new GenericArrayData(arr)
  }

  /** st_shingles(text, n): distinct word n-grams (space-joined) of the
    * normalized text; for fewer than n words, the single joined word string
    * (possibly ""). Matches: distinct(concat_ws(' ', sliding n over words)).
    * One pass, codegen'd — replaces a transform/slice/concat_ws HOF pipeline
    * that evaluated interpreted per element. */
  def shinglesOf(text: UTF8String, n: Int): ArrayData = {
    val w = splitWords(text)
    val out =
      if (w.length >= n && n > 0) {
        val seen = new java.util.LinkedHashSet[String]()
        val sb = new java.lang.StringBuilder()
        var i = 0
        while (i + n <= w.length) {
          sb.setLength(0)
          var j = 0
          while (j < n) { if (j > 0) sb.append(' '); sb.append(w(i + j)); j += 1 }
          seen.add(sb.toString)
          i += 1
        }
        seen.toArray(new Array[String](seen.size()))
      } else Array(w.mkString(" "))
    new GenericArrayData(out.map(utf8(_)).asInstanceOf[Array[Any]])
  }

  /** st_minhash(shingles, numHashes) -> array<bigint> (unsigned semantics).
    * One MD5 per shingle; hash family i is h1 + i*h2 mod 2^64 where h1/h2
    * are the digest's big-endian 8-byte halves (Kirsch-Mitzenmacher double
    * hashing); per-i minimum under UNSIGNED comparison. A single codegen'd
    * kernel call replaces the former per-hash higher-order-function tower
    * (transform/array_min evaluate interpreted and re-inline per consumer —
    * measured 45x wall-clock on the LSH path). */
  def minhashSig(shingles: ArrayData, numHashes: Int): ArrayData = {
    if (shingles == null || numHashes <= 0) return null
    val n = shingles.numElements()
    val mins = Array.fill[Long](numHashes)(-1L) // unsigned max
    var j = 0
    while (j < n) {
      if (!shingles.isNullAt(j)) {
        val d = Hashing.md5(shingles.getUTF8String(j).getBytes)
        val h2 = Hashing.longBE(d, 8)
        var h = Hashing.longBE(d, 0)
        var i = 0
        while (i < numHashes) {
          if (java.lang.Long.compareUnsigned(h, mins(i)) < 0) mins(i) = h
          h += h2
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  /** st_compact_cells(cells): covering compression (the H3 compactCells
    * analogue for geohash cells): any complete set of 32 sibling cells is
    * replaced by its parent, repeated bottom-up until no set completes —
    * parents produced at level L can themselves complete a set at L-1.
    * Coverage is EXACTLY preserved (32 siblings tile their parent), and
    * mixed-level output is what the multi-resolution join machinery
    * already consumes — the payoff is a smaller broadcast covering.
    * Duplicates are dropped; output is sorted (deterministic). */
  def compactCells(cells: ArrayData): ArrayData = {
    if (cells == null) return null
    val n = cells.numElements()
    val set = new java.util.TreeSet[String]()
    var i = 0
    while (i < n) {
      if (!cells.isNullAt(i)) set.add(cells.getUTF8String(i).toString)
      i += 1
    }
    var maxLen = 0
    val it0 = set.iterator()
    while (it0.hasNext) { val l = it0.next().length; if (l > maxLen) maxLen = l }
    var level = maxLen
    while (level >= 2) {
      // group level-`level` cells by parent; a parent with all 32 children
      // present collapses (strictly fewer strings; never loses coverage)
      val byParent = new java.util.HashMap[String, java.lang.Integer]()
      val it = set.iterator()
      while (it.hasNext) {
        val c = it.next()
        if (c.length == level) {
          val p = c.substring(0, level - 1)
          byParent.merge(p, 1, (a, b) => a + b)
        }
      }
      val pit = byParent.entrySet().iterator()
      while (pit.hasNext) {
        val e = pit.next()
        if (e.getValue == 32) {
          val p = e.getKey
          var k = 0
          while (k < 32) {
            set.remove(p + graft.core.Geohash.Base32.charAt(k))
            k += 1
          }
          set.add(p)
        }
      }
      level -= 1
    }
    val out = new Array[Any](set.size)
    val oit = set.iterator()
    var o = 0
    while (oit.hasNext) { out(o) = utf8(oit.next()); o += 1 }
    new GenericArrayData(out)
  }

  /** st_ring_area_m2(ring): spherical polygon area (m^2) by the
    * Chamberlain-Duquette spherical-excess approximation (the turf.js /
    * NASA JPL formula): |sum over edges of (lam2 - lam1) * (sin phi1 +
    * sin phi2)| * R^2 / 2 on the haversine sphere R = 6371008.8 m. Edges
    * pair vertex i with its predecessor (closed ring), the same traversal
    * as pointInPolygon. Exact for rings far from the poles/antimeridian —
    * the same planar-lon precondition the covering machinery enforces.
    * Null for rings with < 3 vertices. */
  def ringAreaM2(ring: ArrayData): java.lang.Double = {
    if (ring == null) return null
    val n = ring.numElements()
    if (n < 3) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      val j = if (i == 0) n - 1 else i - 1
      val vi = ring.getStruct(i, 2)
      val vj = ring.getStruct(j, 2)
      val lam1 = math.toRadians(vj.getDouble(1))
      val lam2 = math.toRadians(vi.getDouble(1))
      val phi1 = math.toRadians(vj.getDouble(0))
      val phi2 = math.toRadians(vi.getDouble(0))
      sum += (lam2 - lam1) * (math.sin(phi1) + math.sin(phi2))
      i += 1
    }
    val r = graft.core.GeoMath.MeanEarthRadiusM
    java.lang.Double.valueOf(math.abs(sum) * r * r / 2.0)
  }

  /** st_ring_perimeter_m(ring): haversine sum over the closed ring's edges
    * (same predecessor pairing as [[ringAreaM2]]). Null for < 2 vertices. */
  def ringPerimeterM(ring: ArrayData): java.lang.Double = {
    if (ring == null) return null
    val n = ring.numElements()
    if (n < 2) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      val j = if (i == 0) n - 1 else i - 1
      val vi = ring.getStruct(i, 2)
      val vj = ring.getStruct(j, 2)
      sum += Dist.haversine(vj.getDouble(0), vj.getDouble(1),
        vi.getDouble(0), vi.getDouble(1))
      i += 1
    }
    java.lang.Double.valueOf(sum)
  }

  /** st_ring_centroid(ring): planar shoelace centroid in (lat, lon) space
    * (adequate for the small, antimeridian-free rings the join machinery
    * accepts; degenerate zero-area rings fall back to the vertex mean).
    * Null for empty rings. */
  def ringCentroid(ring: ArrayData): InternalRow = {
    if (ring == null) return null
    val n = ring.numElements()
    if (n == 0) return null
    var a2 = 0.0 // twice the signed area
    var cx = 0.0
    var cy = 0.0
    var sx = 0.0
    var sy = 0.0
    var i = 0
    while (i < n) {
      val j = if (i == 0) n - 1 else i - 1
      val vi = ring.getStruct(i, 2)
      val vj = ring.getStruct(j, 2)
      val x1 = vj.getDouble(1); val y1 = vj.getDouble(0)
      val x2 = vi.getDouble(1); val y2 = vi.getDouble(0)
      val cross = x1 * y2 - x2 * y1
      a2 += cross
      cx += (x1 + x2) * cross
      cy += (y1 + y2) * cross
      sx += x2
      sy += y2
      i += 1
    }
    val (lat, lon) =
      if (math.abs(a2) < 1e-12) (sy / n, sx / n)
      else (cy / (3.0 * a2), cx / (3.0 * a2))
    new GenericInternalRow(Array[Any](lat, lon))
  }

  /** st_q8_pack(emb): per-vector int8 scalar quantization — the 100 TB
    * embedding-storage lever (8 bytes/dim -> 1 byte/dim + 16 bytes of
    * per-vector affine params; ~4x smaller on disk after parquet byte-array
    * encoding, ~8x in memory). q_i = clamp(floor((v_i - min) / scale + 0.5),
    * 0, 255) with scale = (max - min)/255; a constant vector (scale <= 0)
    * quantizes to all-zeros. Reconstruction is min + q_i * scale — plain
    * double arithmetic an independent SQL engine reproduces exactly, which
    * is what the q77 oracle does. */
  def q8Pack(emb: ArrayData): InternalRow = {
    if (emb == null) return null
    val v = emb.toDoubleArray()
    val n = v.length
    if (n == 0) return null
    var mn = v(0); var mx = v(0)
    var i = 1
    while (i < n) { if (v(i) < mn) mn = v(i); if (v(i) > mx) mx = v(i); i += 1 }
    val scale = (mx - mn) / 255.0
    val q = new Array[Byte](n)
    if (scale > 0) {
      i = 0
      while (i < n) {
        var qi = math.floor((v(i) - mn) / scale + 0.5)
        if (qi > 255.0) qi = 255.0
        q(i) = (qi.toInt & 0xFF).toByte
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](mn, scale, q))
  }

  /** st_q8_cosine(minv, scale, q, b): asymmetric distance computation (ADC)
    * — cosine of a packed int8 vector's RECONSTRUCTION (minv + q_i * scale)
    * against a full-precision query, accumulated exactly like [[cosineSim]]
    * so the SQL mirror (dequantize-then-cosine over the raw table) matches
    * bit-for-bit. Null on length mismatch. */
  def q8Cosine(minv: Double, scale: Double, q: Array[Byte],
               b: ArrayData): java.lang.Double = {
    if (q == null || b == null) return null
    val n = q.length
    if (b.numElements() != n || n == 0) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (b.isNullAt(i)) return null // null element -> NULL, like cosineSim
      val x = minv + (q(i) & 0xFF).toDouble * scale
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / math.max(math.sqrt(na) * math.sqrt(nb), 1e-12))
  }

  // Per-thread IDENTITY memo for the centroid-matrix / cid LITERALS of the
  // IVF kernels: a Literal's ArrayData is ONE shared instance across every
  // row a task evaluates, but toDoubleArray COPIES it per call — at
  // nCentroids x dims = 4096 x 64 that was a 2 MB memcpy per ROW (~1.4 TB
  // over a 64k-sample 10-round fit), dominating the assignment kernel.
  // Four round-robin slots (the two literals of st_ivf_assign — matrix +
  // cids — and the two matrices of st_ivf_assign2 fit on one thread at once
  // without eviction thrash) behind SoftReferences (the GC reclaims a retired fit's matrix
  // instead of it pinning executor-thread memory forever). Identity-keyed,
  // so a non-literal argument (different instance per row) simply misses
  // and pays the copy it always paid.
  private final class ArgMemo {
    val slots = new Array[java.lang.ref.SoftReference[(ArrayData, AnyRef)]](4)
    var next = 0
  }
  private val argMemo: ThreadLocal[ArgMemo] =
    ThreadLocal.withInitial(() => new ArgMemo)
  private def memoized[T <: AnyRef](a: ArrayData, decode: ArrayData => T): T = {
    val m = argMemo.get()
    var i = 0
    while (i < m.slots.length) {
      val ref = m.slots(i)
      if (ref != null) {
        val v = ref.get()
        if (v != null && (v._1 eq a)) return v._2.asInstanceOf[T]
      }
      i += 1
    }
    val arr = decode(a)
    m.slots(m.next) = new java.lang.ref.SoftReference((a, arr: AnyRef))
    m.next = (m.next + 1) % m.slots.length
    arr
  }
  private def cidsOf(a: ArrayData): Array[Long] = memoized(a, _.toLongArray())

  /** Memoized centroid matrix PLUS its per-centroid self-norms: norm(c) is
    * the sqrt of the SAME element-ordered y*y accumulation the kernels'
    * interleaved loop used to recompute per row, so every sim that divides
    * by a cached norm is bit-identical to the inline form — but the norm
    * work (half the inner-loop flops plus a sqrt per centroid per row,
    * all row-invariant) is paid once per literal per thread instead of
    * per row. Norms are computed lazily for the requested `dim` (a literal
    * only ever sees one dim; a change recomputes). */
  private final class CentMat(val cm: Array[Double]) {
    private var normDim: Int = -1
    private var norms: Array[Double] = null
    def normsFor(d: Int): Array[Double] = {
      if (normDim != d) {
        val n = cm.length / d
        norms = new Array[Double](n)
        var c = 0
        while (c < n) {
          val off = c * d
          var nb = 0.0
          var j = 0
          while (j < d) { val y = cm(off + j); nb += y * y; j += 1 }
          norms(c) = math.sqrt(nb)
          c += 1
        }
        normDim = d
      }
      norms
    }
  }
  private def centMatOf(a: ArrayData): CentMat =
    memoized(a, ad => new CentMat(ad.toDoubleArray()))

  /** st_ivf_assign(emb, centsFlat, cids, dim): id of the max-cosine centroid
    * for `emb`, where `centsFlat` is the row-major flattened
    * nCentroids x dim centroid matrix and `cids[c]` is centroid c's id.
    * Centroids MUST be ordered by ascending cid: ties break to the FIRST
    * (strict >), i.e. the smallest cid — the same (sim, -cid) order the
    * previous greatest()-over-structs argmax used, and per-centroid cosines
    * accumulate exactly like [[cosineSim]](emb, cent), so results are
    * bit-identical to that formulation. The matrix arrives as ONE literal
    * (O(n*dim) plan bytes, constant codegen size), which is what lets
    * nCentroids reach the 10^3-10^4 a large corpus needs without blowing
    * the codegen method limit. Null on ragged input. */
  def ivfAssign(emb: ArrayData, centsFlat: ArrayData, cids: ArrayData,
                dim: Int): java.lang.Long = {
    if (emb == null || centsFlat == null || cids == null) return null
    if (dim <= 0 || emb.numElements() != dim) return null
    // a null element must yield NULL (cosineSim's discipline) — toDoubleArray
    // would silently read it as 0.0 and assign a plausible-but-wrong cid.
    // centsFlat/cids are engine-built literals (flattened Array[Double] /
    // Array[Long] — never element-null), so only the data column is scanned.
    var nc = 0
    while (nc < dim) {
      if (emb.isNullAt(nc)) return null
      nc += 1
    }
    val e = emb.toDoubleArray()
    val mat = centMatOf(centsFlat)
    val cm = mat.cm
    val ids = cidsOf(cids)
    val n = ids.length
    if (n == 0 || cm.length != n * dim) return null
    // emb self-norm once; per-centroid dots accumulate element-ordered and
    // the cached self-norms are the same element-ordered accumulation the
    // inline interleaved loop computed, so every sim is bit-identical to
    // cosineSim(emb, cent) — see [[CentMat]]
    val cn = mat.normsFor(dim)
    var na = 0.0
    var i = 0
    while (i < dim) { na += e(i) * e(i); i += 1 }
    val sqna = math.sqrt(na)
    var best = Double.NegativeInfinity
    var bestId = ids(0)
    var c = 0
    while (c < n) {
      val off = c * dim
      var dot = 0.0
      var j = 0
      while (j < dim) {
        dot += e(j) * cm(off + j)
        j += 1
      }
      val sim = dot / math.max(sqna * cn(c), 1e-12)
      if (sim > best) { best = sim; bestId = ids(c) }
      c += 1
    }
    java.lang.Long.valueOf(bestId)
  }

  /** st_ivf_assign2(emb, topFlat, subFlat, dim): TWO-LEVEL (inverted-multi-
    * index style) assignment — argmax cosine over the k1 top-level rows of
    * `topFlat`, then argmax over the winning cluster's k2 rows inside the
    * rectangular (k1*k2) x dim `subFlat` (block c1 occupies rows
    * c1*k2 .. c1*k2+k2-1); returns cid = c1 * k2 + c2. Same accumulation
    * law, strict-> lowest-index tie-break and null discipline as
    * [[ivfAssign]] at each level. k1 + k2 dot products per row instead of
    * the flat kernel's k1*k2 — the per-row flops lever that lets list
    * counts reach the k ~ sqrt(N) ~ 3*10^4 a 10^9-vector corpus wants.
    * DELIBERATELY not identical to a flat argmax over all k1*k2 centroids
    * (the standard IMI approximation — recall is gated on clustered data;
    * full-probe search stays exact regardless of assignment quality). */
  def ivfAssign2(emb: ArrayData, topFlat: ArrayData, subFlat: ArrayData,
                 dim: Int): java.lang.Long = {
    if (emb == null || topFlat == null || subFlat == null) return null
    if (dim <= 0 || emb.numElements() != dim) return null
    var nc = 0
    while (nc < dim) {
      if (emb.isNullAt(nc)) return null
      nc += 1
    }
    val e = emb.toDoubleArray()
    val topM = centMatOf(topFlat)
    val subM = centMatOf(subFlat)
    val tcm = topM.cm
    val scm = subM.cm
    if (tcm.length == 0 || tcm.length % dim != 0) return null
    val k1 = tcm.length / dim
    if (scm.length == 0 || scm.length % (k1.toLong * dim) != 0) return null
    val k2 = scm.length / dim / k1
    val cnT = topM.normsFor(dim)
    val cnS = subM.normsFor(dim)
    var na = 0.0
    var i = 0
    while (i < dim) { na += e(i) * e(i); i += 1 }
    val sqna = math.sqrt(na)
    var best = Double.NegativeInfinity
    var b1 = 0
    var c = 0
    while (c < k1) {
      val off = c * dim
      var dot = 0.0
      var j = 0
      while (j < dim) { dot += e(j) * tcm(off + j); j += 1 }
      val sim = dot / math.max(sqna * cnT(c), 1e-12)
      if (sim > best) { best = sim; b1 = c }
      c += 1
    }
    best = Double.NegativeInfinity
    var b2 = 0
    c = 0
    while (c < k2) {
      val row = b1 * k2 + c
      val off = row * dim
      var dot = 0.0
      var j = 0
      while (j < dim) { dot += e(j) * scm(off + j); j += 1 }
      val sim = dot / math.max(sqna * cnS(row), 1e-12)
      if (sim > best) { best = sim; b2 = c }
      c += 1
    }
    java.lang.Long.valueOf(b1.toLong * k2 + b2)
  }

  /** st_cosine(a, b): cosine similarity of two double arrays — one codegen'd
    * pass with the same left-to-right accumulation order as the
    * zip_with/aggregate formulation (and the SQL oracle), including the
    * 1e-12 denominator floor. */
  def cosineSim(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (a == null || b == null) return null
    // ragged input -> NULL (matching the zip_with formulation's null
    // propagation), never a plausible-but-wrong prefix similarity
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / math.max(math.sqrt(na) * math.sqrt(nb), 1e-12))
  }

  /** Plane vectors for the hyperplane-LSH family, cached per (planes, dims)
    * — md5-derived constants, identical on driver and executors. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()
  private def planesFor(nPlanes: Int, dims: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((nPlanes, dims), { key =>
      Array.tabulate(key._1)(p => Array.tabulate(key._2)(d => Hashing.planeComponent(p, d)))
    })

  /** st_lsh_keys(emb, dims, bands, bitsPerBand) -> array<long> of sign-bit
    * band keys. One codegen'd pass replacing bands*bits interpreted
    * zip_with/aggregate dot products per row; accumulation order matches the
    * HOF formulation bit-for-bit. */
  def lshKeys64(emb: ArrayData, dims: Int, bands: Int, bitsPerBand: Int): ArrayData = {
    if (emb == null || bands <= 0 || bitsPerBand <= 0) return null
    if (emb.numElements() != dims) return null // ragged -> NULL, like cosineSim
    val planes = planesFor(bands * bitsPerBand, dims)
    val n = dims
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var i = 0
      while (i < bitsPerBand) {
        val pl = planes(b * bitsPerBand + i)
        var dot = 0.0
        var d = 0
        while (d < n) {
          dot += emb.getDouble(d) * pl(d)
          d += 1
        }
        if (dot >= 0) key |= (1L << i)
        i += 1
      }
      keys(b) = key
      b += 1
    }
    new GenericArrayData(keys)
  }

  /** st_simhash(words) -> 64-bit SimHash over the word multiset. Word hash =
    * first 8 bytes (big-endian) of md5(word); bit b of the result is set iff
    * the signed vote sum over words of bit b is positive. */
  def simhash64(words: ArrayData): java.lang.Long = {
    if (words == null) return null
    val votes = new Array[Int](64)
    val n = words.numElements()
    var j = 0
    while (j < n) {
      if (!words.isNullAt(j)) {
        val h = Hashing.longBE(Hashing.md5(words.getUTF8String(j).getBytes), 0)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var sh = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sh |= (1L << b); b += 1 }
    java.lang.Long.valueOf(sh)
  }
}
