package graft.expr

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** SQL + Column API surface of the engine's geodetic functions.
  *
  * Every function is a StaticInvoke of a static kernel in [[K]] — fully
  * codegen'd inside whole-stage codegen, null-propagating, and foldable when
  * all arguments are literals (so datum constants fold at plan time).
  * `register(spark)` installs them into the session's FunctionRegistry; the
  * Column wrappers below then work via call_function and plain SQL works too.
  */
object GraftFunctions {

  private val Wgs84A = 6378137.0
  private val Wgs84F = 1.0 / 298.257223563

  // ---- result schemas ----------------------------------------------------

  val PointT: StructType = new StructType()
    .add("lat", DoubleType).add("lon", DoubleType)
  val GeoHT: StructType = new StructType()
    .add("lat", DoubleType).add("lon", DoubleType).add("h", DoubleType)
  val UtmT: StructType = new StructType()
    .add("zone", IntegerType).add("hemisphere", StringType)
    .add("easting", DoubleType).add("northing", DoubleType)
    .add("convergence", DoubleType).add("scale", DoubleType)
  val UtmShortT: StructType = new StructType()
    .add("zone", IntegerType).add("hemisphere", StringType)
    .add("easting", DoubleType).add("northing", DoubleType)
  val MgrsT: StructType = new StructType()
    .add("zone", IntegerType).add("band", StringType)
    .add("e100k", StringType).add("n100k", StringType)
    .add("easting", DoubleType).add("northing", DoubleType)
  val EcefT: StructType = new StructType()
    .add("x", DoubleType).add("y", DoubleType).add("z", DoubleType)
  val BoxT: StructType = new StructType()
    .add("south", DoubleType).add("west", DoubleType)
    .add("north", DoubleType).add("east", DoubleType)
  val OlcAreaT: StructType = new StructType()
    .add("south", DoubleType).add("west", DoubleType)
    .add("north", DoubleType).add("east", DoubleType).add("length", IntegerType)
  val DatumT: StructType = new StructType()
    .add("epsg", LongType).add("short_name", StringType).add("name", StringType)
    .add("ellipsoid_epsg", LongType).add("a", DoubleType).add("f", DoubleType)
  val TileT: StructType = new StructType()
    .add("z", IntegerType).add("x", LongType).add("y", LongType)
  val GeoFullT: StructType = new StructType()
    .add("lat", DoubleType).add("lon", DoubleType).add("altitude", DoubleType)
    .add("accuracy", DoubleType).add("altitude_accuracy", DoubleType)
  val UtmAltT: StructType = new StructType()
    .add("zone", IntegerType).add("hemisphere", StringType)
    .add("easting", DoubleType).add("northing", DoubleType).add("altitude", DoubleType)
  val Q8T: StructType = new StructType()
    .add("minv", DoubleType).add("scale", DoubleType).add("q", BinaryType)

  // ---- builder helpers ----------------------------------------------------

  private def dbl(e: Expression): Expression = Cast(e, DoubleType)
  private def int(e: Expression): Expression = Cast(e, IntegerType)
  private def lng(e: Expression): Expression = Cast(e, LongType)
  private def str(e: Expression): Expression = Cast(e, StringType)

  private def si(dt: DataType, method: String, args: Seq[Expression],
                 nullable: Boolean = true): Expression =
    StaticInvoke(K.getClass, dt, method, args,
      inputTypes = Nil, propagateNull = true, returnNullable = nullable)

  private val litA = Literal(Wgs84A)
  private val litF = Literal(Wgs84F)
  private val litNaN = Literal(Double.NaN)

  /** Strict-mode flag captured as a plan-time literal at analysis: builders
    * run on the driver per query, so `SET spark.graft.strict=true` applies to
    * subsequently planned queries and ships to executors inside the plan. */
  private def strict: Expression = Literal(
    try org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.strict", "false").trim.toBoolean
    catch { case _: Throwable => false })

  /** name -> (builder, expected arity description). */
  private def fail(name: String, n: Int): Nothing =
    throw new IllegalArgumentException(s"$name: unexpected argument count $n")

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // parsing
    "st_parse_point" -> ((a: Seq[Expression]) => si(PointT, "parsePoint", Seq(str(a.head), strict))),
    "st_parse_point_compat" -> ((a: Seq[Expression]) => si(PointT, "parsePointCompat", Seq(str(a.head), strict))),
    "st_parse_coord" -> ((a: Seq[Expression]) => si(DoubleType, "parseCoord", Seq(str(a.head), strict))),
    "st_parse_utm" -> ((a: Seq[Expression]) => si(UtmShortT, "parseUtm", Seq(str(a.head), strict))),
    "st_parse_mgrs" -> ((a: Seq[Expression]) => si(MgrsT, "parseMgrs", Seq(str(a.head), strict))),
    // geohash
    "st_geohash" -> ((a: Seq[Expression]) =>
      si(StringType, "geohashEncode", Seq(dbl(a(0)), dbl(a(1)), int(a(2)), strict))),
    "st_geohash_decode" -> ((a: Seq[Expression]) => si(PointT, "geohashDecode", Seq(str(a.head), strict))),
    "st_geohash_bounds" -> ((a: Seq[Expression]) => si(BoxT, "geohashBounds", Seq(str(a.head), strict))),
    "st_geohash_adjacent" -> ((a: Seq[Expression]) =>
      si(StringType, "geohashAdjacent", Seq(str(a(0)), str(a(1)), strict))),
    "st_geohash_neighbors" -> ((a: Seq[Expression]) =>
      si(ArrayType(StringType), "geohashNeighbors", Seq(str(a.head), strict))),
    // cells / tiles
    "st_cell" -> ((a: Seq[Expression]) =>
      si(StringType, "cellOf", Seq(dbl(a(0)), dbl(a(1)), int(a(2)), strict))),
    "st_cell_long" -> ((a: Seq[Expression]) =>
      si(LongType, "cellLongOf", Seq(dbl(a(0)), dbl(a(1)), int(a(2)), strict))),
    "st_cell_to_long" -> ((a: Seq[Expression]) => si(LongType, "cellToLongOf", Seq(str(a.head)))),
    "st_cell_parent" -> ((a: Seq[Expression]) =>
      si(StringType, "cellParentOf", Seq(str(a(0)), int(a(1))))),
    "st_cell_disk" -> ((a: Seq[Expression]) =>
      si(ArrayType(StringType), "cellDiskOf", Seq(str(a(0)), int(a(1))))),
    "st_cell_ring" -> ((a: Seq[Expression]) =>
      si(ArrayType(StringType), "cellRingOf", Seq(str(a(0)), int(a(1))))),
    "st_cover_cells" -> ((a: Seq[Expression]) =>
      si(ArrayType(StringType), "coverCells", Seq(a(0), int(a(1))))),
    "st_cover_cells_adaptive" -> ((a: Seq[Expression]) =>
      si(ArrayType(StringType), "coverCellsAdaptive", Seq(a(0), int(a(1)), int(a(2))))),
    // true table-generating function (Generator): LATERAL VIEW-able
    "st_cover_cells_gen" -> ((a: Seq[Expression]) =>
      CoverCellsGen(a(0), int(a(1)), int(a(2)))),
    "st_cover_box" -> ((a: Seq[Expression]) =>
      si(ArrayType(StringType), "coverBoxCells",
        Seq(dbl(a(0)), dbl(a(1)), dbl(a(2)), dbl(a(3)), int(a(4))))),
    "st_tile_id" -> ((a: Seq[Expression]) =>
      si(LongType, "tileIdOf", Seq(dbl(a(0)), dbl(a(1)), int(a(2))))),
    "st_tile" -> ((a: Seq[Expression]) =>
      si(TileT, "tileXyz", Seq(dbl(a(0)), dbl(a(1)), int(a(2))))),
    "st_tile_bounds" -> ((a: Seq[Expression]) =>
      si(BoxT, "tileBoundsOf", Seq(int(a(0)), lng(a(1)), lng(a(2))))),
    "st_tile_center" -> ((a: Seq[Expression]) =>
      si(PointT, "tileCenterOf", Seq(int(a(0)), lng(a(1)), lng(a(2))))),
    "st_tile_polyfill" -> ((a: Seq[Expression]) =>
      si(ArrayType(LongType), "tilePolyfill", Seq(a(0), int(a(1))))),
    // predicates
    "st_point_in_polygon" -> ((a: Seq[Expression]) =>
      si(BooleanType, "pointInPolygon", Seq(dbl(a(0)), dbl(a(1)), a(2)))),
    // multi-ring even-odd PIP: rings = array<array<struct<lat,lon>>> —
    // [outer, hole...] for holes, several outers for a multipolygon
    "st_point_in_polygon_multi" -> ((a: Seq[Expression]) =>
      si(BooleanType, "pointInPolygonMulti", Seq(dbl(a(0)), dbl(a(1)), a(2)))),
    "st_box_contains" -> ((a: Seq[Expression]) =>
      si(BooleanType, "boxContains",
        Seq(dbl(a(0)), dbl(a(1)), dbl(a(2)), dbl(a(3)), dbl(a(4)), dbl(a(5))), nullable = false)),
    // conversions (2-arg / n-arg forms default to WGS84)
    "st_geo_to_utm" -> ((a: Seq[Expression]) => a.length match {
      case 2 => si(UtmT, "geoToUtm", Seq(dbl(a(0)), dbl(a(1)), litA, litF, strict))
      case 4 => si(UtmT, "geoToUtm", Seq(dbl(a(0)), dbl(a(1)), dbl(a(2)), dbl(a(3)), strict))
      case n => fail("st_geo_to_utm", n)
    }),
    "st_utm_to_geo" -> ((a: Seq[Expression]) => a.length match {
      case 4 => si(PointT, "utmToGeo", Seq(int(a(0)), str(a(1)), dbl(a(2)), dbl(a(3)), litA, litF, strict))
      case 6 => si(PointT, "utmToGeo",
        Seq(int(a(0)), str(a(1)), dbl(a(2)), dbl(a(3)), dbl(a(4)), dbl(a(5)), strict))
      case n => fail("st_utm_to_geo", n)
    }),
    "st_utm_to_mgrs" -> ((a: Seq[Expression]) => a.length match {
      case 4 => si(MgrsT, "utmToMgrs", Seq(int(a(0)), str(a(1)), dbl(a(2)), dbl(a(3)), litA, litF, strict))
      case 6 => si(MgrsT, "utmToMgrs",
        Seq(int(a(0)), str(a(1)), dbl(a(2)), dbl(a(3)), dbl(a(4)), dbl(a(5)), strict))
      case n => fail("st_utm_to_mgrs", n)
    }),
    "st_mgrs_to_utm" -> ((a: Seq[Expression]) => a.length match {
      case 6 => si(UtmShortT, "mgrsToUtm",
        Seq(int(a(0)), str(a(1)), str(a(2)), str(a(3)), dbl(a(4)), dbl(a(5)), litA, litF, strict))
      case 8 => si(UtmShortT, "mgrsToUtm",
        Seq(int(a(0)), str(a(1)), str(a(2)), str(a(3)), dbl(a(4)), dbl(a(5)), dbl(a(6)), dbl(a(7)), strict))
      case n => fail("st_mgrs_to_utm", n)
    }),
    "st_geo_to_mgrs" -> ((a: Seq[Expression]) => a.length match {
      case 2 => si(MgrsT, "geoToMgrs", Seq(dbl(a(0)), dbl(a(1)), litA, litF, strict))
      case 4 => si(MgrsT, "geoToMgrs", Seq(dbl(a(0)), dbl(a(1)), dbl(a(2)), dbl(a(3)), strict))
      case n => fail("st_geo_to_mgrs", n)
    }),
    "st_mgrs_to_geo" -> ((a: Seq[Expression]) => a.length match {
      case 6 => si(PointT, "mgrsToGeo",
        Seq(int(a(0)), str(a(1)), str(a(2)), str(a(3)), dbl(a(4)), dbl(a(5)), litA, litF, strict))
      case 8 => si(PointT, "mgrsToGeo",
        Seq(int(a(0)), str(a(1)), str(a(2)), str(a(3)), dbl(a(4)), dbl(a(5)), dbl(a(6)), dbl(a(7)), strict))
      case n => fail("st_mgrs_to_geo", n)
    }),
    "st_band" -> ((a: Seq[Expression]) => si(StringType, "latBandOf", Seq(dbl(a.head)))),
    "st_band_to_hemisphere" -> ((a: Seq[Expression]) =>
      si(StringType, "bandToHemisphereOf", Seq(str(a.head)))),
    "st_utm_zone" -> ((a: Seq[Expression]) =>
      si(IntegerType, "utmZoneOf", Seq(dbl(a(0)), dbl(a(1))))),
    "st_utm_band" -> ((a: Seq[Expression]) =>
      si(StringType, "utmBandOf", Seq(int(a(0)), str(a(1)), dbl(a(2)), dbl(a(3))))),
    "st_geo_to_ecef" -> ((a: Seq[Expression]) => a.length match {
      case 3 => si(EcefT, "geoToEcef", Seq(dbl(a(0)), dbl(a(1)), dbl(a(2)), litA, litF, strict))
      case 5 => si(EcefT, "geoToEcef", Seq(dbl(a(0)), dbl(a(1)), dbl(a(2)), dbl(a(3)), dbl(a(4)), strict))
      case n => fail("st_geo_to_ecef", n)
    }),
    "st_ecef_to_geo" -> ((a: Seq[Expression]) => a.length match {
      case 3 => si(GeoHT, "ecefToGeo", Seq(dbl(a(0)), dbl(a(1)), dbl(a(2)), litA, litF, strict))
      case 5 => si(GeoHT, "ecefToGeo", Seq(dbl(a(0)), dbl(a(1)), dbl(a(2)), dbl(a(3)), dbl(a(4)), strict))
      case n => fail("st_ecef_to_geo", n)
    }),
    // datum transforms
    "st_helmert3" -> ((a: Seq[Expression]) =>
      si(EcefT, "helmert3", a.take(6).map(dbl))),
    "st_helmert7" -> ((a: Seq[Expression]) =>
      si(EcefT, "helmert7", a.take(10).map(dbl))),
    "st_molodensky_badekas" -> ((a: Seq[Expression]) =>
      si(EcefT, "molodenskyBadekas", a.take(13).map(dbl))),
    // abridged Molodensky direct geodetic shift: (lat, lon, h, dx, dy, dz,
    // da, df) on WGS84, or 10-arg with explicit source (a, f)
    "st_molodensky" -> ((a: Seq[Expression]) => a.length match {
      case 8 => si(GeoHT, "molodensky",
        a.take(6).map(dbl) ++ Seq(litA, litF) ++ a.slice(6, 8).map(dbl) ++ Seq(strict))
      case 10 => si(GeoHT, "molodensky", a.take(10).map(dbl) ++ Seq(strict))
      case n => fail("st_molodensky", n)
    }),
    "st_datum_shift" -> ((a: Seq[Expression]) =>
      si(EcefT, "datumShiftToWgs84", Seq(dbl(a(0)), dbl(a(1)), dbl(a(2)), str(a(3)), strict))),
    "st_datum_shift_inv" -> ((a: Seq[Expression]) =>
      si(EcefT, "datumShiftFromWgs84", Seq(dbl(a(0)), dbl(a(1)), dbl(a(2)), str(a(3)), strict))),
    "st_box_center" -> ((a: Seq[Expression]) =>
      si(PointT, "boxCenter", a.take(4).map(dbl), nullable = false)),
    "st_datum" -> ((a: Seq[Expression]) => si(DatumT, "datumInfo", Seq(str(a.head), strict))),
    "st_ellipsoid_a" -> ((a: Seq[Expression]) => si(DoubleType, "ellipsoidA", Seq(str(a.head), strict))),
    "st_ellipsoid_f" -> ((a: Seq[Expression]) => si(DoubleType, "ellipsoidF", Seq(str(a.head), strict))),
    // OLC
    "olc_encode" -> ((a: Seq[Expression]) => a.length match {
      case 2 => si(StringType, "olcEncode", Seq(dbl(a(0)), dbl(a(1)), Literal(10), strict))
      case 3 => si(StringType, "olcEncode", Seq(dbl(a(0)), dbl(a(1)), int(a(2)), strict))
      case n => fail("olc_encode", n)
    }),
    "olc_decode" -> ((a: Seq[Expression]) => si(OlcAreaT, "olcDecode", Seq(str(a.head), strict))),
    "olc_shorten" -> ((a: Seq[Expression]) =>
      si(StringType, "olcShorten", Seq(str(a(0)), dbl(a(1)), dbl(a(2)), strict))),
    "olc_recover" -> ((a: Seq[Expression]) =>
      si(StringType, "olcRecover", Seq(str(a(0)), dbl(a(1)), dbl(a(2)), strict))),
    "olc_is_valid" -> ((a: Seq[Expression]) =>
      si(BooleanType, "olcIsValid", Seq(str(a.head)), nullable = false)),
    "olc_is_short" -> ((a: Seq[Expression]) =>
      si(BooleanType, "olcIsShort", Seq(str(a.head)), nullable = false)),
    "olc_is_full" -> ((a: Seq[Expression]) =>
      si(BooleanType, "olcIsFull", Seq(str(a.head)), nullable = false)),
    "olc_is_padded" -> ((a: Seq[Expression]) =>
      si(BooleanType, "olcIsPadded", Seq(str(a.head)), nullable = false)),
    // distances / wraps
    "st_haversine" -> ((a: Seq[Expression]) =>
      si(DoubleType, "haversine", a.take(4).map(dbl), nullable = false)),
    "st_bearing" -> ((a: Seq[Expression]) =>
      si(DoubleType, "bearing", a.take(4).map(dbl), nullable = false)),
    "st_destination" -> ((a: Seq[Expression]) =>
      si(PointT, "destination", a.take(4).map(dbl))),
    "st_zorder" -> ((a: Seq[Expression]) =>
      si(LongType, "zorder", Seq(dbl(a(0)), dbl(a(1)), int(a(2))), nullable = false)),
    "st_hilbert" -> ((a: Seq[Expression]) =>
      si(LongType, "hilbert", Seq(dbl(a(0)), dbl(a(1)), int(a(2))), nullable = false)),
    "st_vincenty" -> ((a: Seq[Expression]) => a.length match {
      case 4 => si(DoubleType, "vincenty", a.take(4).map(dbl) ++ Seq(litA, litF))
      case 6 => si(DoubleType, "vincenty", a.take(6).map(dbl))
      case n => fail("st_vincenty", n)
    }),
    // quirk-compat variants (Q2/Q4 Gauss-Schreiber series, Q7 wrap90)
    "st_geo_to_utm_compat" -> ((a: Seq[Expression]) => a.length match {
      case 2 => si(UtmT, "geoToUtmCompat", Seq(dbl(a(0)), dbl(a(1)), litA, litF, strict))
      case 4 => si(UtmT, "geoToUtmCompat", Seq(dbl(a(0)), dbl(a(1)), dbl(a(2)), dbl(a(3)), strict))
      case n => fail("st_geo_to_utm_compat", n)
    }),
    "st_utm_to_geo_compat" -> ((a: Seq[Expression]) => a.length match {
      case 4 => si(PointT, "utmToGeoCompat", Seq(int(a(0)), str(a(1)), dbl(a(2)), dbl(a(3)), litA, litF, strict))
      case 6 => si(PointT, "utmToGeoCompat",
        Seq(int(a(0)), str(a(1)), dbl(a(2)), dbl(a(3)), dbl(a(4)), dbl(a(5)), strict))
      case n => fail("st_utm_to_geo_compat", n)
    }),
    "st_wrap90_compat" -> ((a: Seq[Expression]) =>
      si(DoubleType, "wrap90Compat", Seq(dbl(a.head)), nullable = false)),
    "st_wrap90" -> ((a: Seq[Expression]) => si(DoubleType, "wrap90", Seq(dbl(a.head)), nullable = false)),
    "st_wrap180" -> ((a: Seq[Expression]) => si(DoubleType, "wrap180", Seq(dbl(a.head)), nullable = false)),
    "st_wrap360" -> ((a: Seq[Expression]) => si(DoubleType, "wrap360", Seq(dbl(a.head)), nullable = false)),
    // validating constructors (reference Geo/UTM invariants) + extension
    // fields (altitude/accuracy ride through conversions, NaN = missing)
    "st_geo" -> ((a: Seq[Expression]) => a.length match {
      case 2 => si(GeoFullT, "geoCtor", Seq(dbl(a(0)), dbl(a(1)), litNaN, litNaN, litNaN, strict))
      case 3 => si(GeoFullT, "geoCtor", Seq(dbl(a(0)), dbl(a(1)), dbl(a(2)), litNaN, litNaN, strict))
      case 5 => si(GeoFullT, "geoCtor",
        Seq(dbl(a(0)), dbl(a(1)), dbl(a(2)), dbl(a(3)), dbl(a(4)), strict))
      case n => fail("st_geo", n)
    }),
    "st_geo_valid" -> ((a: Seq[Expression]) =>
      si(BooleanType, "geoIsValid", Seq(dbl(a(0)), dbl(a(1))), nullable = false)),
    "st_utm" -> ((a: Seq[Expression]) => a.length match {
      case 4 => si(UtmAltT, "utmCtor",
        Seq(int(a(0)), str(a(1)), dbl(a(2)), dbl(a(3)), litNaN, strict))
      case 5 => si(UtmAltT, "utmCtor",
        Seq(int(a(0)), str(a(1)), dbl(a(2)), dbl(a(3)), dbl(a(4)), strict))
      case n => fail("st_utm", n)
    }),
    "st_utm_valid" -> ((a: Seq[Expression]) =>
      si(BooleanType, "utmIsValid", Seq(int(a(0)), str(a(1))), nullable = false)),
    "st_geohash_auto" -> ((a: Seq[Expression]) =>
      si(StringType, "geohashEncode", Seq(dbl(a(0)), dbl(a(1)), Literal(0), strict))),
    "st_geo_to_utm_full" -> ((a: Seq[Expression]) => a.length match {
      case 3 => si(UtmAltT, "geoToUtmFull", Seq(dbl(a(0)), dbl(a(1)), dbl(a(2)), litA, litF, strict))
      case 5 => si(UtmAltT, "geoToUtmFull",
        Seq(dbl(a(0)), dbl(a(1)), dbl(a(2)), dbl(a(3)), dbl(a(4)), strict))
      case n => fail("st_geo_to_utm_full", n)
    }),
    "st_utm_to_geo_full" -> ((a: Seq[Expression]) => a.length match {
      case 5 => si(GeoHT, "utmToGeoFull",
        Seq(int(a(0)), str(a(1)), dbl(a(2)), dbl(a(3)), dbl(a(4)), litA, litF, strict))
      case 7 => si(GeoHT, "utmToGeoFull",
        Seq(int(a(0)), str(a(1)), dbl(a(2)), dbl(a(3)), dbl(a(4)), dbl(a(5)), dbl(a(6)), strict))
      case n => fail("st_utm_to_geo_full", n)
    }),
    // Helmert-7 with the reference's convention flags (coordinateFrame /
    // inverse, transform.d:66-76)
    "st_helmert7_ex" -> ((a: Seq[Expression]) =>
      si(EcefT, "helmert7Ex", a.take(10).map(dbl) ++
        Seq(Cast(a(10), BooleanType), Cast(a(11), BooleanType)))),
    // text hashing kernels (dedup family)
    "st_minhash" -> ((a: Seq[Expression]) =>
      si(ArrayType(LongType), "minhashSig", Seq(a(0), int(a(1))))),
    "st_simhash" -> ((a: Seq[Expression]) => si(LongType, "simhash64", Seq(a.head))),
    "st_words" -> ((a: Seq[Expression]) =>
      si(ArrayType(StringType), "words", Seq(str(a.head)))),
    "st_langid" -> ((a: Seq[Expression]) => si(StringType, "langId3", Seq(str(a.head)))),
    // k/w are validated at PLAN time when literal (the common case) so a bad
    // argument fails analysis like the other st_* arity checks, instead of
    // aborting mid-task from the per-row kernel require
    "st_winnow" -> ((a: Seq[Expression]) => {
      val kE = int(a(1)); val wE = int(a(2))
      def litVal(e: Expression): Option[Int] =
        if (e.foldable) Option(e.eval()).map(_.asInstanceOf[Int]) else None
      litVal(kE).foreach(k => if (k < 1 || k > 6) throw new IllegalArgumentException(
        s"st_winnow: need 1 <= k <= 6 (got $k) — k <= 6 keeps the base-257 " +
          "rolling hash exactly inside a signed 64-bit value"))
      litVal(wE).foreach(w => if (w < 1) throw new IllegalArgumentException(
        s"st_winnow: need w >= 1 (got $w)"))
      si(ArrayType(LongType), "winnowOf", Seq(str(a(0)), kE, wE))
    }),
    "st_cosine" -> ((a: Seq[Expression]) =>
      si(DoubleType, "cosineSim",
        Seq(Cast(a(0), ArrayType(DoubleType)), Cast(a(1), ArrayType(DoubleType))))),
    "st_compact_cells" -> ((a: Seq[Expression]) =>
      si(ArrayType(StringType), "compactCells",
        Seq(Cast(a(0), ArrayType(StringType))))),
    "st_ring_area_m2" -> ((a: Seq[Expression]) =>
      si(DoubleType, "ringAreaM2", Seq(a(0)))),
    "st_ring_perimeter_m" -> ((a: Seq[Expression]) =>
      si(DoubleType, "ringPerimeterM", Seq(a(0)))),
    "st_ring_centroid" -> ((a: Seq[Expression]) =>
      si(PointT, "ringCentroid", Seq(a(0)))),
    "st_q8_pack" -> ((a: Seq[Expression]) =>
      si(Q8T, "q8Pack", Seq(Cast(a(0), ArrayType(DoubleType))))),
    "st_q8_cosine" -> ((a: Seq[Expression]) =>
      si(DoubleType, "q8Cosine",
        Seq(dbl(a(0)), dbl(a(1)), Cast(a(2), BinaryType),
          Cast(a(3), ArrayType(DoubleType))))),
    "st_ivf_assign" -> ((a: Seq[Expression]) =>
      si(LongType, "ivfAssign",
        Seq(Cast(a(0), ArrayType(DoubleType)), Cast(a(1), ArrayType(DoubleType)),
          Cast(a(2), ArrayType(LongType)), int(a(3))))),
    "st_ivf_assign2" -> ((a: Seq[Expression]) =>
      si(LongType, "ivfAssign2",
        Seq(Cast(a(0), ArrayType(DoubleType)), Cast(a(1), ArrayType(DoubleType)),
          Cast(a(2), ArrayType(DoubleType)), int(a(3))))),
    // AGGREGATE (TypedImperativeAggregate — the analyzer wraps it into an
    // AggregateExpression on resolution); dim must be a foldable int
    "st_vecsum_q40" -> ((a: Seq[Expression]) => {
      require(a.length == 2 && a(1).foldable,
        "st_vecsum_q40(vec, dim): dim must be a literal")
      val d = a(1).eval()
      require(d != null && (d.isInstanceOf[Int] || d.isInstanceOf[Long] ||
          d.isInstanceOf[Short] || d.isInstanceOf[Byte]),
        s"st_vecsum_q40(vec, dim): dim must be a non-null integral literal, got $d")
      VectorSumQ40(Cast(a(0), ArrayType(DoubleType)),
        d.asInstanceOf[Number].intValue())
    }),
    "st_lsh_keys" -> ((a: Seq[Expression]) =>
      si(ArrayType(LongType), "lshKeys64",
        Seq(Cast(a(0), ArrayType(DoubleType)), int(a(1)), int(a(2)), int(a(3))))),
    "st_shingles" -> ((a: Seq[Expression]) =>
      si(ArrayType(StringType), "shinglesOf", Seq(str(a(0)), int(a(1))))),
    // the reference's test-only matrix product (transform.d:38-50), corrected
    "st_matmul" -> ((a: Seq[Expression]) =>
      si(ArrayType(ArrayType(DoubleType)), "matMul",
        Seq(Cast(a(0), ArrayType(ArrayType(DoubleType))),
          Cast(a(1), ArrayType(ArrayType(DoubleType))))))
  )

  @volatile private var registered: Set[Int] = Set.empty

  /** Install all functions into the session's FunctionRegistry (idempotent). */
  def register(spark: SparkSession): Unit = {
    val key = System.identityHashCode(spark.sessionState.functionRegistry)
    if (registered.contains(key)) return
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo(K.getClass.getName, name),
        (exprs: Seq[Expression]) =>
          try builder(exprs)
          catch {
            case _: IndexOutOfBoundsException =>
              throw new IllegalArgumentException(
                s"$name: wrong number of arguments (got ${exprs.length})")
          })
    }
    synchronized { registered += key }
  }

  // ---- Column API (requires register(spark) once per session) -------------

  def st_parse_point(text: Column): Column = call_function("st_parse_point", text)
  def st_parse_coord(text: Column): Column = call_function("st_parse_coord", text)
  def st_parse_utm(text: Column): Column = call_function("st_parse_utm", text)
  def st_parse_mgrs(text: Column): Column = call_function("st_parse_mgrs", text)
  def st_geohash(lat: Column, lon: Column, precision: Column): Column =
    call_function("st_geohash", lat, lon, precision)
  def st_geohash_decode(h: Column): Column = call_function("st_geohash_decode", h)
  def st_geohash_bounds(h: Column): Column = call_function("st_geohash_bounds", h)
  def st_geohash_adjacent(h: Column, dir: Column): Column =
    call_function("st_geohash_adjacent", h, dir)
  def st_geohash_neighbors(h: Column): Column = call_function("st_geohash_neighbors", h)
  def st_cell(lat: Column, lon: Column, level: Column): Column =
    call_function("st_cell", lat, lon, level)
  def st_cell_long(lat: Column, lon: Column, level: Column): Column =
    call_function("st_cell_long", lat, lon, level)
  def st_cell_parent(cell: Column, level: Column): Column =
    call_function("st_cell_parent", cell, level)
  def st_cell_disk(cell: Column, k: Column): Column = call_function("st_cell_disk", cell, k)
  def st_cell_ring(cell: Column, k: Column): Column = call_function("st_cell_ring", cell, k)
  def st_cover_cells(ring: Column, level: Column): Column =
    call_function("st_cover_cells", ring, level)
  def st_tile_id(lat: Column, lon: Column, z: Column): Column =
    call_function("st_tile_id", lat, lon, z)
  def st_tile(lat: Column, lon: Column, z: Column): Column =
    call_function("st_tile", lat, lon, z)
  def st_tile_polyfill(ring: Column, z: Column): Column =
    call_function("st_tile_polyfill", ring, z)
  def st_point_in_polygon(lat: Column, lon: Column, ring: Column): Column =
    call_function("st_point_in_polygon", lat, lon, ring)
  def st_box_contains(s: Column, w: Column, n: Column, e: Column,
                      lat: Column, lon: Column): Column =
    call_function("st_box_contains", s, w, n, e, lat, lon)
  def st_geo_to_utm(lat: Column, lon: Column): Column =
    call_function("st_geo_to_utm", lat, lon)
  def st_utm_to_geo(zone: Column, hemisphere: Column, e: Column, n: Column): Column =
    call_function("st_utm_to_geo", zone, hemisphere, e, n)
  def st_utm_to_mgrs(zone: Column, hemisphere: Column, e: Column, n: Column): Column =
    call_function("st_utm_to_mgrs", zone, hemisphere, e, n)
  def st_geo_to_mgrs(lat: Column, lon: Column): Column =
    call_function("st_geo_to_mgrs", lat, lon)
  def st_geo_to_ecef(lat: Column, lon: Column, h: Column): Column =
    call_function("st_geo_to_ecef", lat, lon, h)
  def st_ecef_to_geo(x: Column, y: Column, z: Column): Column =
    call_function("st_ecef_to_geo", x, y, z)
  def st_haversine(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    call_function("st_haversine", lat1, lon1, lat2, lon2)
  def st_vincenty(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    call_function("st_vincenty", lat1, lon1, lat2, lon2)
  def st_bearing(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    call_function("st_bearing", lat1, lon1, lat2, lon2)
  def st_destination(lat: Column, lon: Column, bearingDeg: Column, distM: Column): Column =
    call_function("st_destination", lat, lon, bearingDeg, distM)
  def st_zorder(lat: Column, lon: Column, bits: Column): Column =
    call_function("st_zorder", lat, lon, bits)
  def st_hilbert(lat: Column, lon: Column, bits: Column): Column =
    call_function("st_hilbert", lat, lon, bits)
  def olc_encode(lat: Column, lon: Column, len: Column): Column =
    call_function("olc_encode", lat, lon, len)
  def olc_decode(code: Column): Column = call_function("olc_decode", code)
  def olc_shorten(code: Column, lat: Column, lon: Column): Column =
    call_function("olc_shorten", code, lat, lon)
  def olc_recover(code: Column, lat: Column, lon: Column): Column =
    call_function("olc_recover", code, lat, lon)
  def olc_is_valid(code: Column): Column = call_function("olc_is_valid", code)
}
