package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geo scalar functions G1–G3 (razu/demo/csv_luchtfotos/extra.py:1-41).
  *
  * G2 replaces pyproj's EPSG:28992→4326 transform with the published
  * Schreutelkamp & Strang van Hees approximation polynomials (public
  * "Benaderingsformules RD↔WGS84", GM 2001) — pure double arithmetic,
  * codegen'd Column expressions, ~0.5 m accuracy (the reference's
  * bounding boxes are kilometre-scale aerial-photo footprints).
  * Coefficients are in arcseconds; dX/dY are (X−155000)·1e-5,
  * (Y−463000)·1e-5 with X/Y in metres (RD kilometre inputs ×1000 first).
  */
object Geo {

  // (p, q, coefficient) terms for latitude (K) and longitude (L)
  private val K: Seq[(Int, Int, Double)] = Seq(
    (0, 1, 3235.65389), (2, 0, -32.58297), (0, 2, -0.24750),
    (2, 1, -0.84978), (0, 3, -0.06550), (2, 2, -0.01709),
    (1, 0, -0.00738), (4, 0, 0.00530), (2, 3, -0.00039),
    (4, 1, 0.00033), (1, 1, -0.00012))
  private val L: Seq[(Int, Int, Double)] = Seq(
    (1, 0, 5260.52916), (1, 1, 105.94684), (1, 2, 2.45656),
    (3, 0, -0.81885), (1, 3, 0.05594), (3, 1, -0.05607),
    (0, 1, 0.01199), (3, 2, -0.00256), (1, 4, 0.00128),
    (0, 2, 0.00022), (2, 0, -0.00022), (5, 0, 0.00026))

  val lat0 = 52.15517440
  val lon0 = 5.38720621

  // ---- pure functions -------------------------------------------------

  /** G1 — parse "X 136669000 Y 451994996" → (x, y) in RD metres ÷ 1000
    * (extra.py:14-18 divides by 1000: inputs are millimetres). */
  def parseRdCoord(s: String): (Double, Double) = {
    val parts = s.trim.split("\\s+")
    (parts(1).toLong / 1000.0, parts(3).toLong / 1000.0)
  }

  private def ipow(b: Double, e: Int): Double = {
    // explicit multiply chain — libm pow() differs in the last ulp across
    // engines; repeated multiplication is deterministic everywhere
    var r = 1.0
    var i = 0
    while (i < e) { r *= b; i += 1 }
    r
  }

  private def poly(terms: Seq[(Int, Int, Double)], dx: Double, dy: Double): Double = {
    var sum = 0.0
    terms.foreach { case (p, q, c) =>
      sum += c * ipow(dx, p) * ipow(dy, q)
    }
    sum
  }

  /** G2 — RD metres → (lat, lon) WGS84 degrees. */
  def rdToWgs84(x: Double, y: Double): (Double, Double) = {
    val dx = (x - 155000.0) * 1e-5
    val dy = (y - 463000.0) * 1e-5
    (lat0 + poly(K, dx, dy) / 3600.0, lon0 + poly(L, dx, dy) / 3600.0)
  }

  /** G3 — closed 5-point WKT POLYGON from two RD corners (extra.py:29-40;
    * the reference's lat/lon argument order bug is NOT reproduced — we
    * emit `lon lat` per WKT). */
  def wktPolygon(lowerLeft: (Double, Double), upperRight: (Double, Double)): String = {
    val (lat1, lon1) = rdToWgs84(lowerLeft._1, lowerLeft._2)
    val (lat2, lon2) = rdToWgs84(upperRight._1, upperRight._2)
    s"POLYGON(($lon1 $lat1, $lon2 $lat1, $lon2 $lat2, $lon1 $lat2, $lon1 $lat1))"
  }

  // ---- Column expressions ---------------------------------------------

  /** G1 column: coordinate string → struct(x, y) in RD metres. */
  def parseRdCoordCol(s: Column): Column = {
    val parts = split(trim(s), "\\s+")
    struct(
      (element_at(parts, 2).cast("long") / 1000.0).as("x"),
      (element_at(parts, 4).cast("long") / 1000.0).as("y"))
  }

  private def ipowCol(b: Column, e: Int): Column =
    if (e == 0) lit(1.0) else (1 until e).foldLeft(b)((acc, _) => acc * b)

  private def polyCol(terms: Seq[(Int, Int, Double)], dx: Column, dy: Column): Column =
    terms.map { case (p, q, c) =>
      lit(c) * ipowCol(dx, p) * ipowCol(dy, q)
    }.reduce(_ + _)

  /** The same polynomial as a DuckDB SQL expression with identical
    * parenthesization/order — lets oracle queries replicate the transform
    * bit-for-bit. `dx`/`dy` are SQL sub-expressions. */
  private def ipowSql(b: String, e: Int): String =
    if (e == 0) "1.0" else Seq.fill(e)(b).mkString("(", " * ", ")")

  private def polySql(terms: Seq[(Int, Int, Double)], dx: String, dy: String): String =
    terms.map { case (p, q, c) =>
      s"($c * ${ipowSql(dx, p)} * ${ipowSql(dy, q)})"
    }.mkString("(", " + ", ")")

  def latSql(x: String, y: String): String = {
    val dx = s"(($x - 155000.0) * 1e-5)"
    val dy = s"(($y - 463000.0) * 1e-5)"
    s"($lat0 + ${polySql(K, dx, dy)} / 3600.0)"
  }

  def lonSql(x: String, y: String): String = {
    val dx = s"(($x - 155000.0) * 1e-5)"
    val dy = s"(($y - 463000.0) * 1e-5)"
    s"($lon0 + ${polySql(L, dx, dy)} / 3600.0)"
  }

  /** G2 columns: (lat, lon) from RD-metre columns. */
  def latCol(x: Column, y: Column): Column = {
    val dx = (x - lit(155000.0)) * lit(1e-5)
    val dy = (y - lit(463000.0)) * lit(1e-5)
    lit(lat0) + polyCol(K, dx, dy) / lit(3600.0)
  }

  def lonCol(x: Column, y: Column): Column = {
    val dx = (x - lit(155000.0)) * lit(1e-5)
    val dy = (y - lit(463000.0)) * lit(1e-5)
    lit(lon0) + polyCol(L, dx, dy) / lit(3600.0)
  }

  /** G3 column: WKT polygon from two corner structs(x, y). The tree
    * repeats each corner's polynomial (lat1 and lon1 3×, lat2 and lon2
    * 2×); only a projection eliminates the repeats, so compute it as a
    * column ahead of a generator such as [[graft.rdf.Build.flattenAll]],
    * never inside one. */
  def wktPolygonCol(ll: Column, ur: Column): Column = {
    val lat1 = latCol(ll("x"), ll("y"))
    val lon1 = lonCol(ll("x"), ll("y"))
    val lat2 = latCol(ur("x"), ur("y"))
    val lon2 = lonCol(ur("x"), ur("y"))
    concat(lit("POLYGON(("),
      lon1, lit(" "), lat1, lit(", "),
      lon2, lit(" "), lat1, lit(", "),
      lon2, lit(" "), lat2, lit(", "),
      lon1, lit(" "), lat2, lit(", "),
      lon1, lit(" "), lat1, lit("))"))
  }
}
