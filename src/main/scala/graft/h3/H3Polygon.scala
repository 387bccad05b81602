package graft.h3

import H3Geo._
import scala.collection.mutable

/**
 * Geometry <-> H3 conversions over WKT geometries: polyfill (centroid
 * containment, reference to_h3.rs:20-40 `polygon_to_cells`), intersecting
 * polyfill (to_h3.rs:136-219), linestring tracing (to_h3.rs:65-99), and the
 * dissolve aggregation cells -> multipolygon (to_geo.rs:45-98
 * `ToLinkedPolygons`), with optional Chaikin smoothing (smoothen.rs:66-106).
 *
 * WKT is the interchange format (x = lng, y = lat, degrees). Point-in-
 * polygon runs in planar lat/lng space (ray casting), matching the
 * reference's use of planar `geo` predicates on coordinates. Unlike the
 * reference (whose planar `geo` predicates silently mis-handle them),
 * antimeridian-crossing rings ARE supported: a ring whose consecutive
 * vertices jump by more than 180 deg of longitude is evaluated in a
 * [0, 360) longitude frame, with query points shifted into the same frame.
 * Polar-cap polygons ARE also supported (again beyond the reference): a
 * ring with ±360° net longitude winding encloses a pole (interior on the
 * LEFT of travel — eastward winding = north cap); containment runs by
 * meridian-crossing parity toward the pole, candidates come from the
 * shell-to-pole latitude band, and boundary tests compare edges in
 * per-pair local longitude frames. Polar bands (cap shell + cap hole)
 * compose naturally.
 */
object H3Polygon {

  // ---------------------------------------------------------------------
  // minimal WKT
  // ---------------------------------------------------------------------

  /** rings as arrays of (lng, lat) degrees; first ring is the shell. */
  final case class Polygon(rings: Array[Array[(Double, Double)]])

  /** `x y [...]` -> (lng, lat); None unless the first two fields are numbers. */
  private def parsePoint(p: String): Option[(Double, Double)] = p.trim.split("\\s+") match {
    case Array(x, y, _*) => for (a <- x.toDoubleOption; b <- y.toDoubleOption) yield (a, b)
    case _ => None
  }

  /** `x y, x y, ...`; None when any point is malformed. */
  private def parseCoordSeq(s: String): Option[Array[(Double, Double)]] = {
    val pts = s.split(",").map(parsePoint)
    if (pts.forall(_.isDefined)) Some(pts.map(_.get)) else None
  }

  /** one polygon's rings; None when a ring is malformed or under 3 points. */
  private def parseRings(s: String): Option[Array[Array[(Double, Double)]]] = {
    val rings = splitTopLevel(s).map(r => parseCoordSeq(stripParens(r)))
    if (rings.exists(r => r.isEmpty || r.get.length < 3)) None else Some(rings.map(_.get).toArray)
  }

  private def splitTopLevel(s: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq
  }

  private def stripParens(s: String): String = {
    val t = s.trim
    if (t.startsWith("(") && t.endsWith(")")) t.substring(1, t.length - 1) else t
  }

  /** a tagged WKT's coordinates: from the first `(`, outer pair stripped; "" without one. */
  private def wktBody(t: String): String =
    if (t.indexOf('(') < 0) "" else stripParens(t.substring(t.indexOf('(')))

  /** parse POLYGON ((...),(...)) -> rings. */
  def parsePolygonWkt(wkt: String): Option[Polygon] = {
    val t = wkt.trim
    val up = t.toUpperCase
    if (!up.startsWith("POLYGON")) return None
    parseRings(wktBody(t)).map(Polygon(_))
  }

  /** parse MULTIPOLYGON (((...)),((...))) -> polygons; also accepts POLYGON. */
  def parseMultiPolygonWkt(wkt: String): Option[Array[Polygon]] = {
    val t = wkt.trim
    val up = t.toUpperCase
    if (up.startsWith("POLYGON")) return parsePolygonWkt(t).map(Array(_))
    if (!up.startsWith("MULTIPOLYGON")) return None
    val polys = splitTopLevel(wktBody(t)).map(p => parseRings(stripParens(p)))
    if (polys.exists(_.isEmpty)) None else Some(polys.map(p => Polygon(p.get)).toArray)
  }

  /** parse LINESTRING (x y, x y, ...). */
  def parseLineStringWkt(wkt: String): Option[Array[(Double, Double)]] = {
    val t = wkt.trim
    if (!t.toUpperCase.startsWith("LINESTRING")) return None
    parseCoordSeq(wktBody(t)).filter(_.length >= 2)
  }

  def polygonWkt(rings: Seq[Seq[(Double, Double)]]): String =
    rings.map(r => r.map { case (x, y) => s"$x $y" }.mkString("(", ", ", ")"))
      .mkString("POLYGON (", ", ", ")")

  def multiPolygonWkt(polys: Seq[Seq[Seq[(Double, Double)]]]): String =
    polys.map(p => p.map(r => r.map { case (x, y) => s"$x $y" }.mkString("(", ", ", ")"))
      .mkString("(", ", ", ")")).mkString("MULTIPOLYGON (", ", ", ")")

  // ---------------------------------------------------------------------
  // antimeridian frame
  // ---------------------------------------------------------------------

  /** shift a longitude into the [0, 360) frame used for antimeridian-
    * crossing polygons (identity when `wrap` is false). */
  @inline private def adjLng(x: Double, wrap: Boolean): Double =
    if (wrap && x < 0) x + 360.0 else x

  private def ringCrossesAntimeridian(ring: Array[(Double, Double)]): Boolean = {
    var i = 0
    while (i < ring.length) {
      val a = ring(i)._1
      val b = ring((i + 1) % ring.length)._1
      if (math.abs(b - a) > 180.0) return true
      i += 1
    }
    false
  }

  /** does any ring of the polygon cross the antimeridian? */
  def crossesAntimeridian(poly: Polygon): Boolean =
    poly.rings.exists(ringCrossesAntimeridian)

  /** rings re-expressed in the [0, 360) longitude frame: negative
    * longitudes gain 360 so a crossing ring becomes contiguous. */
  private def shiftPolygon(poly: Polygon): Polygon =
    Polygon(poly.rings.map(_.map { case (x, y) => (adjLng(x, wrap = true), y) }))

  // ---------------------------------------------------------------------
  // polar caps (engine extension beyond the reference — like the
  // antimeridian frame, the reference's planar geo crate supports neither)
  // ---------------------------------------------------------------------

  /** longitude delta wrapped into (-180, 180]. */
  @inline private def wrapDeltaLng(d0: Double): Double = {
    var d = d0
    while (d > 180.0) d -= 360.0
    while (d <= -180.0) d += 360.0
    d
  }

  /** net longitude winding of a ring, degrees: ±360 for a pole-enclosing
    * ring (it crosses every meridian a net once), ~0 otherwise. Assumes
    * ring edges shorter than 180° of longitude, the same premise as the
    * antimeridian frame. */
  def ringWinding(ring: Array[(Double, Double)]): Double = {
    var w = 0.0
    var i = 0
    while (i < ring.length) {
      w += wrapDeltaLng(ring((i + 1) % ring.length)._1 - ring(i)._1)
      i += 1
    }
    w
  }

  /** +1 when the ring encloses the north pole, -1 the south pole, 0 when
    * it encloses neither. Convention: traveling the ring, the interior is
    * on the LEFT — eastward net winding (+360) puts the north pole inside
    * (a constant-latitude ring walked east has north on its left). */
  def poleEnclosed(ring: Array[(Double, Double)]): Int = {
    val w = ringWinding(ring)
    if (w > 180.0) 1 else if (w < -180.0) -1 else 0
  }

  /** does any ring of the polygon enclose a pole? */
  def enclosesPole(poly: Polygon): Boolean = poly.rings.exists(poleEnclosed(_) != 0)

  /** point-in-cap-ring via meridian-crossing parity: walk the point's
    * meridian toward the enclosed pole and count ring-edge crossings —
    * even parity means the point shares the pole's region, which is the
    * interior by the convention above. Longitude deltas are evaluated per
    * edge in the point's local wrap frame, so no global shift is needed
    * (a cap ring spans all longitudes; no frame makes it contiguous). */
  def pointInCapRing(lng: Double, lat: Double, ring: Array[(Double, Double)],
      pole: Int): Boolean = {
    var crossings = 0
    var i = 0
    while (i < ring.length) {
      val (ax, ay) = ring(i)
      val (bx, by) = ring((i + 1) % ring.length)
      val da = wrapDeltaLng(ax - lng)
      val db = wrapDeltaLng(bx - lng)
      // half-open straddle test (same convention as pointInRing's y-test).
      // Opposite signs alone also match edges straddling the point's
      // ANTI-meridian (da ≈ +179, db ≈ -179); a true meridian crossing has
      // |da - db| < 180 (edges are < 180° long by the format premise).
      if ((da > 0) != (db > 0) && math.abs(da - db) < 180.0) {
        val t = da / (da - db)
        val latX = ay + t * (by - ay)
        if (if (pole > 0) latX > lat else latX < lat) crossings += 1
      }
      i += 1
    }
    crossings % 2 == 0
  }

  /** per-ring containment dispatch for polygons with pole-enclosing
    * rings: cap rings use meridian parity, antimeridian-crossing rings
    * their [0, 360) frame, plain rings planar ray casting. */
  private def pointInRingDispatch(lng: Double, lat: Double,
      ring: Array[(Double, Double)]): Boolean = {
    val pole = poleEnclosed(ring)
    if (pole != 0) pointInCapRing(lng, lat, ring, pole)
    else if (ringCrossesAntimeridian(ring))
      pointInRing(adjLng(lng, wrap = true), lat,
        ring.map { case (x, y) => (adjLng(x, wrap = true), y) })
    else pointInRing(lng, lat, ring)
  }

  /** shell-and-holes containment with per-ring dispatch (cap path). A
    * polar *band* — cap shell with a cap hole closer to the pole — works
    * naturally: inside the shell's cap, outside the hole's. */
  private def pointInPolygonCap(lng: Double, lat: Double, poly: Polygon): Boolean =
    pointInRingDispatch(lng, lat, poly.rings.head) &&
      !poly.rings.tail.exists(h => pointInRingDispatch(lng, lat, h))

  /** latitude band of a cap polygon's candidates: from the equatormost
    * ring vertex to the pole, full longitude range. */
  private def capBbox(poly: Polygon, pole: Int): (Double, Double, Double, Double) = {
    val lats = poly.rings.flatMap(_.iterator.map(_._2))
    if (pole > 0) (-180.0, lats.min, 180.0, 90.0) else (-180.0, -90.0, 180.0, lats.max)
  }

  /** segment intersection with the ring edge re-expressed in the cell
    * edge's local longitude frame (shift by ±360 toward the cell edge's
    * midpoint) — cap rings span all longitudes, so seam-straddling pairs
    * must be compared locally, not in one global frame. */
  private def segmentsIntersectLocal(ax0: Double, ay: Double, bx0: Double, by: Double,
      cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    val mid = (cx + dx) / 2.0
    val ax = mid + wrapDeltaLng(ax0 - mid)
    val bx = ax + wrapDeltaLng(bx0 - ax0)
    segmentsIntersect(ax, ay, bx, by, cx, cy, dx, dy)
  }

  /** exact cell-vs-polygon intersection for pole-enclosing polygons:
    * centroid/vertex containment via the cap dispatch, plus local-frame
    * edge crossing and polygon-vertex-in-cell tests. */
  private def cellIntersectsPolygonCap(c: Long, poly: Polygon): Boolean = {
    val g = cellToLatLng(c)
    if (pointInPolygonCap(g.lng, g.lat, poly)) return true
    val verts = cellToBoundary(c)
    if (verts.exists(v => pointInPolygonCap(v.lng, v.lat, poly))) return true
    val cellCtrLng = g.lng
    // cell ring normalized into the cell-center frame so seam-straddling
    // cells stay contiguous (a cell at ±180 otherwise reads as a bowtie)
    val cellRing = verts.map(v => (cellCtrLng + wrapDeltaLng(v.lng - cellCtrLng), v.lat))
    // polygon vertex inside the cell (cell ring is contiguous in its own
    // frame; shift the vertex into it)
    val vertexInCell = poly.rings.exists(_.exists { case (x, y) =>
      pointInRing(cellCtrLng + wrapDeltaLng(x - cellCtrLng), y, cellRing)
    })
    vertexInCell || poly.rings.exists { ring =>
      var i = 0
      var hit = false
      while (i < ring.length && !hit) {
        val (ax, ay) = ring(i)
        val (bx, by) = ring((i + 1) % ring.length)
        var j = 0
        while (j < cellRing.length && !hit) {
          val (cx, cy) = cellRing(j)
          val (dx, dy) = cellRing((j + 1) % cellRing.length)
          hit = segmentsIntersectLocal(ax, ay, bx, by, cx, cy, dx, dy)
          j += 1
        }
        i += 1
      }
      hit
    }
  }

  // ---------------------------------------------------------------------
  // planar predicates
  // ---------------------------------------------------------------------

  /** ray-casting point-in-ring on (lng, lat) planar coordinates. */
  def pointInRing(lng: Double, lat: Double, ring: Array[(Double, Double)]): Boolean = {
    var inside = false
    var i = 0
    var j = ring.length - 1
    while (i < ring.length) {
      val (xi, yi) = ring(i)
      val (xj, yj) = ring(j)
      if (((yi > lat) != (yj > lat)) &&
          (lng < (xj - xi) * (lat - yi) / (yj - yi) + xi)) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** inside the shell and outside every hole. */
  def pointInPolygon(lng: Double, lat: Double, poly: Polygon): Boolean =
    pointInRing(lng, lat, poly.rings.head) &&
      !poly.rings.tail.exists(h => pointInRing(lng, lat, h))

  private def segmentsIntersect(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    def orient(px: Double, py: Double, qx: Double, qy: Double, rx: Double, ry: Double): Double =
      (qx - px) * (ry - py) - (qy - py) * (rx - px)
    val o1 = orient(ax, ay, bx, by, cx, cy)
    val o2 = orient(ax, ay, bx, by, dx, dy)
    val o3 = orient(cx, cy, dx, dy, ax, ay)
    val o4 = orient(cx, cy, dx, dy, bx, by)
    (o1 * o2 < 0) && (o3 * o4 < 0)
  }

  // ---------------------------------------------------------------------
  // polyfill
  // ---------------------------------------------------------------------

  /** max center-to-vertex arc per res, with safety margin, for coarse
    * candidate pruning. */
  lazy val maxCellRadiusRads: Array[Double] = {
    val r0 = H3Core.res0Cells().map { c =>
      val ctr = cellToLatLngRads(c)
      cellToBoundaryRads(c).map(v => greatCircleDistanceRads(ctr, v)).max
    }.max
    Array.tabulate(MaxRes + 1)(r => r0 * math.pow(1.0 / Sqrt7, r) * 1.35 + 1e-12)
  }

  private def bboxOf(poly: Polygon): (Double, Double, Double, Double) = {
    var minX = Double.MaxValue; var minY = Double.MaxValue
    var maxX = Double.MinValue; var maxY = Double.MinValue
    for (ring <- poly.rings; (x, y) <- ring) {
      if (x < minX) minX = x; if (x > maxX) maxX = x
      if (y < minY) minY = y; if (y > maxY) maxY = y
    }
    (minX, minY, maxX, maxY)
  }

  /** spherical distance from a point to a lat/lng-aligned bbox (approx:
    * clamp then haversine). Clamping must happen in the bbox's longitude
    * frame: a point at lng +179.8 is 0.2 deg from a bbox ending at -180,
    * not 358 deg — so the point is tried at lng, lng-360 and lng+360 and
    * the nearest representative wins. */
  private def distToBboxRads(lat: Double, lng: Double,
      minX: Double, minY: Double, maxX: Double, maxY: Double): Double = {
    val cy = math.max(minY, math.min(maxY, lat))
    var best = Double.MaxValue
    var k = -1
    while (k <= 1) {
      val lngK = lng + k * 360.0
      val cx = math.max(minX, math.min(maxX, lngK))
      val d = greatCircleDistanceRads(
        LatLng(math.toRadians(lat), math.toRadians(lngK)),
        LatLng(math.toRadians(cy), math.toRadians(cx)))
      if (d < best) best = d
      k += 1
    }
    best
  }

  /** hierarchical candidate cells at `res` whose center could fall in (or
    * whose body could touch) the polygon bbox. `wrap` means `poly` is
    * already in the [0, 360) frame and cell longitudes are shifted to
    * match (haversine is periodic, so the distance stays exact). */
  private def candidateCells(poly: Polygon, res: Int, wrap: Boolean): Array[Long] =
    candidateCellsBbox(bboxOf(poly), res, wrap)

  private def candidateCellsBbox(bbox: (Double, Double, Double, Double), res: Int,
      wrap: Boolean): Array[Long] = {
    val (minX, minY, maxX, maxY) = bbox
    var cells: Array[Long] = H3Core.res0Cells().filter { c =>
      val g = cellToLatLng(c)
      distToBboxRads(g.lat, adjLng(g.lng, wrap), minX, minY, maxX, maxY) <= maxCellRadiusRads(0)
    }
    var r = 1
    while (r <= res) {
      cells = cells.flatMap(c => H3Core.cellToChildren(c, r)).filter { c =>
        val g = cellToLatLng(c)
        distToBboxRads(g.lat, adjLng(g.lng, wrap), minX, minY, maxX, maxY) <= maxCellRadiusRads(r)
      }
      r += 1
    }
    cells
  }

  /** candidate band for a pole-enclosing polygon: full longitudes, shell
    * latitudes to the pole (whole sphere when only a hole winds — a
    * degenerate input, but it must stay correct). */
  private def capCandidates(poly: Polygon, res: Int): Array[Long] = {
    val shellPole = poleEnclosed(poly.rings.head)
    val bbox = if (shellPole != 0) capBbox(poly, shellPole)
      else (-180.0, -90.0, 180.0, 90.0)
    candidateCellsBbox(bbox, res, wrap = false)
  }

  /** all cells at `res` whose *centroid* is inside the polygon (the
    * reference's polyfill semantics, to_h3.rs:227-247). Sorted. */
  def polygonToCells(poly: Polygon, res: Int): Array[Long] = {
    if (enclosesPole(poly)) {
      val out = capCandidates(poly, res).filter { c =>
        val g = cellToLatLng(c)
        pointInPolygonCap(g.lng, g.lat, poly)
      }
      java.util.Arrays.sort(out)
      return out
    }
    val wrap = crossesAntimeridian(poly)
    val p = if (wrap) shiftPolygon(poly) else poly
    val out = candidateCells(p, res, wrap).filter { c =>
      val g = cellToLatLng(c)
      pointInPolygon(adjLng(g.lng, wrap), g.lat, p)
    }
    java.util.Arrays.sort(out)
    out
  }

  def polygonToCells(wkt: String, res: Int): Array[Long] =
    parseMultiPolygonWkt(wkt) match {
      case Some(polys) =>
        val all = polys.flatMap(p => polygonToCells(p, res)).distinct
        java.util.Arrays.sort(all)
        all
      case None => Array.emptyLongArray
    }

  /** does the cell's polygon intersect the query polygon (exact stage of
    * the two-stage spatial predicate, mod.rs:235-253)? */
  def cellIntersectsPolygon(c: Long, poly: Polygon): Boolean = {
    if (enclosesPole(poly)) return cellIntersectsPolygonCap(c, poly)
    val wrap = crossesAntimeridian(poly)
    if (wrap) {
      // [0, 360) frame. Shifting scrambles rings of cells near lng 0 (a
      // -0.01..0.01 cell becomes a 0..360 bowtie), so first prune cells
      // that are provably farther from the polygon bbox than one cell
      // radius — only near-antimeridian cells reach the exact test, and
      // those shift contiguously.
      val p = shiftPolygon(poly)
      val (minX, minY, maxX, maxY) = bboxOf(p)
      val g0 = cellToLatLng(c)
      val res = H3Core.getResolution(c)
      if (distToBboxRads(g0.lat, adjLng(g0.lng, wrap = true), minX, minY, maxX, maxY) >
          maxCellRadiusRads(res)) return false
      return cellIntersectsPolygonFrame(c, p, wrap = true)
    }
    cellIntersectsPolygonFrame(c, poly, wrap = false)
  }

  private def cellIntersectsPolygonFrame(c: Long, poly: Polygon, wrap: Boolean): Boolean = {
    val g = cellToLatLng(c)
    if (pointInPolygon(adjLng(g.lng, wrap), g.lat, poly)) true
    else {
      val verts = cellToBoundary(c)
      // any cell vertex inside the polygon
      verts.exists(v => pointInPolygon(adjLng(v.lng, wrap), v.lat, poly)) || {
        // any polygon vertex inside the cell, or edge crossing
        val cellRing = verts.map(v => (adjLng(v.lng, wrap), v.lat))
        poly.rings.exists(_.exists { case (x, y) => pointInRing(x, y, cellRing) }) ||
          poly.rings.exists { ring =>
            var i = 0
            var hit = false
            while (i < ring.length && !hit) {
              val (ax, ay) = ring(i)
              val (bx, by) = ring((i + 1) % ring.length)
              var j = 0
              while (j < cellRing.length && !hit) {
                val (cx, cy) = cellRing(j)
                val (dx, dy) = cellRing((j + 1) % cellRing.length)
                hit = segmentsIntersect(ax, ay, bx, by, cx, cy, dx, dy)
                j += 1
              }
              i += 1
            }
            hit
          }
      }
    }
  }

  /** cells whose *polygon intersects* the polygon: centroid-contained plus
    * boundary-touching cells (reference ToIntersectingH3Cells semantics,
    * to_h3.rs:136-219). */
  def polygonToCellsIntersecting(poly: Polygon, res: Int): Array[Long] = {
    if (enclosesPole(poly)) {
      val out = capCandidates(poly, res).filter(cellIntersectsPolygonCap(_, poly))
      java.util.Arrays.sort(out)
      return out
    }
    val wrap = crossesAntimeridian(poly)
    val p = if (wrap) shiftPolygon(poly) else poly
    val out = candidateCells(p, res, wrap).filter(cellIntersectsPolygonFrame(_, p, wrap))
    java.util.Arrays.sort(out)
    out
  }

  def polygonToCellsIntersecting(wkt: String, res: Int): Array[Long] =
    parseMultiPolygonWkt(wkt) match {
      case Some(polys) =>
        val all = polys.flatMap(p => polygonToCellsIntersecting(p, res)).distinct
        java.util.Arrays.sort(all)
        all
      case None => Array.emptyLongArray
    }

  /** trace a linestring: per-segment grid paths, deduplicated in traversal
    * order (reference to_h3.rs:65-99 via line()). */
  def lineStringToCells(pts: Array[(Double, Double)], res: Int): Array[Long] = {
    val seen = mutable.LinkedHashSet.empty[Long]
    var i = 0
    while (i < pts.length - 1) {
      val a = latLngToCell(pts(i)._2, pts(i)._1, res)
      val b = latLngToCell(pts(i + 1)._2, pts(i + 1)._1, res)
      if (a != H3Core.H3Null && b != H3Core.H3Null) {
        val path = H3Traversal.gridPathCells(a, b)
        if (path.nonEmpty) path.foreach(seen += _)
        else { seen += a; seen += b } // cross-face path failure: keep endpoints
      }
      i += 1
    }
    seen.toArray
  }

  def lineStringToCells(wkt: String, res: Int): Array[Long] =
    parseLineStringWkt(wkt).map(lineStringToCells(_, res)).getOrElse(Array.emptyLongArray)

  /** G6: upper-bound estimate of `polygonToCells` output size without
    * materializing cells (reference `max_polygon_to_cells_size`,
    * to_h3.rs:221) — spherical bbox area over average hexagon area, plus
    * a boundary allowance. Driver-side sizing helper. */
  def maxPolygonToCellsSize(wkt: String, res: Int): Long =
    parseMultiPolygonWkt(wkt) match {
      case Some(polys) =>
        polys.map { poly =>
          // crossing shells get their bbox measured in the [0, 360) frame,
          // else lngMax - lngMin balloons to ~360 and the bound is useless
          val shell = (if (crossesAntimeridian(poly)) shiftPolygon(poly) else poly).rings.head
          val latMin = shell.map(_._2).min; val latMax = shell.map(_._2).max
          val lngMin = shell.map(_._1).min; val lngMax = shell.map(_._1).max
          val r = H3Geo.EarthRadiusKm
          val areaKm2 = math.abs(
            (math.sin(math.toRadians(latMax)) - math.sin(math.toRadians(latMin))) *
              math.toRadians(lngMax - lngMin)) * r * r
          val hexKm2 = graft.expr.H3GeoBridge.hexagonAreaAvgKm2(res).doubleValue()
          (areaKm2 / hexKm2 * 1.2).toLong + 16L
        }.sum
      case None => 0L
    }

  /** Generic WKT geometry -> cells, the reference's full `ToH3Cells` enum
    * dispatch (to_h3.rs:112-127): POINT / MULTIPOINT (containing cell per
    * point), LINESTRING / MULTILINESTRING (grid-path trace), POLYGON /
    * MULTIPOLYGON (centroid polyfill), GEOMETRYCOLLECTION (recursive
    * union). Output: sorted distinct cells; unknown/invalid WKT -> empty
    * (NULL at the expression layer). */
  def geometryToCells(wkt: String, res: Int): Array[Long] = {
    val t = wkt.trim
    val up = t.toUpperCase
    def pointCell(p: String): Option[Long] =
      parsePoint(p).map { case (x, y) => latLngToCell(y, x, res) }.filter(_ != H3Core.H3Null)
    val cells: Array[Long] =
      if (up.startsWith("GEOMETRYCOLLECTION")) {
        splitTopLevel(wktBody(t)).toArray.flatMap(g => geometryToCells(g.trim, res))
      } else if (up.startsWith("MULTIPOINT")) {
        // both MULTIPOINT (1 2, 3 4) and MULTIPOINT ((1 2), (3 4))
        splitTopLevel(wktBody(t)).toArray.flatMap(p => pointCell(stripParens(p)))
      } else if (up.startsWith("POINT")) {
        pointCell(wktBody(t)).toArray
      } else if (up.startsWith("MULTILINESTRING")) {
        splitTopLevel(wktBody(t)).toArray
          .flatMap(l => parseCoordSeq(stripParens(l)).toArray.flatMap(lineStringToCells(_, res)))
      } else if (up.startsWith("LINESTRING")) {
        lineStringToCells(t, res)
      } else if (up.startsWith("POLYGON") || up.startsWith("MULTIPOLYGON")) {
        polygonToCells(t, res)
      } else Array.emptyLongArray
    val out = cells.distinct
    java.util.Arrays.sort(out)
    out
  }

  // ---------------------------------------------------------------------
  // dissolve: cells -> merged (multi)polygon
  // ---------------------------------------------------------------------

  private def quantKey(lat: Double, lng: Double): (Long, Long) =
    (math.round(lat * 1e9), math.round(lng * 1e9))

  /**
   * Merge a set of cells into polygon rings: collect every cell's boundary
   * edges, cancel edges shared by two cells, link the survivors into closed
   * rings (reference ToLinkedPolygons, to_geo.rs:45-98). Returns outer
   * rings with their holes as WKT MULTIPOLYGON. Optional Chaikin smoothing
   * pass (to_geo.rs smoothen, smoothen.rs:66-106).
   */
  private def triArea(a: (Double, Double), b: (Double, Double), c: (Double, Double)): Double =
    math.abs((b._1 - a._1) * (c._2 - a._2) - (c._1 - a._1) * (b._2 - a._2)) / 2.0

  /** Visvalingam-Whyatt simplification (reference smoothen.rs:53-63 via
    * geo `SimplifyVw`): repeatedly drop the interior vertex with the
    * smallest effective triangle area while that minimum stays under
    * `eps`; endpoints are never dropped. Rings here are tens-to-hundreds
    * of vertices, so the O(n^2) greedy scan is simpler than a heap and
    * equivalent in output. */
  private def simplifyVw(pts: Array[(Double, Double)], eps: Double): Array[(Double, Double)] = {
    if (pts.length < 3) return pts
    val alive = mutable.ArrayBuffer.from(pts)
    var removedOne = true
    while (removedOne && alive.length > 2) {
      var minIdx = -1
      var minArea = Double.MaxValue
      var i = 1
      while (i < alive.length - 1) {
        val a = triArea(alive(i - 1), alive(i), alive(i + 1))
        if (a < minArea) { minArea = a; minIdx = i }
        i += 1
      }
      if (minIdx >= 0 && minArea < eps) alive.remove(minIdx)
      else removedOne = false
    }
    alive.toArray
  }

  def cellsToMultiPolygonWkt(cells: Array[Long], smoothen: Boolean = false): String = {
    val distinct = cells.distinct.filter(H3Core.isValidCell)
    // directed boundary edges with canceled interior pairs
    val edges = mutable.Map.empty[((Long, Long), (Long, Long)), ((Double, Double), (Double, Double))]
    for (c <- distinct) {
      val verts = cellToBoundary(c)
      var i = 0
      while (i < verts.length) {
        val a = verts(i)
        val b = verts((i + 1) % verts.length)
        val ka = quantKey(a.lat, a.lng)
        val kb = quantKey(b.lat, b.lng)
        if (edges.contains((kb, ka))) edges.remove((kb, ka))
        else edges(((ka, kb))) = ((a.lng, a.lat), (b.lng, b.lat))
        i += 1
      }
    }
    // link rings
    val byStart = mutable.Map.empty[(Long, Long), mutable.Queue[((Long, Long), ((Double, Double), (Double, Double)))]]
    for ((k @ (ka, kb), v) <- edges)
      byStart.getOrElseUpdate(ka, mutable.Queue.empty) += ((kb, (v)))
    val rings = mutable.ArrayBuffer.empty[Array[(Double, Double)]]
    while (byStart.nonEmpty) {
      val (startKey, q) = byStart.head
      val ring = mutable.ArrayBuffer.empty[(Double, Double)]
      var cur = startKey
      var guard = 0
      var open = true
      while (open && guard < 1000000) {
        byStart.get(cur) match {
          case Some(queue) if queue.nonEmpty =>
            val (next, (p0, _)) = queue.dequeue()
            if (queue.isEmpty) byStart.remove(cur)
            ring += p0
            cur = next
            if (cur == startKey) open = false
          case _ => open = false
        }
        guard += 1
      }
      if (ring.length >= 3) rings += ring.toArray
    }
    // classify rings: planar signed area; boundary edges emitted in cell
    // (ccw) order make outers ccw (positive) and holes cw
    def signedArea(ring: Array[(Double, Double)]): Double = {
      var s = 0.0
      var i = 0
      while (i < ring.length) {
        val (x1, y1) = ring(i)
        val (x2, y2) = ring((i + 1) % ring.length)
        s += x1 * y2 - x2 * y1
        i += 1
      }
      s / 2.0
    }
    def maybeSmooth(ring: Array[(Double, Double)]): Array[(Double, Double)] =
      if (!smoothen || ring.length < 3) ring
      else {
        // reference smoothing (smoothen.rs:17-64), both passes:
        // 1. modified Chaikin — hexagon edges are equal length, so ONE
        //    midpoint per edge replaces the two classic cut points; the
        //    ring's closing vertex is preserved and the ring rotated by 4
        //    so the VW-fixed endpoints sit away from the seam
        val n = ring.length
        val mids = Array.tabulate(n) { i =>
          val (x1, y1) = ring(i); val (x2, y2) = ring((i + 1) % n)
          (0.5 * x1 + 0.5 * x2, 0.5 * y1 + 0.5 * y2)
        }
        val out = mids :+ ring(0)
        val r = math.min(out.length, 4)
        val rotated = out.takeRight(r) ++ out.dropRight(r)
        // 2. Visvalingam-Whyatt sweep dropping vertices whose effective
        //    triangle area is under 0.75x the hexagon corner area (the
        //    triangle of the first three PRE-smoothing ring vertices)
        simplifyVw(rotated, 0.75 * triArea(ring(0), ring(1), ring(2)))
      }
    // cell boundary rings share one orientation (whatever sign that is in
    // planar lng/lat); outer rings of the dissolved region inherit it and
    // holes get the opposite. Detect the orientation from an actual cell.
    val cellOrientation = if (distinct.isEmpty) 1.0 else {
      val verts = cellToBoundary(distinct.head)
      signedArea(verts.map(v => (v.lng, v.lat)))
    }
    val outerSign = math.signum(cellOrientation)
    val outers = rings.filter(r => signedArea(r) * outerSign > 0).map(maybeSmooth)
    val holes = rings.filter(r => signedArea(r) * outerSign < 0).map(maybeSmooth)
    // attach each hole to the *smallest-area* outer ring containing its
    // first vertex — the innermost parent. With nested outers (an island
    // inside a hole inside a larger outer) the first-containing rule would
    // attach the hole to the outermost ring, producing an overlapping
    // multipolygon.
    val outerAreas = outers.map(o => math.abs(signedArea(o)))
    val holeParent: Array[Int] = holes.map { h =>
      val (x, y) = h.head
      val containing = outers.indices.filter(oi => pointInRing(x, y, outers(oi)))
      if (containing.isEmpty) -1 else containing.minBy(outerAreas)
    }.toArray
    val grouped = outers.indices.map { oi =>
      val o = outers(oi)
      val hs = holes.indices.filter(hi => holeParent(hi) == oi).map(holes)
      (o +: hs).map(r => (r :+ r.head).toSeq: Seq[(Double, Double)]).toSeq
    }.toSeq
    multiPolygonWkt(grouped)
  }
}
