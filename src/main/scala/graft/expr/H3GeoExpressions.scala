package graft.expr

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/**
 * Catalyst expressions for the geometry/traversal catalog (SURVEY.md §2.1
 * S1-S3, S10-S14, S18, S20; §2.2 E3-E8; §2.3 G1-G7; §2.6 X4-X6). Same
 * bridge-call bases as [[H3Expressions]], calling into [[H3GeoBridge]];
 * geometry ops with foldable inputs (e.g. polyfill of a literal WKT)
 * constant-fold at plan time.
 */

object H3GeoTypes {
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  val cellArray: ArrayType = ArrayType(LongType, containsNull = false)
  val coordArray: ArrayType = ArrayType(DoubleType, containsNull = false)
  val latLngStruct: StructType = struct("lat" -> DoubleType, "lng" -> DoubleType)
  val bboxStruct: StructType = struct("min_lat" -> DoubleType, "min_lng" -> DoubleType,
    "max_lat" -> DoubleType, "max_lng" -> DoubleType)
  val cellDistStruct: StructType = struct("cell" -> LongType, "k" -> IntegerType)
  val cellDistArray: ArrayType = ArrayType(cellDistStruct, containsNull = false)
  val edgeCellsStruct: StructType = struct("origin" -> LongType, "destination" -> LongType)
  val localIjStruct: StructType = struct("i" -> IntegerType, "j" -> IntegerType)
}

import H3GeoTypes._

// ---- S1: (lat, lng, res) -> cell ------------------------------------------

case class H3LatLngToCell(first: Expression, second: Expression, third: Expression)
    extends H3TernaryBridge("h3_latlng_to_cell", DoubleType, DoubleType, IntegerType, LongType,
      "H3GeoBridge.latLngToCell", H3GeoBridge.latLngToCell) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(first = a, second = b, third = c)
}

// ---- unary geometry scalars ------------------------------------------------

case class H3CellToLatLng(child: Expression) extends H3UnaryBridge("h3_cell_to_latlng",
    LongType, latLngStruct, "H3GeoBridge.cellToLatLng", H3GeoBridge.cellToLatLng) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3CellToBoundaryWkt(child: Expression) extends H3UnaryBridge("h3_cell_to_boundary_wkt",
    LongType, StringType, "H3GeoBridge.cellToBoundaryWkt", H3GeoBridge.cellToBoundaryWkt) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3CellBBox(child: Expression) extends H3UnaryBridge("h3_cell_bbox",
    LongType, bboxStruct, "H3GeoBridge.cellBBox", H3GeoBridge.cellBBox) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3CellToBoundary(child: Expression) extends H3UnaryBridge("h3_cell_to_boundary",
    LongType, ArrayType(latLngStruct, containsNull = false),
    "H3GeoBridge.cellToBoundary", H3GeoBridge.cellToBoundary) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3EdgeBBox(child: Expression) extends H3UnaryBridge("h3_edge_bbox",
    LongType, bboxStruct, "H3GeoBridge.edgeBBox", H3GeoBridge.edgeBBox) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3CellAreaRads2(child: Expression) extends H3UnaryBridge("h3_cell_area_rads2",
    LongType, DoubleType, "H3GeoBridge.cellAreaRads2", H3GeoBridge.cellAreaRads2) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3CellAreaKm2(child: Expression) extends H3UnaryBridge("h3_cell_area_km2",
    LongType, DoubleType, "H3GeoBridge.cellAreaKm2", H3GeoBridge.cellAreaKm2) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3CellAreaM2(child: Expression) extends H3UnaryBridge("h3_cell_area_m2",
    LongType, DoubleType, "H3GeoBridge.cellAreaM2", H3GeoBridge.cellAreaM2) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

// ---- edge topology ---------------------------------------------------------

case class H3EdgeDestination(child: Expression) extends H3UnaryBridge("h3_edge_destination",
    LongType, LongType, "H3GeoBridge.edgeDestination", H3GeoBridge.edgeDestination) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3EdgeReverse(child: Expression) extends H3UnaryBridge("h3_edge_reverse",
    LongType, LongType, "H3GeoBridge.edgeReverse", H3GeoBridge.edgeReverse) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3EdgeCells(child: Expression) extends H3UnaryBridge("h3_edge_cells",
    LongType, edgeCellsStruct, "H3GeoBridge.edgeCells", H3GeoBridge.edgeCells) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3EdgeBoundaryWkt(child: Expression) extends H3UnaryBridge("h3_edge_boundary_wkt",
    LongType, StringType, "H3GeoBridge.edgeBoundaryWkt", H3GeoBridge.edgeBoundaryWkt) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3EdgeLengthKm(child: Expression) extends H3UnaryBridge("h3_edge_length_km",
    LongType, DoubleType, "H3GeoBridge.edgeLengthKm", H3GeoBridge.edgeLengthKm) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3EdgeLengthM(child: Expression) extends H3UnaryBridge("h3_edge_length_m",
    LongType, DoubleType, "H3GeoBridge.edgeLengthM", H3GeoBridge.edgeLengthM) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3CellsToDirectedEdge(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_cells_to_directed_edge", LongType, LongType, LongType,
      "H3GeoBridge.cellsToDirectedEdge", H3GeoBridge.cellsToDirectedEdge) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

// ---- traversal -------------------------------------------------------------

case class H3GridDisk(left: Expression, right: Expression) extends H3BinaryBridge("h3_grid_disk",
    LongType, IntegerType, cellArray, "H3GeoBridge.gridDisk", H3GeoBridge.gridDisk) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class H3GridRing(left: Expression, right: Expression) extends H3BinaryBridge("h3_grid_ring",
    LongType, IntegerType, cellArray, "H3GeoBridge.gridRing", H3GeoBridge.gridRing) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class H3GridDiskDistances(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_grid_disk_distances", LongType, IntegerType, cellDistArray,
      "H3GeoBridge.gridDiskDistances", H3GeoBridge.gridDiskDistances) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** [[H3GridDisk]] in libh3 SPIRAL traversal order (gridDiskDistancesUnsafe;
  * h3ron/src/iter/grid_disk.rs) instead of sorted cell ids — for code
  * ported from h3/h3ron that depends on the traversal order. */
case class H3GridDiskSpiral(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_grid_disk_spiral", LongType, IntegerType, cellArray,
      "H3GeoBridge.gridDiskSpiral", H3GeoBridge.gridDiskSpiral) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class H3GridDiskSpiralDistances(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_grid_disk_spiral_distances", LongType, IntegerType, cellDistArray,
      "H3GeoBridge.gridDiskSpiralDistances", H3GeoBridge.gridDiskSpiralDistances) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class H3GridDistance(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_grid_distance", LongType, LongType, LongType,
      "H3GeoBridge.gridDistance", H3GeoBridge.gridDistance) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class H3GridPath(left: Expression, right: Expression) extends H3BinaryBridge("h3_grid_path",
    LongType, LongType, cellArray, "H3GeoBridge.gridPath", H3GeoBridge.gridPath) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class H3AreNeighborCells(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_are_neighbor_cells", LongType, LongType, BooleanType,
      "H3GeoBridge.areNeighborCells", H3GeoBridge.areNeighborCells, neverNull = true) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class H3CellToLocalIj(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_cell_to_local_ij", LongType, LongType, localIjStruct,
      "H3GeoBridge.cellToLocalIj", H3GeoBridge.cellToLocalIj) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class H3LocalIjToCell(first: Expression, second: Expression, third: Expression)
    extends H3TernaryBridge("h3_local_ij_to_cell", LongType, IntegerType, IntegerType, LongType,
      "H3GeoBridge.localIjToCell", H3GeoBridge.localIjToCell) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(first = a, second = b, third = c)
}

// ---- geometry conversion (WKT) --------------------------------------------

case class H3PolygonToCells(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_polygon_to_cells", StringType, IntegerType, cellArray,
      "H3GeoBridge.polygonToCells", H3GeoBridge.polygonToCells) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class H3GeometryToCells(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_geometry_to_cells", StringType, IntegerType, cellArray,
      "H3GeoBridge.geometryToCells", H3GeoBridge.geometryToCells) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class H3PolygonToCellsIntersecting(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_polygon_to_cells_intersecting", StringType, IntegerType, cellArray,
      "H3GeoBridge.polygonToCellsIntersecting", H3GeoBridge.polygonToCellsIntersecting) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** G3 variant over parallel coordinate arrays (lons, lats, res) — the OSM
  * ingestion entry; same trace kernel as [[H3LineStringToCells]]. */
case class H3PointsToCells(first: Expression, second: Expression, third: Expression)
    extends H3TernaryBridge("h3_points_to_cells", coordArray, coordArray, IntegerType, cellArray,
      "H3GeoBridge.pointsToCells", H3GeoBridge.pointsToCells) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(first = a, second = b, third = c)
}

case class H3LineStringToCells(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_linestring_to_cells", StringType, IntegerType, cellArray,
      "H3GeoBridge.lineStringToCells", H3GeoBridge.lineStringToCells) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

// ---- spatial predicates (exact stage) -------------------------------------

case class H3CellIntersectsPolygon(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_cell_intersects_polygon", LongType, StringType, BooleanType,
      "H3GeoBridge.cellIntersectsPolygon", H3GeoBridge.cellIntersectsPolygon) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class H3CellContainsPoint(first: Expression, second: Expression, third: Expression)
    extends H3TernaryBridge("h3_cell_contains_point", LongType, DoubleType, DoubleType, BooleanType,
      "H3GeoBridge.cellContainsPoint", H3GeoBridge.cellContainsPoint) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(first = a, second = b, third = c)
}

// ---- array compact (C3 projection form) ------------------------------------

case class H3CompactCellsArray(child: Expression) extends H3UnaryBridge("h3_compact_cells",
    ArrayType(LongType), cellArray, "H3GeoBridge.compactCells", H3GeoBridge.compactCells) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

// ---- dissolve (G8/G10) -----------------------------------------------------

case class H3CellsToMultiPolygonWkt(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_cells_to_multipolygon_wkt", ArrayType(LongType), BooleanType,
      StringType, "H3GeoBridge.cellsToMultiPolygonWkt", H3GeoBridge.cellsToMultiPolygonWkt) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

// ---- res-parameter constants ----------------------------------------------

case class H3HexagonAreaAvgKm2(child: Expression) extends H3UnaryBridge("h3_hexagon_area_avg_km2",
    IntegerType, DoubleType, "H3GeoBridge.hexagonAreaAvgKm2", H3GeoBridge.hexagonAreaAvgKm2) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3HexagonAreaAvgM2(child: Expression) extends H3UnaryBridge("h3_hexagon_area_avg_m2",
    IntegerType, DoubleType, "H3GeoBridge.hexagonAreaAvgM2", H3GeoBridge.hexagonAreaAvgM2) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** E7 static: average directed-edge length at a res, km
  * (directed_edge.rs:53-58). */
case class H3EdgeLengthAvgKm(child: Expression) extends H3UnaryBridge("h3_edge_length_avg_km",
    IntegerType, DoubleType, "H3GeoBridge.edgeLengthAvgKm", H3GeoBridge.edgeLengthAvgKm) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** E7 static: average directed-edge length at a res, m
  * (directed_edge.rs:61-68). */
case class H3EdgeLengthAvgM(child: Expression) extends H3UnaryBridge("h3_edge_length_avg_m",
    IntegerType, DoubleType, "H3GeoBridge.edgeLengthAvgM", H3GeoBridge.edgeLengthAvgM) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** E7 static: approximate neighbor-centroid distance at a res, m =
  * avg edge length x sqrt(3) (directed_edge.rs:71-78,299-301). */
case class H3CellCentroidDistanceAvgM(child: Expression)
    extends H3UnaryBridge("h3_cell_centroid_distance_avg_m", IntegerType, DoubleType,
      "H3GeoBridge.cellCentroidDistanceAvgM", H3GeoBridge.cellCentroidDistanceAvgM) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
