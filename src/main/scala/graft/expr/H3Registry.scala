package graft.expr

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.shims

/**
 * SQL registration for the H3 function catalog, so `spark.sql("SELECT
 * h3_cell_to_parent(cell, 5) ...")` works alongside the Scala DSL
 * ([[graft.functions]]).
 *
 * Two paths: [[H3Registry.register]] for an existing session, and
 * [[H3SparkExtensions]] for `spark.sql.extensions=graft.expr.H3SparkExtensions`.
 */
object H3Registry {

  /** A SQL function and the builder both registration paths install: it
    * checks the argument count, so a wrong one fails analysis with Spark's
    * `WRONG_NUM_ARGS` naming the function. */
  final case class Entry(name: String, arity: Int, build: Seq[Expression] => Expression) {
    def builder(args: Seq[Expression]): Expression =
      if (args.length == arity) build(args) else throw shims.wrongNumArgs(name, arity, args.length)
  }

  private type E = Expression
  private def fn(name: String, f: () => E) = Entry(name, 0, _ => f())
  private def fn(name: String, f: E => E) = Entry(name, 1, a => f(a(0)))
  private def fn(name: String, f: (E, E) => E) = Entry(name, 2, a => f(a(0), a(1)))
  private def fn(name: String, f: (E, E, E) => E) = Entry(name, 3, a => f(a(0), a(1), a(2)))

  val expressions: Seq[Entry] = Seq(
    fn("h3_is_valid_cell", H3IsValidCell),
    fn("h3_is_valid_edge", H3IsValidEdge),
    fn("h3_is_pentagon", H3IsPentagon),
    fn("h3_get_resolution", H3Resolution),
    fn("h3_get_base_cell", H3BaseCell),
    fn("h3_cell_to_parent", H3CellToParent),
    fn("h3_cell_to_center_child", H3CellToCenterChild),
    fn("h3_cell_to_children", H3CellToChildren),
    fn("h3_cell_to_children_size", H3CellToChildrenSize),
    fn("h3_uncompact_cell", H3UncompactCell),
    fn("h3_cell_to_string", H3CellToString),
    fn("h3_string_to_cell", H3StringToCell),
    fn("h3_direction", H3Direction),
    fn("h3_direction_to_parent", H3DirectionToParentResolution),
    fn("h3_edge_origin", H3EdgeOrigin),
    fn("h3_origin_to_directed_edges", H3OriginToDirectedEdges),
    fn("h3_max_grid_disk_size", H3MaxGridDiskSize),
    fn("h3_res0_cells", H3Res0Cells),
    fn("h3_compact_agg", (c: E) => H3CompactAgg(c).toAggregateExpression()),
    // k must be a foldable integer literal (evaluated at registration time)
    fn("collect_min_k", (c: E, k: E) =>
      CollectMinK(c, k.eval().asInstanceOf[Number].intValue).toAggregateExpression()),
    fn("freq_sketch_k", (c: E, k: E) =>
      FreqSketchK(c, k.eval().asInstanceOf[Number].intValue).toAggregateExpression()),
    // geometry / traversal layer
    fn("h3_latlng_to_cell", H3LatLngToCell),
    fn("h3_cell_to_latlng", H3CellToLatLng),
    fn("h3_cell_to_boundary_wkt", H3CellToBoundaryWkt),
    fn("h3_cell_to_boundary", H3CellToBoundary),
    fn("h3_cell_bbox", H3CellBBox),
    fn("h3_edge_bbox", H3EdgeBBox),
    fn("h3_cell_area_rads2", H3CellAreaRads2),
    fn("h3_cell_area_km2", H3CellAreaKm2),
    fn("h3_cell_area_m2", H3CellAreaM2),
    fn("h3_hexagon_area_avg_km2", H3HexagonAreaAvgKm2),
    fn("h3_hexagon_area_avg_m2", H3HexagonAreaAvgM2),
    fn("h3_edge_length_avg_km", H3EdgeLengthAvgKm),
    fn("h3_edge_length_avg_m", H3EdgeLengthAvgM),
    fn("h3_cell_centroid_distance_avg_m", H3CellCentroidDistanceAvgM),
    fn("h3_grid_disk", H3GridDisk),
    fn("h3_grid_ring", H3GridRing),
    fn("h3_grid_disk_distances", H3GridDiskDistances),
    fn("h3_grid_disk_spiral", H3GridDiskSpiral),
    fn("h3_grid_disk_spiral_distances", H3GridDiskSpiralDistances),
    fn("h3_grid_distance", H3GridDistance),
    fn("h3_grid_path", H3GridPath),
    fn("h3_are_neighbor_cells", H3AreNeighborCells),
    fn("h3_cell_to_local_ij", H3CellToLocalIj),
    fn("h3_local_ij_to_cell", H3LocalIjToCell),
    fn("h3_cells_to_directed_edge", H3CellsToDirectedEdge),
    fn("h3_edge_destination", H3EdgeDestination),
    fn("h3_edge_cells", H3EdgeCells),
    fn("h3_edge_reverse", H3EdgeReverse),
    fn("h3_edge_boundary_wkt", H3EdgeBoundaryWkt),
    fn("h3_edge_length_km", H3EdgeLengthKm),
    fn("h3_edge_length_m", H3EdgeLengthM),
    fn("h3_polygon_to_cells", H3PolygonToCells),
    fn("h3_polygon_to_cells_intersecting", H3PolygonToCellsIntersecting),
    fn("h3_linestring_to_cells", H3LineStringToCells),
    fn("h3_points_to_cells", H3PointsToCells),
    fn("h3_geometry_to_cells", H3GeometryToCells),
    fn("h3_cell_intersects_polygon", H3CellIntersectsPolygon),
    fn("h3_cell_contains_point", H3CellContainsPoint),
    fn("h3_cells_to_multipolygon_wkt", H3CellsToMultiPolygonWkt),
    fn("h3_compact_cells", H3CompactCellsArray)
  )

  def register(spark: SparkSession): Unit = {
    expressions.foreach { e =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(e.name, e.builder _, "built-in")
    }
    H3Optimizations.register(spark)
  }

  private[expr] def injectAll(ext: SparkSessionExtensions): Unit = {
    expressions.foreach { e =>
      ext.injectFunction((FunctionIdentifier(e.name), new ExpressionInfo("graft", e.name), e.builder _))
    }
    ext.injectOptimizerRule(_ => H3ConjunctOrdering)
    ext.injectOptimizerRule(_ => H3ParentRangeDerivation)
  }
}

/** `--conf spark.sql.extensions=graft.expr.H3SparkExtensions` */
class H3SparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = H3Registry.injectAll(ext)
}
