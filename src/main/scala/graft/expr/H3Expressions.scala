package graft.expr

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.types._

/**
 * Catalyst expression catalog for the H3 bit layer (SURVEY.md §2.1/§2.2,
 * reference operators S4-S9, S17, S19, S21-S23, E2-E4, C1-C2, C6).
 *
 * Every scalar H3 expression — here and in the geometry catalog — is one
 * static call into a bridge object ([[H3Bridge]], [[H3GeoBridge]]), emitted
 * by the single codegen template below so the H3 math stays inside
 * whole-stage codegen. A `null` bridge result encodes the invalid-input ->
 * SQL NULL convention of the reference (h3ron-polars/src/from.rs:4-33).
 * `Serializable` because the arity bases take constructor arguments: Java
 * deserialization (plans shipped to executors) calls the no-argument
 * constructor of the first non-serializable superclass.
 */
trait H3BridgeCall extends ExpectsInputTypes with Serializable {
  protected def sqlName: String
  /** static target below `graft.expr`, e.g. `H3Bridge.cellToParent` */
  protected def bridge: String
  /** the bridge returns a primitive that is never null (the validity
    * predicates): the result is NULL only when an input is */
  protected def neverNull: Boolean

  override def prettyName: String = sqlName
  override def nullable: Boolean = !neverNull || children.exists(_.nullable)
  override def nullIntolerant: Boolean = true

  /** the one codegen template: call the bridge; a boxed `null` result sets
    * the NULL flag. Runs inside the arity's `nullSafeCodeGen`, so `args`
    * are non-null child values. */
  protected final def bridgeCode(ctx: CodegenContext, ev: ExprCode, args: String*): String = {
    val call = s"graft.expr.$bridge(${args.mkString(", ")})"
    if (neverNull) s"${ev.value} = $call;"
    else {
      val boxed = CodeGenerator.boxedType(dataType)
      val tmp = ctx.freshName("h3res")
      s"""
         |$boxed $tmp = ($boxed) $call;
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    }
  }
}

/** The arity bases take a leaf's SQL name, input and result types, the
  * bridge method its generated code calls, and `call`: the typed
  * interpreted path (constant folding, aggregate children), which must
  * reach the same bridge method. */
abstract class H3UnaryBridge[A](protected val sqlName: String, in: DataType, out: DataType,
    protected val bridge: String, call: A => Any, protected val neverNull: Boolean = false)
    extends UnaryExpression with H3BridgeCall {
  override def inputTypes: Seq[DataType] = Seq(in)
  override def dataType: DataType = out
  override def nullSafeEval(a: Any): Any = call(a.asInstanceOf[A])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => bridgeCode(ctx, ev, a))
}

abstract class H3BinaryBridge[A, B](protected val sqlName: String, in1: DataType, in2: DataType,
    out: DataType, protected val bridge: String, call: (A, B) => Any,
    protected val neverNull: Boolean = false) extends BinaryExpression with H3BridgeCall {
  override def inputTypes: Seq[DataType] = Seq(in1, in2)
  override def dataType: DataType = out
  override def nullSafeEval(a: Any, b: Any): Any = call(a.asInstanceOf[A], b.asInstanceOf[B])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => bridgeCode(ctx, ev, a, b))
}

abstract class H3TernaryBridge[A, B, C](protected val sqlName: String, in1: DataType,
    in2: DataType, in3: DataType, out: DataType, protected val bridge: String,
    call: (A, B, C) => Any) extends TernaryExpression with H3BridgeCall {
  override protected def neverNull: Boolean = false
  override def inputTypes: Seq[DataType] = Seq(in1, in2, in3)
  override def dataType: DataType = out
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    call(a.asInstanceOf[A], b.asInstanceOf[B], c.asInstanceOf[C])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => bridgeCode(ctx, ev, a, b, c))
}

// ---- predicates (S5, E2, S15) -------------------------------------------

case class H3IsValidCell(child: Expression) extends H3UnaryBridge("h3_is_valid_cell",
    LongType, BooleanType, "H3Bridge.isValidCell", H3Bridge.isValidCell, neverNull = true) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3IsValidEdge(child: Expression) extends H3UnaryBridge("h3_is_valid_edge",
    LongType, BooleanType, "H3Bridge.isValidEdge", H3Bridge.isValidEdge, neverNull = true) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3IsPentagon(child: Expression) extends H3UnaryBridge("h3_is_pentagon",
    LongType, BooleanType, "H3Bridge.isPentagon", H3Bridge.isPentagon, neverNull = true) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

// ---- unary scalars (S4, S15, S19, S21, E3) --------------------------------

case class H3Resolution(child: Expression) extends H3UnaryBridge("h3_get_resolution",
    LongType, IntegerType, "H3Bridge.resolution", H3Bridge.resolution) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3BaseCell(child: Expression) extends H3UnaryBridge("h3_get_base_cell",
    LongType, IntegerType, "H3Bridge.baseCell", H3Bridge.baseCell) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3CellToString(child: Expression) extends H3UnaryBridge("h3_cell_to_string",
    LongType, StringType, "H3Bridge.cellToString", H3Bridge.cellToString) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3StringToCell(child: Expression) extends H3UnaryBridge("h3_string_to_cell",
    StringType, LongType, "H3Bridge.stringToCell", H3Bridge.stringToCell) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3Direction(child: Expression) extends H3UnaryBridge("h3_direction",
    LongType, IntegerType, "H3Bridge.direction", H3Bridge.direction) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3EdgeOrigin(child: Expression) extends H3UnaryBridge("h3_edge_origin",
    LongType, LongType, "H3Bridge.edgeOrigin", H3Bridge.edgeOrigin) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class H3OriginToDirectedEdges(child: Expression)
    extends H3UnaryBridge("h3_origin_to_directed_edges", LongType, H3GeoTypes.cellArray,
      "H3Bridge.originToDirectedEdges", H3Bridge.originToDirectedEdges) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

// ---- (cell, res) scalars (S6, S8, S7, C2) ---------------------------------

case class H3CellToParent(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_cell_to_parent", LongType, IntegerType, LongType,
      "H3Bridge.cellToParent", H3Bridge.cellToParent) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class H3CellToCenterChild(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_cell_to_center_child", LongType, IntegerType, LongType,
      "H3Bridge.cellToCenterChild", H3Bridge.cellToCenterChild) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class H3CellToChildren(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_cell_to_children", LongType, IntegerType, H3GeoTypes.cellArray,
      "H3Bridge.cellToChildren", H3Bridge.cellToChildren) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class H3CellToChildrenSize(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_cell_to_children_size", LongType, IntegerType, LongType,
      "H3Bridge.cellToChildrenSize", H3Bridge.cellToChildrenSize) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Uncompaction fan-out: `h3_change_resolution` of the reference (C2) —
  * coarser target -> NULL is not possible here; finer-than-target -> NULL
  * row (dropped by the uncompact DataFrame op). */
case class H3UncompactCell(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_uncompact_cell", LongType, IntegerType, H3GeoTypes.cellArray,
      "H3Bridge.uncompactCell", H3Bridge.uncompactCell) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class H3DirectionToParentResolution(left: Expression, right: Expression)
    extends H3BinaryBridge("h3_direction_to_parent", LongType, IntegerType, IntegerType,
      "H3Bridge.directionToParentResolution", H3Bridge.directionToParentResolution) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

// ---- misc (S22, S23) -------------------------------------------------------

case class H3MaxGridDiskSize(child: Expression) extends H3UnaryBridge("h3_max_grid_disk_size",
    IntegerType, LongType, "H3Bridge.maxGridDiskSize", H3Bridge.maxGridDiskSize) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The 122 res-0 cells as a literal array (S22). Foldable leaf — constant
  * folding turns it into a Literal before execution, so the CodegenFallback
  * never appears in a hot path. */
case class H3Res0Cells() extends LeafExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "h3_res0_cells"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = H3Bridge.res0Cells()
}
