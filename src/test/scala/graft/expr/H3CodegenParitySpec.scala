package graft.expr

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.h3.{H3Core, H3Geo, H3Traversal}

/**
 * Every scalar SQL function of [[H3Registry]] gives the same rows through
 * its generated code (the bridge named by the leaf's `bridge` string) as
 * through its interpreted `call`.
 *
 * The inputs come from an RDD-backed relation: a `Seq(...).toDF` frame is a
 * LocalRelation, which `ConvertToLocalRelation` evaluates interpreted at
 * plan time, so it never reaches `doGenCode`. Each function's rows are the
 * cartesian product of a fixed value set per input type.
 */
class H3CodegenParitySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val sf = 37.775
  private val sfLng = -122.418
  private val res9 = H3Geo.latLngToCell(sf, sfLng, 9)
  private val neighbor9 = H3Traversal.gridRing(res9, 1).head
  private val cells: Seq[Any] = Seq(
    H3Geo.latLngToCell(sf, sfLng, 0), H3Geo.latLngToCell(sf, sfLng, 5), res9, neighbor9,
    H3Geo.latLngToCell(sf, sfLng, 15), H3Core.res0Cells()(4), // bc 4 is a pentagon
    H3Core.originToDirectedEdges(res9).head, 0L, null)
  private val resOrK: Seq[Any] = Seq(-1, 0, 1, 16, null)
  private val coords: Seq[Any] = Seq(sf, sfLng, 95.0, 400.0, null)
  private val strings: Seq[Any] = Seq(
    "POLYGON ((-125 30, -110 30, -110 45, -125 45, -125 30))",
    "LINESTRING (-122.42 37.77, -122.40 37.78)",
    H3Core.h3ToString(res9),
    "POLYGON ((1 2, 3",
    null)
  private val cellArrays: Seq[Any] = Seq(
    Seq(res9, neighbor9), H3Core.cellToChildren(H3Core.cellToParent(res9, 8), 9).toSeq,
    Seq.empty[Long], Seq(0L), null)
  private val coordArrays: Seq[Any] = Seq(Seq(sfLng, -122.40), Seq(sf, 37.78), Seq.empty[Double],
    Seq(1.0), null)

  private def valuesFor(t: DataType): Seq[Any] = t match {
    case LongType => cells
    case IntegerType => resOrK
    case DoubleType => coords
    case StringType => strings
    case BooleanType => Seq(true, false, null)
    case ArrayType(LongType, _) => cellArrays
    case ArrayType(DoubleType, _) => coordArrays
  }

  /** every scalar registry entry, built over placeholder children */
  private val scalars = H3Registry.expressions
    .map(e => e.name -> e.builder(Seq.fill(e.arity)(Literal(1))))
    .filterNot(_._2.isInstanceOf[AggregateExpression])

  test("every registry name equals the built expression's prettyName") {
    assert(scalars.size >= 58)
    for ((name, built) <- scalars) assert(built.prettyName == name)
  }

  private val codegenLeg = Seq(
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.adaptive.enabled" -> "false")
  private val interpretedLeg = Seq(
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.adaptive.enabled" -> "false")

  private def frame(session: SparkSession, name: String, types: Seq[DataType]): DataFrame = {
    val args = types.map(valuesFor).foldLeft(Seq(Seq.empty[Any])) { (acc, vs) =>
      for (a <- acc; v <- vs) yield a :+ v
    }
    val rows = args.zipWithIndex.map { case (a, i) => Row.fromSeq(i.toLong +: a) }
    val schema = StructType(StructField("id", LongType, nullable = false) +:
      types.indices.map(i => StructField(s"c$i", types(i), nullable = true)))
    session.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .selectExpr("id", s"$name(${types.indices.map(i => s"c$i").mkString(", ")}) AS r")
  }

  for ((name, built) <- scalars) test(s"$name: generated code == interpreted call") {
    val types = built match {
      case t: ExpectsInputTypes => t.inputTypes.map(_.asInstanceOf[DataType])
      case _ => Nil
    }
    val gen = frame(shims.cloneSessionWithConf(spark, codegenLeg: _*), name, types)
    val interp = frame(shims.cloneSessionWithConf(spark, interpretedLeg: _*), name, types)
    val stages = gen.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
    assert(stages.nonEmpty, gen.queryExecution.executedPlan.toString)
    if (types.nonEmpty) // a zero-argument function constant-folds away
      assert(stages.exists(_.child.exists(_.expressions.exists(_.exists(_.prettyName == name)))),
        s"$name is not inside whole-stage codegen:\n${gen.queryExecution.executedPlan}")
    assert(interp.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }.isEmpty)

    val a = gen.collect().sortBy(_.getLong(0)).toSeq
    val b = interp.collect().sortBy(_.getLong(0)).toSeq
    assert(a.length == types.map(valuesFor(_).size).product)
    assert(a.exists(!_.isNullAt(1)), s"$name: every row is NULL, so the inputs prove nothing")
    val diff = a.zip(b).filter { case (x, y) => x != y }
    assert(diff.isEmpty, s"$name: codegen vs interpreted\n${diff.take(5).mkString("\n")}")
  }
}
