package graft.expr

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite

/** The SQL builders check their argument count: a wrong count is Spark's
  * `WRONG_NUM_ARGS` naming the function, never a dropped argument or an
  * index error. `register` and `injectAll` install the same builders. */
class H3RegistryAritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val Cell = 617700169958293503L

  private def assertWrongArgs(query: String, name: String, expected: Int, actual: Int): Unit = {
    val e = intercept[AnalysisException](spark.sql(query).collect())
    assert(e.errorClass.contains("WRONG_NUM_ARGS.WITHOUT_SUGGESTION"), s"$query: ${e.getMessage}")
    assert(e.messageParameters("functionName") == s"`$name`", query)
    assert(e.messageParameters("expectedNum") == expected.toString, query)
    assert(e.messageParameters("actualNum") == actual.toString, query)
  }

  test("zero-arg, unary, binary and ternary functions reject a wrong count") {
    assertWrongArgs("SELECT h3_res0_cells(1)", "h3_res0_cells", 0, 1)
    assertWrongArgs("SELECT h3_get_resolution()", "h3_get_resolution", 1, 0)
    assertWrongArgs(s"SELECT h3_get_resolution($Cell, 3)", "h3_get_resolution", 1, 2)
    assertWrongArgs(s"SELECT h3_cell_to_parent($Cell)", "h3_cell_to_parent", 2, 1)
    assertWrongArgs(s"SELECT h3_cell_to_parent($Cell, 5, 7)", "h3_cell_to_parent", 2, 3)
    assertWrongArgs("SELECT h3_latlng_to_cell(37.7, -122.4)", "h3_latlng_to_cell", 3, 2)
    assertWrongArgs("SELECT h3_latlng_to_cell(37.7, -122.4, 9, 1)", "h3_latlng_to_cell", 3, 4)
  }

  test("collect_min_k rejects a wrong count") {
    assertWrongArgs("SELECT collect_min_k(id) FROM range(3)", "collect_min_k", 2, 1)
    assertWrongArgs("SELECT collect_min_k(id, 2, 3) FROM range(3)", "collect_min_k", 2, 3)
  }

  test("the right count still resolves") {
    val r = spark.sql(s"SELECT h3_cell_to_parent($Cell, 5), h3_get_resolution($Cell), " +
      "size(h3_res0_cells()), h3_latlng_to_cell(37.7752702151959257D, -122.418307270836565D, 9)")
      .collect().head
    assert(r.getLong(0) == 599685771850416127L && r.getInt(1) == 9 && r.getInt(2) == 122)
    assert(r.getLong(3) == 0x8928308280fffffL)
    assert(spark.sql("SELECT collect_min_k(id, 2) FROM range(5)").collect().head.getSeq[Long](0) ==
      Seq(0L, 1L))
  }

  test("every registry builder checks its count") {
    for (e <- H3Registry.expressions; n <- 0 to 4 if n != e.arity) {
      val ex = intercept[AnalysisException](e.builder(Seq.fill(n)(Literal(1))))
      assert(ex.errorClass.contains("WRONG_NUM_ARGS.WITHOUT_SUGGESTION"), s"${e.name}/$n")
    }
  }
}
