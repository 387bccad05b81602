package graft.graph

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.SparkTestSession

/** Triangle-count specs: known closed-form graphs (complete graph,
  * star, path) plus a seeded random multigraph with loops and duplicate
  * edges, compared against a brute-force neighbor-set reference. */
class TrianglesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] = {
    val df = edges.toDF("src", "dst").repartition(5)
    Triangles.nodeTriangles(df, col("src"), col("dst"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
  }

  private def brute(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2))
    val adj: Map[Long, Set[Long]] = nodes.map { n =>
      n -> und.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }
    }.toMap
    nodes.map { n =>
      val nb = adj(n).toSeq
      val tri = (for {
        i <- nb.indices; j <- (i + 1) until nb.size
        if und.contains((math.min(nb(i), nb(j)), math.max(nb(i), nb(j))))
      } yield 1).size.toLong
      val d = nb.size.toLong
      n -> (d, tri, if (d < 2) 0L else (2 * tri * 1000000L) / (d * (d - 1)))
    }.toMap
  }

  test("complete graph K5: every node in C(4,2)=6 triangles, lcc=1") {
    val edges = for { i <- 0L until 5L; j <- (i + 1) until 5L } yield (i, j)
    val got = run(edges)
    assert(got.size == 5)
    got.values.foreach { case (d, t, l) => assert(d == 4 && t == 6 && l == 1000000L) }
  }

  test("star and path have zero triangles") {
    val star = (1L to 6L).map(i => (0L, i))
    run(star).foreach { case (_, (_, t, l)) => assert(t == 0 && l == 0) }
    val path = (0L until 5L).map(i => (i, i + 1))
    run(path).foreach { case (_, (_, t, l)) => assert(t == 0 && l == 0) }
  }

  test("loops, duplicate and reversed edges collapse to the simple graph") {
    // triangle 0-1-2 expressed redundantly
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 0L), (0L, 0L), (2L, 2L), (1L, 2L))
    val got = run(edges)
    assert(got == Map(
      0L -> (2L, 1L, 1000000L),
      1L -> (2L, 1L, 1000000L),
      2L -> (2L, 1L, 1000000L)))
  }

  test("seeded random graph matches the brute-force reference") {
    val rnd = new scala.util.Random(93)
    val edges = (1 to 400).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val want = brute(edges)
    val got = run(edges)
    assert(got == want)
    // fixture exercises real triangles and a non-trivial lcc spread
    assert(want.values.map(_._2).sum > 0)
    assert(want.values.map(_._3).toSet.size > 3)
  }

  test("commonNeighborScores matches brute force; edges excluded; AA per-term-quantized") {
    val rnd = new scala.util.Random(47)
    val edges = (1 to 260).map(_ => (rnd.nextInt(35).toLong, rnd.nextInt(35).toLong))
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2))
    val adj = nodes.map { n =>
      n -> und.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }
    }.toMap
    def aaTerm(w: Long): Long =
      math.floor(1000000.0 / math.log(adj(w).size.toDouble) + 0.5).toLong
    val want = (for {
      u <- nodes.toSeq; v <- nodes.toSeq if u < v && !und((u, v))
      common = adj(u) & adj(v) if common.size >= 3
    } yield (u, v) -> ((common.size.toLong, common.toSeq.map(aaTerm).sum))).toMap

    val got = Triangles.commonNeighborScores(
        edges.toDF("src", "dst").repartition(5), col("src"), col("dst"), minCommon = 3,
        maxDegree = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == want)
    assert(want.nonEmpty)
    // no predicted pair is an existing edge
    assert(got.keys.forall(p => !und(p)))
  }

  test("globalTriangles counts each triangle once") {
    val edges = for { i <- 0L until 5L; j <- (i + 1) until 5L } yield (i, j)
    val r = Triangles.globalTriangles(edges.toDF("src", "dst"), col("src"), col("dst"))
      .collect().head
    assert(r.getLong(0) == 10L && r.getLong(1) == 5L) // K5: C(5,3)=10 triangles
  }
}
