package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.df.H3DataFrameOps._
import graft.functions._
import graft.h3.{H3Core, H3Geo}
import graft.raster.H3Raster

final case class Ctx(spark: SparkSession, seed: Long, cores: Int, trace: Tracer)

/** One benchmark workload: seeded inputs, a closed-loop operation, and an
  * independent check of each operation's output. */
trait Workload {
  def ctx: Ctx
  def spark: SparkSession = ctx.spark
  def seed: Long = ctx.seed
  def t: Tracer = ctx.trace

  /** Input sizes, as recorded in the artifact. */
  def sizes: Map[String, Long]
  /** Generates the inputs, replacing earlier ones, and materializes them. */
  def setup(): Unit
  /** Untimed operations that compile and JIT the operation's code paths;
    * `k` counts the calls. */
  def warmUp(k: Int): Unit = op(-1 - k)
  /** Operation `i` (i >= 0 in the timed loop); returns its input rows. */
  def op(i: Int): Long
  /** Compares operation `i`'s output with an independent recomputation;
    * the mismatch, if any. Called outside the timed window. */
  def check(i: Int): Option[String]

  /** Resolution of the workload's cells, for the kernel and expression
    * probes (parent resolution = res - 4). */
  def res: Int
  /** Point `id` of the workload's input area; a pure function of `id`. */
  def sampler: Long => (Double, Double)
  /** Layer metrics only this workload exercises, taken once after the
    * traced loop (the loop's spans are in `t`). */
  def probes(): Map[String, Double]
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "cell_batch" => new CellBatch(ctx)
    case "raster_compact" => new RasterCompact(ctx)
  }

  def points(spark: SparkSession, seed: Long, c: Gen.Clusters, n: Long, parts: Int): DataFrame =
    spark.range(0, n, 1, parts).map(id => Gen.point(seed, c, id))(Encoders.product[Gen.Point]).toDF()

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Spark's `xxhash64` of one bigint, so a driver-side digest can be
    * compared with `bit_xor(xxhash64(cell))` computed by a query. */
  def sparkXxHash64(x: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(x, 42L)
}

import Workload._

/** cell_batch: clustered points -> res-9 cells -> res-5 roll-up, per
  * category compaction, boundary and area of the compacted cells. */
final class CellBatch(val ctx: Ctx) extends Workload {
  val N: Long = 200000L
  val Res = 9
  val ParentRes = 5
  private val clusters = Gen.clusters(seed, 300, 0.1)
  private var pts: DataFrame = _
  private val outputs = mutable.Map.empty[Int, (Long, Map[Int, (Long, Long)])]

  def sizes: Map[String, Long] = Map("points" -> N, "clusters" -> clusters.size.toLong)
  def res: Int = Res
  def sampler: Long => (Double, Double) = {
    val (s, c) = (seed, clusters)
    id => { val p = Gen.point(s, c, id); (p.lat, p.lng) }
  }

  def setup(): Unit = {
    if (pts != null) pts.unpersist(blocking = true)
    pts = points(spark, seed, clusters, N, ctx.cores).persist(StorageLevel.MEMORY_ONLY)
    pts.count()
  }

  private def cells: DataFrame = t("graft.expr", "h3_latlng_to_cell") {
    pts.select(col("cat"), col("v"),
      h3_latlng_to_cell(col("lat"), col("lng"), lit(Res)).as("cell"))
  }

  private def compacted(cs: DataFrame): DataFrame = t("graft.df", "h3CompactDataFrame") {
    cs.select(col("cat"), col("cell")).h3CompactDataFrame("cell")
  }

  def op(i: Int): Long = {
    val cs = cells
    val rollupDf = t("graft.expr", "h3_cell_to_parent") {
      cs.groupBy(h3_cell_to_parent(col("cell"), lit(ParentRes)).as("parent"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    }
    val rollup = t("spark", "collect roll-up")(rollupDf.collect())
    val comp = compacted(cs)
    val shapesDf = t("graft.expr", "h3_cell_to_boundary+area") {
      comp.select(col("cat"), col("cell"), size(h3_cell_to_boundary(col("cell"))).as("nv"),
        h3_cell_area_km2(col("cell")).as("km2"))
        .groupBy(col("cat"))
        .agg(count(lit(1)).as("n"), bit_xor(xxhash64(col("cell"))).as("h"),
          sum(col("nv")).as("nv"), sum(col("km2")).as("km2"))
    }
    val shapes = t("spark", "collect shapes")(shapesDf.collect())
    require(shapes.forall(r => r.getAs[Long]("nv") >= 5L * r.getAs[Long]("n") &&
      r.getAs[Double]("km2") > 0), "a compacted cell without a boundary or area")
    outputs(i) = (rollup.map(_.getAs[Long]("n")).sum,
      shapes.map(r => r.getAs[Int]("cat") -> (r.getAs[Long]("n"), r.getAs[Long]("h"))).toMap)
    N
  }

  def check(i: Int): Option[String] = {
    val (rolled, comp) = outputs(i)
    if (rolled != N) return Some(s"roll-up counts sum to $rolled, not $N")
    if (i > 0) {
      return if (comp == outputs(0)._2) None
      else Some(s"compacted cells differ from the first pass: $comp vs ${outputs(0)._2}")
    }
    // compact then uncompact at res 9 must give the distinct-cell set
    val cs = pts.select(col("cat"), h3_latlng_to_cell(col("lat"), col("lng"), lit(Res)).as("cell"))
    def perCat(df: DataFrame): Map[Int, (Long, Long)] =
      df.groupBy(col("cat")).agg(count(lit(1)), bit_xor(xxhash64(col("cell")))).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val comp2 = compacted(cs)
    if (perCat(comp2) != comp) return Some("recomputed compaction differs from the timed pass")
    val roundTrip = perCat(comp2.h3UncompactDataFrame("cell", Res))
    val distinct = perCat(cs.distinct())
    if (roundTrip != distinct)
      return Some(s"uncompact(compact) $roundTrip differs from the distinct cells $distinct")
    // a sample recomputed on the driver with the kernel
    val got = pts.filter(col("id") < 10000)
      .select(col("id"), h3_latlng_to_cell(col("lat"), col("lng"), lit(Res))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bad = (0L until 10000L).filterNot { id =>
      val p = Gen.point(seed, clusters, id)
      got.get(id).contains(H3Geo.latLngToCell(p.lat, p.lng, Res))
    }
    if (bad.nonEmpty) Some(s"${bad.size} of 10000 sampled points map to another cell")
    else None
  }

  def probes(): Map[String, Double] = {
    val cs = cells.select(col("cat"), col("cell")).persist(StorageLevel.MEMORY_ONLY)
    try {
      val distinct = cs.distinct().count()
      val ms = (0 until 3).map { _ =>
        time(t("graft.df", "h3CompactDataFrame probe") {
          cs.h3CompactDataFrame("cell").write.format("noop").mode("overwrite").save()
        })._2
      }
      val compactedRows = cs.h3CompactDataFrame("cell").count()
      Map("df.compact_ms" -> medianOf(ms), "df.compact_ratio" -> compactedRows.toDouble / distinct)
    } finally cs.unpersist(blocking = true)
  }
}

/** raster_compact: a seeded classed raster with nodata, tiled, converted to
  * cells at the nearest resolution and compacted per class. */
final class RasterCompact(val ctx: Ctx) extends Workload {
  val W = 768
  val H = 576
  val Tile = 256
  val NoData = 0.0
  // pixels of about 35 m x 54 m at 50 degrees north
  private val transform = H3Raster.Transform.northUp(10.0, 50.0, 0.5 / 1024, 0.375 / 768)
  private val Res0 = H3Raster.nearestH3Resolution(transform, W, H, smallerThanPixel = false)
  private var values: Array[Double] = _
  private var tiles: DataFrame = _
  private val outputs = mutable.Map.empty[Int, Map[Double, Array[Long]]]

  def sizes: Map[String, Long] = Map("width_px" -> W.toLong, "height_px" -> H.toLong,
    "tile_px" -> Tile.toLong, "h3_res" -> Res0.toLong)
  def res: Int = Res0
  def sampler: Long => (Double, Double) = {
    val (tr, s, w, h) = (transform, seed, W, H)
    id => {
      val (lng, lat) = tr.forward(Gen.unit(s, id, 0) * w, Gen.unit(s, id, 1) * h)
      (lat, lng)
    }
  }

  def setup(): Unit = {
    if (tiles != null) tiles.unpersist(blocking = true)
    values = Gen.raster(seed, W, H, blobs = 60, classes = 4, nodata = NoData, nodataShare = 0.5)
    tiles = H3Raster.tileRaster(spark, W, H, transform, values, NoData, Tile)
      .persist(StorageLevel.MEMORY_ONLY)
    tiles.count()
  }

  def op(i: Int): Long = {
    val out = t("graft.raster", "rasterToCompactedCells")(H3Raster.rasterToCompactedCells(tiles, Res0))
    val rows = t("spark", "collect")(out.collect())
    outputs(i) = rows.map { r =>
      r.getAs[Double]("value") -> r.getAs[scala.collection.Seq[Long]]("cells").toArray
    }.toMap
    W.toLong * H
  }

  def check(i: Int): Option[String] = {
    def same(a: Map[Double, Array[Long]], b: Map[Double, Array[Long]]) =
      a.keySet == b.keySet && a.forall { case (v, cs) => cs.sorted.sameElements(b(v).sorted) }
    if (i > 0)
      return if (same(outputs.remove(i).get, outputs(0))) None
      else Some("compacted cells differ from the first pass")
    // uncompacted on the driver with the kernel, per class, against the
    // cells rasterToCells assigns each class
    val uncompacted = outputs(0).map { case (v, cs) => v -> cs.flatMap(H3Core.uncompactCell(_, Res0)) }
    val direct = H3Raster.rasterToCells(tiles, Res0).groupBy(col("value"))
      .agg(count(lit(1)), bit_xor(xxhash64(col("cell")))).collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    val roundTrip = uncompacted.map { case (v, cs) =>
      v -> (cs.length.toLong, cs.foldLeft(0L)((h, c) => h ^ sparkXxHash64(c)))
    }
    if (roundTrip != direct) return Some(s"uncompacted classes $roundTrip differ from rasterToCells $direct")
    val all = uncompacted.values.flatten.toArray.sorted
    if ((1 until all.length).exists(k => all(k) == all(k - 1))) Some("class cell sets overlap") else None
  }

  def probes(): Map[String, Double] = {
    val toCellsMs = (0 until 2).map { _ =>
      time(t("graft.raster", "rasterToCells probe") {
        H3Raster.rasterToCells(tiles, Res0).write.format("noop").mode("overwrite").save()
      })._2
    }
    val cells = H3Raster.rasterToCells(tiles, Res0).persist(StorageLevel.MEMORY_ONLY)
    try {
      val nCells = cells.count()
      val aggMs = (0 until 2).map { _ =>
        time(t("graft.expr", "h3_compact_agg probe") {
          cells.groupBy(col("value")).agg(h3_compact_agg(col("cell")).as("cells"))
            .write.format("noop").mode("overwrite").save()
        })._2
      }
      val dataPixels = values.count(_ != NoData)
      val compacted = outputs(0).values.map(_.length).sum
      Map("raster.to_cells_ms" -> medianOf(toCellsMs), "raster.compact_agg_ms" -> medianOf(aggMs),
        "raster.cells_per_pixel" -> nCells.toDouble / dataPixels,
        "raster.compact_ratio" -> compacted.toDouble / nCells)
    } finally cells.unpersist(blocking = true)
  }
}
