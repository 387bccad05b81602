package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Barriers

/**
 * Embedding similarity search (engine extension beyond the reference).
 *
 * Two paths, mirroring what a 100 TB pipeline needs:
 *  - [[cosineTopK]]: exact brute force — broadcast the (small) query set,
 *    scan the corpus once, rank per query. The scan is embarrassingly
 *    parallel; no shuffle except the final per-query top-k.
 *  - [[hyperplaneBuckets]] + [[bucketedCosineTopK]]: LSH scale path — a
 *    deterministic random-hyperplane signature buckets the corpus; queries
 *    only scan their own bucket (candidate set ~ corpus/2^bits), trading
 *    recall for a 2^bits scan reduction.
 */
object Similarity {

  /** dot(a, b) over array<double> columns: codegen'd loop, same left-fold
    * accumulation order (bit-identical result) as the composed
    * `aggregate(zip_with(...))` form, which is interpreted per element.
    * Length-mismatched inputs yield NULL, exactly as zip_with's NULL
    * padding would. */
  def dot(a: Column, b: Column): Column = graft.functions.double_array_dot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    dot(ad, bd) / (l2Norm(ad) * l2Norm(bd))
  }

  /** floor-quantized 4-decimal value — the cross-engine-safe quantization
    * shared with jaccard/quality (Spark round() is decimal HALF_UP, DuckDB
    * round() disagrees on .5 boundaries; floor(x*1e4+0.5) agrees
    * bit-for-bit). All ANN sim outputs use this so exact oracles can be
    * written for the approximate paths too. */
  def quantize4(c: Column): Column =
    floor(c * 10000.0 + 0.5).cast("double") / 10000.0

  /** Exact top-k neighbors for each query vector. `queries` must be small
    * enough to broadcast (it is hint-broadcast here). Deterministic
    * ordering: (rounded cosine desc, corpus id asc). */
  def cosineTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
      queries: DataFrame, queryId: Column, queryVec: Column, k: Int): DataFrame = {
    // norms are per-VECTOR quantities: compute once on each side instead
    // of twice per pair (fp-identical — same expression values, same
    // operand order in the divide)
    val q = queries.select(queryId.as("query_id"), queryVec.cast("array<double>").as("__qv"))
      .withColumn("__qn", l2Norm(col("__qv")))
    val c = corpus.select(corpusId.as("neighbor_id"), corpusVec.cast("array<double>").as("__cv"))
      .withColumn("__cn", l2Norm(col("__cv")))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("sim", quantize4(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("__rank").cast("long").as("rank"))
  }

  /** Integer numerator of [[planeComponent]] — shared with the DuckDB
    * oracle generator (PipelineQueries) so both engines evaluate the
    * identical `numerator / 48.0` IEEE division. */
  private[graft] def planeNumerator(i: Int, j: Int): Int =
    ((1009 * i + 9176 * j + 31) % 97) - 48

  /** Deterministic pseudo-random hyperplane component j of plane i —
    * integers in [-48, 48] scaled; fixed across engines and runs. */
  private def planeComponent(i: Int, j: Int): Double =
    planeNumerator(i, j) / 48.0

  /** Plane i as a literal array — lets the signature/projection dots run
    * through the codegen'd [[dot]] kernel instead of a dim-term
    * `element_at` expression chain. The kernel accumulates left-assoc in
    * index order, the exact sequence the chain produced, so results stay
    * bit-identical and the oracles unchanged; the expression tree shrinks
    * dim-fold (64×16 signature: 1024 nodes → 16), which is what Catalyst
    * analysis/optimization time scales with. */
  private def planeLit(i: Int, dim: Int): Column =
    typedLit((0 until dim).map(j => planeComponent(i, j)))

  /** `bits`-bit signature: bit i = (dot(v, plane_i) > 0). */
  def hyperplaneSignature(vec: Column, dim: Int, bits: Int): Column = {
    val vd = vec.cast("array<double>")
    (0 until bits).map { i =>
      when(dot(vd, planeLit(i, dim)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Corpus bucketed by hyperplane signature. */
  def hyperplaneBuckets(corpus: DataFrame, id: Column, vec: Column, dim: Int, bits: Int): DataFrame =
    corpus.select(id.as("vec_id"), vec.as("embedding"),
      hyperplaneSignature(vec, dim, bits).as("bucket"))

  /** IVF coarse quantizer: `m` deterministic seed centroids — the first m
    * corpus vectors by id (TakeOrdered, no global shuffle; reproducible
    * across engines and runs; a production quantizer would swap in
    * sampled/trained k-means centroids without touching the rest of the
    * pipeline). Returns (centroid_id, centroid), broadcast-sized.
    *
    * centroid_id is assigned on the driver over the collected m rows —
    * they are broadcast-sized by contract (the frame IS broadcast by every
    * consumer), and a global row_number Window here would be the
    * single-partition shape this module otherwise avoids. */
  def ivfCentroids(corpus: DataFrame, id: Column, vec: Column, m: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val seeds = corpus.select(id.cast("long").as("__cid"), vec.cast("array<double>").as("centroid"))
      .orderBy(col("__cid")).limit(m).collect()
    seeds.sortBy(_.getLong(0)).zipWithIndex
      .map { case (r, i) => (i + 1, r.getSeq[Double](1)) }.toSeq
      .toDF("centroid_id", "centroid")
  }

  /** Lloyd-trained IVF centroids: `iters` rounds of (assign to nearest
    * centroid by cosine, recompute cluster means), seeded with
    * [[ivfCentroids]]. The trained quantizer drops into [[ivfCosineTopK]]
    * unchanged (same (centroid_id, centroid) contract) and cuts the
    * imbalance/recall penalty of raw seed centroids.
    *
    * Scale shape per round: one broadcast crossJoin + map-side-combined
    * argmax aggregation for assignment (shuffle carries N rows), then a
    * (centroid, dimension)-keyed aggregation for the means (shuffle
    * carries N×dim slim rows, partial-summed map-side). No driver state
    * beyond the m-row centroid frame; rounds are localCheckpoint-barriered
    * so round t never re-executes rounds 1..t-1.
    *
    * Oracle-exactness: means are computed on the 1e-4 lattice —
    * components quantize to integers (floor(x·1e4 + 0.5)), the per-cluster
    * sum is an exact order-independent long sum, and the mean is
    * (Σint / n) / 1e4 — so every engine reproduces the centroids
    * bit-for-bit, and the (unquantized) cosine argmax of the next round
    * compares identical doubles. Empty clusters keep their previous
    * centroid.
    *
    * The corpus barrier and every centroid generation form one LAZY
    * lineage chain, so none is released before the open
    * `graft.util.Checkpoints` scope exits. */
  def kMeansCentroids(corpus: DataFrame, id: Column, vec: Column, m: Int,
      iters: Int): DataFrame = {
    var cents = Barriers.localCheckpoint(ivfCentroids(corpus, id, vec, m))
    val base = Barriers.localCheckpoint(
      corpus.select(id.as("vec_id"), vec.cast("array<double>").as("embedding")))
    for (_ <- 1 to iters) {
      val assigned = ivfAssign(base, col("vec_id"), col("embedding"), cents, nprobe = 1)
      val means = assigned
        .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(sum(floor(col("x") * 10000.0 + 0.5).cast("long")).as("__isum"),
          count(lit(1)).as("__n"))
        .select(col("centroid_id"), col("pos"),
          (col("__isum").cast("double") / col("__n").cast("double") / 10000.0).as("__comp"))
        .groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("__comp")))).as("__pc"))
        .select(col("centroid_id"), col("__pc.__comp").as("__new"))
      cents = cents.select(col("centroid_id"), col("centroid").as("__prev"))
        .join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"), coalesce(col("__new"), col("__prev")).as("centroid"))
        .transform(Barriers.localCheckpoint)
    }
    cents
  }

  /** IVF inverted-list assignment: each vector joins its `nprobe` nearest
    * centroids by cosine (ties broken by centroid id). At 100 TB this
    * column IS the storage layout — `write.bucketBy(centroid_id)` makes
    * every probe a bucket-pruned scan.
    *
    * Scale shape: the nearest centroid is picked by a `max_by` AGGREGATION,
    * not a per-vector row_number Window — the broadcast crossJoin
    * co-locates all m centroid rows of a vector, so partial aggregation
    * collapses them map-side and the shuffle carries N rows, not the N*m a
    * Window sort would move. */
  def ivfAssign(df: DataFrame, id: Column, vec: Column, centroids: DataFrame,
      nprobe: Int = 1): DataFrame = {
    val scored = df.select(id.as("vec_id"), vec.cast("array<double>").as("embedding"))
      .crossJoin(broadcast(centroids))
      .withColumn("__csim", cosine(col("embedding"), col("centroid")))
    if (nprobe == 1) {
      scored.groupBy(col("vec_id"), col("embedding"))
        .agg(max_by(col("centroid_id"),
          struct(col("__csim"), (-col("centroid_id")).as("__nid"))).as("centroid_id"))
        .select(col("vec_id"), col("embedding"), col("centroid_id"))
    } else {
      // top-nprobe: sort the per-vector centroid set (m entries, tiny) and
      // slice — same (sim desc, centroid_id asc) order as the nprobe=1 path
      scored.groupBy(col("vec_id"), col("embedding"))
        .agg(slice(array_sort(collect_list(
          struct((-col("__csim")).as("__negsim"), col("centroid_id")))), 1, nprobe).as("__top"))
        .select(col("vec_id"), col("embedding"),
          explode(col("__top.centroid_id")).as("centroid_id"))
    }
  }

  /** Nearest-centroid assignment as a PURE PROJECTION — no aggregation,
    * no shuffle — against a driver-collected quantizer (broadcast-sized
    * by the same contract as [[ivfCentroids]]). Bit-identical to
    * [[ivfAssign]] `nprobe=1`: each sim is the same codegen'd
    * literal-array dot in the same accumulation order, and the strict `>`
    * fold in ascending centroid_id order reproduces
    * `max_by(centroid_id, struct(sim, -centroid_id))` tie-breaking
    * (equal sims keep the smaller id). Being projection-only, this is
    * the form a STREAMING ingest can run per-row. */
  def ivfAssignProjection(df: DataFrame, id: Column, vec: Column,
      centroids: Array[(Int, Array[Double])]): DataFrame = {
    require(centroids.nonEmpty, "empty quantizer")
    val sorted = centroids.sortBy(_._1)
    val v = vec.cast("array<double>")
    val nv = l2Norm(v)
    def sim(c: Array[Double]): Column = {
      val lit_ = array(c.map(x => lit(x)): _*)
      dot(v, lit_) / (nv * math.sqrt(c.map(x => x * x).sum))
    }
    // Every sim evaluated exactly ONCE: a strict-> when-fold duplicates
    // each sim expression (a dim-double literal-array dot) into both
    // branches of every step — 2^m expression growth that overflowed
    // janino's method limits at m=8, with codegen fallback silently
    // running the whole stage (incl. streaming ingest) interpreted.
    // array_max over (sim, -index) structs is the same argmax with the
    // same smaller-id-wins tie-break (lexicographic struct ordering),
    // and matches the aggregate path's max_by NaN semantics.
    val entries = sorted.zipWithIndex.map { case ((_, cvec), i) =>
      struct(sim(cvec).as("s"), lit(-i).as("ni"))
    }
    val ids = array(sorted.map(c => lit(c._1)): _*)
    val bestIdx = (-array_max(array(entries: _*)).getField("ni")).cast("int")
    df.select(id.as("vec_id"), v.as("embedding"),
      element_at(ids, bestIdx + 1).as("centroid_id"))
  }

  /** Driver-collect a (centroid_id, centroid) quantizer frame for
    * [[ivfAssignProjection]]. */
  def collectCentroids(centroids: DataFrame): Array[(Int, Array[Double])] =
    centroids.select(col("centroid_id").cast("int"),
        col("centroid").cast("array<double>")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))

  /** IVF approximate top-k: corpus vectors live in their nearest
    * centroid's inverted list; each query probes its `nprobe` nearest
    * lists and ranks candidates by exact cosine. Candidate cost ~
    * nprobe/m of the corpus; recall grows with nprobe (spec-checked
    * against brute force). */
  def ivfCosineTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
      queries: DataFrame, queryId: Column, queryVec: Column,
      m: Int, nprobe: Int, k: Int): DataFrame =
    ivfCosineTopKWith(ivfCentroids(corpus, corpusId, corpusVec, m).localCheckpoint(false),
      corpus, corpusId, corpusVec, queries, queryId, queryVec, nprobe, k)

  /** [[ivfCosineTopK]] against a caller-supplied quantizer — e.g.
    * [[kMeansCentroids]]-trained — sharing the (centroid_id, centroid)
    * contract. */
  def ivfCosineTopKWith(centroids: DataFrame,
      corpus: DataFrame, corpusId: Column, corpusVec: Column,
      queries: DataFrame, queryId: Column, queryVec: Column,
      nprobe: Int, k: Int): DataFrame = {
    val lists = ivfAssign(corpus, corpusId, corpusVec, centroids, nprobe = 1)
      .withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed("embedding", "__cv")
      .withColumn("__cn", l2Norm(col("__cv")))
    val probes = ivfAssign(queries, queryId, queryVec, centroids, nprobe = nprobe)
      .withColumnRenamed("vec_id", "query_id").withColumnRenamed("embedding", "__qv")
      .withColumn("__qn", l2Norm(col("__qv")))
    val scored = lists.join(broadcast(probes), "centroid_id")
      .withColumn("sim", quantize4(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("__rank").cast("long").as("rank"))
  }

  /** Deterministic random projection dim -> dimOut: component i of the
    * output is the left-assoc dot of the input with pseudo-random plane i
    * (the same integer-lattice planes as [[hyperplaneSignature]], so the
    * DuckDB oracle replicates every IEEE operation bit-for-bit).
    * Johnson-Lindenstrauss-style distance preservation makes the projected
    * cosine a cheap coarse rank for two-stage ANN: the per-pair cost drops
    * dim/dimOut-fold. */
  def projectVec(vec: Column, dimIn: Int, dimOut: Int): Column = {
    val vd = vec.cast("array<double>")
    array((0 until dimOut).map(i => dot(vd, planeLit(i, dimIn))): _*)
  }

  /** Two-stage projected ANN: rank ALL corpus vectors by cosine in the
    * `dimOut`-dim projected space (cheap), keep the top `coarseK` per
    * query, then re-rank ONLY those candidates by exact full-dim cosine.
    *
    * Scale shape: the coarse pass carries (id, projection) — never the
    * full vector — and the exact pass is one corpus scan semi-joined
    * against the broadcast candidate list, so full vectors are read for
    * ~coarseK rows per query instead of the whole corpus. Recall is
    * bounded by projection distortion (spec-checked against brute
    * force). */
  def projectedCosineTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
      queries: DataFrame, queryId: Column, queryVec: Column,
      dimIn: Int, dimOut: Int, coarseK: Int, k: Int): DataFrame = {
    val cp = corpus.select(corpusId.as("neighbor_id"),
      projectVec(corpusVec, dimIn, dimOut).as("__cp"))
      .withColumn("__cpn", l2Norm(col("__cp")))
    val qp = queries.select(queryId.as("query_id"),
      projectVec(queryVec, dimIn, dimOut).as("__qp"))
      .withColumn("__qpn", l2Norm(col("__qp")))
    val coarse = cp.crossJoin(broadcast(qp))
      .withColumn("__csim", quantize4(dot(col("__qp"), col("__cp")) / (col("__qpn") * col("__cpn"))))
    val wc = Window.partitionBy(col("query_id")).orderBy(col("__csim").desc, col("neighbor_id").asc)
    val cands = coarse.withColumn("__crank", row_number().over(wc))
      .filter(col("__crank") <= coarseK)
      .select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(corpusId.as("neighbor_id"), corpusVec.cast("array<double>").as("__cv"))
      .withColumn("__cn", l2Norm(col("__cv")))
    val qv = queries.select(queryId.as("query_id"), queryVec.cast("array<double>").as("__qv"))
      .withColumn("__qn", l2Norm(col("__qv")))
    val exact = cv.join(broadcast(cands), "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("sim", quantize4(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    exact.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("__rank").cast("long").as("rank"))
  }

  /** Per-vector symmetric int8 quantization: scale = max(|x_i|) / 127,
    * code_i = floor(x_i / scale + 0.5) in [-128, 127] (floor(x+0.5) is the
    * engine-portable half-up convention shared with quantize4). The
    * all-zero vector gets scale 0 and all-zero codes. 8x memory/IO
    * reduction for ANN candidate stores; reconstruction x_i ~ code_i *
    * scale bounds the error by scale/2 per component. */
  def quantizeInt8(vec: Column): Column = {
    val vd = vec.cast("array<double>")
    // the scale is bound to a lambda VARIABLE before the per-element code
    // lambda uses it: capturing the array_max expression directly in the
    // lambda body would re-evaluate it once per ELEMENT (TextOps.bind note)
    val scaleC = array_max(transform(vd, x => abs(x))) / 127.0
    element_at(transform(array(scaleC), s =>
      struct(
        s.as("scale"),
        when(s === 0.0, transform(vd, _ => lit(0).cast("int")))
          .otherwise(transform(vd, x => floor(x / s + 0.5).cast("int"))).as("codes"))), 1)
  }

  /** Reconstruct an approximate vector from [[quantizeInt8]] output.
    * The scale is bound once per row (same lambda-capture note as
    * [[quantizeInt8]]). */
  def dequantizeInt8(q: Column): Column =
    element_at(transform(array(q.getField("scale")), s =>
      transform(q.getField("codes"), c => c.cast("double") * s)), 1)

  /** Approximate top-k: candidates restricted to the query's bucket. */
  def bucketedCosineTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
      queries: DataFrame, queryId: Column, queryVec: Column,
      dim: Int, bits: Int, k: Int): DataFrame = {
    val c = hyperplaneBuckets(corpus, corpusId, corpusVec, dim, bits)
      .withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed("embedding", "__cv")
      .withColumn("__cv", col("__cv").cast("array<double>"))
      .withColumn("__cn", l2Norm(col("__cv")))
    val q = hyperplaneBuckets(queries, queryId, queryVec, dim, bits)
      .withColumnRenamed("vec_id", "query_id").withColumnRenamed("embedding", "__qv")
      .withColumn("__qv", col("__qv").cast("array<double>"))
      .withColumn("__qn", l2Norm(col("__qv")))
    val scored = c.join(broadcast(q), "bucket")
      .withColumn("sim", quantize4(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("__rank").cast("long").as("rank"))
  }

  // -------------------------------------------------------------------
  // Product quantization (Jégou et al. 2011, "Product quantization for
  // nearest neighbor search") — the memory-side ANN scale path: vectors
  // compress to m small codes, queries scan CODES with per-subspace
  // lookup tables (ADC), full vectors never touched at query time.
  // -------------------------------------------------------------------

  /** PQ codebooks: an independent spherical Lloyd quantizer per subspace
    * (the [[kMeansCentroids]] machinery on `dim/m`-dim slices — cosine
    * assignment, lattice-exact means, deterministic seeds). Returns
    * `(sub, centroid_id, centroid)`, m·k rows, broadcast-sized.
    *
    * Scale: each subspace train is the kMeansCentroids shape (broadcast
    * assignment, slim mean shuffles) over SLICED vectors — m trains of
    * dim/m-wide data cost what one full-dim train costs. */
  def pqCodebooks(corpus: DataFrame, id: Column, vec: Column, dim: Int,
      m: Int, k: Int, iters: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim ($dim) must split into m ($m) equal subspaces")
    val dsub = dim / m
    // the m subspace trains are independent chains of SMALL jobs (assign
    // + means per round, driver-synchronized) — submit them concurrently
    // so the wall time is the slowest subspace, not the sum; Spark's
    // scheduler interleaves the jobs across the same executors
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val books = (0 until m).map { s =>
      Future {
        kMeansCentroids(
          corpus.select(id.as("__pqid"),
            slice(vec.cast("array<double>"), s * dsub + 1, dsub).as("__pqv")),
          col("__pqid"), col("__pqv"), k, iters)
          .select(lit(s).as("sub"), col("centroid_id"), col("centroid"))
      }
    }
    Await.result(Future.sequence(books), Duration.Inf).reduce(_.unionAll(_))
  }

  /** Driver-collect PQ codebooks: `books(sub)` = (centroid_id, codeword)
    * ascending by id. Broadcast-sized by the [[ivfCentroids]] contract. */
  def collectCodebooks(codebooks: DataFrame): Array[Array[(Int, Array[Double])]] =
    codebooks.select(col("sub").cast("int"), col("centroid_id").cast("int"),
        col("centroid").cast("array<double>")).collect()
      .map(r => (r.getInt(0), (r.getInt(1), r.getSeq[Double](2).toArray)))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.map(_._2).sortBy(_._1))

  /** PQ encoding as a PURE PROJECTION (the streaming-ingest form, like
    * [[ivfAssignProjection]]): per subspace the nearest codeword by
    * cosine (array_max over (sim, -idx) structs — smaller centroid_id
    * wins ties), emitting `codes` (array of centroid ids, one per
    * subspace) and `recon_norm` = ||concatenated codewords||, the
    * corpus-side constant ADC needs. m·k literal-array dots per row,
    * all inside whole-stage codegen; no shuffle. */
  def pqAssignProjection(df: DataFrame, id: Column, vec: Column,
      books: Array[Array[(Int, Array[Double])]]): DataFrame = {
    require(books.nonEmpty && books.forall(_.nonEmpty), "empty codebooks")
    val m = books.length
    val dsub = books(0)(0)._2.length
    val v = vec.cast("array<double>")
    def codeOf(s: Int): Column = {
      val sv = slice(v, s * dsub + 1, dsub)
      val svn = sqrt(dot(sv, sv))
      val entries = books(s).zipWithIndex.map { case ((_, cw), i) =>
        val cwLit = array(cw.map(x => lit(x)): _*)
        val cwNorm = math.sqrt(cw.map(x => x * x).sum)
        struct((dot(sv, cwLit) / (svn * lit(cwNorm))).as("s"), lit(-i).as("ni"))
      }
      val ids = array(books(s).map(c => lit(c._1)): _*)
      element_at(ids, (-array_max(array(entries: _*)).getField("ni")).cast("int") + 1)
    }
    // ||recon||^2 = Σ_sub ||codeword||^2 — literal lookup by code, summed
    // left-assoc (the oracle mirrors this order)
    def norm2Of(s: Int, code: Column): Column = {
      val n2 = array(books(s).map { case (_, cw) =>
        lit(cw.map(x => x * x).sum) }: _*)
      element_at(n2, code)
    }
    val withCodes = df.select(id.as("vec_id"), v.as("__v"),
      array((0 until m).map(codeOf): _*).as("codes"))
    val recon2 = (0 until m).map(s =>
      norm2Of(s, element_at(col("codes"), s + 1))).reduce(_ + _)
    withCodes.select(col("vec_id"), col("codes"), sqrt(recon2).as("recon_norm"))
  }

  /** PQ-ADC top-k: queries scan corpus CODES, not vectors. Each query row
    * carries a flat m·k lookup table (`dot(q_sub, codeword)` literals —
    * computed once per query), each corpus row sums m table lookups
    * (left-assoc) and normalizes by ||q||·||recon|| — the asymmetric
    * distance computation. Approximation error is the codebook
    * reconstruction error (spec-checked recall vs brute force).
    *
    * Scale shape: corpus side is (id, m codes, norm) — the full vectors
    * are GONE from the query path (8 bytes of codes vs 512 bytes of
    * floats at dim 64·m 4); queries broadcast; one Window ranks per
    * query. */
  def pqCosineTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
      queries: DataFrame, queryId: Column, queryVec: Column,
      books: Array[Array[(Int, Array[Double])]], k: Int): DataFrame = {
    val m = books.length
    val nCodes = books(0).length
    val dsub = books(0)(0)._2.length
    val coded = pqAssignProjection(corpus, corpusId, corpusVec, books)
    val qv = queryVec.cast("array<double>")
    val tbl = array((for (s <- 0 until m; (_, cw) <- books(s)) yield
      dot(slice(qv, s * dsub + 1, dsub), array(cw.map(x => lit(x)): _*))): _*)
    val q = queries.select(queryId.as("query_id"), tbl.as("__tbl"),
      sqrt(dot(qv, qv)).as("__qn"))
    // flat index of sub s's code c (ids are 1..k from ivfCentroids):
    // s*k + c — codes double as 1-based offsets within their block
    val adc = (0 until m).map { s =>
      element_at(col("__tbl"), lit(s * nCodes) + element_at(col("codes"), s + 1))
    }.reduce(_ + _)
    val scored = coded.crossJoin(broadcast(q))
      .withColumn("sim", quantize4(adc / (col("__qn") * col("recon_norm"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"),
        col("__rank").cast("long").as("rank"))
  }
}
