package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Byte-pair-encoding tokenizer TRAINING at corpus scale — the
 * "train a tokenizer on the crawl" step of an LLM data pipeline
 * (Sennrich et al. 2016, arXiv:1508.07909; the GPT-2/sentencepiece
 * pre-tokenized variant that trains on word frequencies).
 *
 * Scale shape: the corpus is scanned ONCE into a `(word, count)`
 * frame — Heaps'-law-bounded (a 100 TB crawl has ~10⁷ distinct words,
 * not 10¹² tokens) — which is then collected to the driver under the
 * same bounded-driver-frame contract as the bloom/centroid builders
 * (fail-fast over `maxDriverVocab`). The merge loop itself is
 * DRIVER-LOCAL and INCREMENTAL: a pair→count table plus a
 * pair→words inverted index, a lazy-deletion max-heap for the
 * arg-max, and per-merge delta updates touching only the words that
 * contain the merged pair — the classic Sennrich trainer. A real
 * 32k-100k-merge tokenizer is therefore seconds of driver CPU, not
 * tens of thousands of Spark rounds (the previous form ran one
 * pair-explode + LIMIT 1 job PER merge: correct, but days of
 * scheduling overhead at production merge counts). The corpus is
 * never touched again after the one scan; nothing corpus-sized ever
 * shuffles, and the final per-word symbol strings return to the
 * cluster as an ordinary createDataFrame of the vocab.
 *
 * Exact-replay discipline: a merge of pair (l, r) must replace
 * adjacent occurrences LEFT-TO-RIGHT, NON-OVERLAPPING — the classic
 * BPE apply order. On a space-separated symbol string that is exactly
 * one literal `replace` — provided consecutive matches don't compete
 * for a shared separator, which the double-space trick guarantees:
 * double every separator, replace `␣l␣␣r␣` with `␣lr␣` (each match
 * owns a full space on each side), halve separators back. All three
 * steps are plain `replace`, identical semantics in Spark and DuckDB,
 * so the oracle replays training verbatim. Arg-max ties break on
 * (count desc, l asc, r asc) — binary string order in both engines.
 */
object Bpe {

  /** One learned merge: `rank`-th iteration chose (`l`,`r`) → `l+r`,
    * which occurred `pairCount` times (adjacent, pre-merge, overlaps
    * counted) across the weighted vocab. */
  final case class Merge(rank: Int, l: String, r: String, pairCount: Long)

  /** Result: the merge list (driver-held, it IS the tokenizer model)
    * and the final vocab frame `(w, s, cnt)` — each distinct corpus
    * word with its space-separated symbol string after all merges. */
  final case class Model(merges: Seq[Merge], vocab: DataFrame)

  /** Corpus scan → `(w, cnt)` word-frequency frame (the only
    * corpus-sized job in training). */
  def wordCounts(df: DataFrame, text: Column): DataFrame =
    df.select(explode(TextOps.cleanTokens(text)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Apply merge (l, r) → lr to a padded symbol string, left-to-right
    * non-overlapping (see the class doc for why this is exact). */
  def applyMerge(s: Column, l: String, r: String): Column =
    replace(
      replace(
        replace(s, lit(" "), lit("  ")),
        lit(s" $l  $r "), lit(s" ${l}${r} ")),
      lit("  "), lit(" "))

  /** UTF-8 byte order — Catalyst's UTF8String / DuckDB binary collation.
    * The previous distributed arg-max tie-broke with Spark's string
    * ordering; Java String.compareTo (UTF-16 code units) would rank
    * supplementary-plane symbols differently, so the driver loop
    * compares raw UTF-8 bytes. */
  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Initial symbol split of a word: one symbol per CODE POINT (the
    * historical relational form split with a `(.)` regex, which consumes
    * a full surrogate pair per match). Symbols never contain spaces, so
    * the padded `" a b "` vocab string built from these is an unambiguous
    * symbol-sequence encoding. */
  private def codePointSymbols(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /**
   * Train `nMerges` BPE merges on a `(w, cnt)` word-frequency frame.
   *
   * The vocab is collected ONCE to the driver (fail-fast above
   * `maxDriverVocab` distinct words — the bounded-driver-frame
   * contract); merges then run as an incremental driver loop: per
   * merge, only words containing the chosen pair are re-segmented, and
   * pair counts update by delta. The arg-max is a lazy-deletion heap —
   * entries are pushed on every count change and validated against the
   * live table on pop, so each merge costs O(affected words × length +
   * log-heap), independent of vocab size. Semantics are byte-identical
   * to the relational form ([[applyMerge]] replayed by the DuckDB
   * oracle): overlap-counted adjacent pairs, left-to-right
   * non-overlapping application, (count desc, l asc, r asc) tie-break
   * in UTF-8 byte order. Stops early if no adjacent pair remains.
   */
  def train(wordCounts: DataFrame, nMerges: Int,
      maxDriverVocab: Int = 20000000): Model = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = wordCounts.sparkSession
    val collected: Array[Row] =
      wordCounts.select(col("w"), col("cnt").cast("long")).collect()
    require(collected.length <= maxDriverVocab,
      s"BPE vocab has ${collected.length} distinct words — over the " +
        s"$maxDriverVocab driver-frame bound; raise maxDriverVocab or " +
        "frequency-floor the word counts first")
    val words: Array[Array[String]] =
      collected.map(r => codePointSymbols(r.getString(0)))
    val counts: Array[Long] = collected.map(_.getLong(1))

    // pair -> weighted adjacency count (overlaps included), and
    // pair -> ids of words currently containing the adjacency
    val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val pairWords =
      scala.collection.mutable.HashMap.empty[(String, String), scala.collection.mutable.Set[Int]]
    def addPair(p: (String, String), wid: Int, delta: Long): Unit = {
      val nc = pairCounts.getOrElse(p, 0L) + delta
      if (nc == 0L) pairCounts.remove(p) else pairCounts(p) = nc
      if (delta > 0) pairWords.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += wid
    }
    // heap of (count, l, r) with lazy deletion: max count, then MIN l/r
    // in utf8 order — the first popped entry matching the live table is
    // the exact arg-max
    implicit val heapOrd: Ordering[(Long, String, String)] =
      (a: (Long, String, String), b: (Long, String, String)) => {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else {
          val cl = utf8Compare(b._2, a._2) // smaller l = higher priority
          if (cl != 0) cl else utf8Compare(b._3, a._3)
        }
      }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, String, String)]
    var wid = 0
    while (wid < words.length) {
      val sym = words(wid)
      var i = 0
      while (i + 1 < sym.length) {
        addPair((sym(i), sym(i + 1)), wid, counts(wid))
        i += 1
      }
      wid += 1
    }
    pairCounts.foreach { case ((l, r), c) => heap.enqueue((c, l, r)) }

    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      // pop stale entries until one matches the live count
      var best: (Long, String, String) = null
      while (best == null && heap.nonEmpty) {
        val top = heap.dequeue()
        if (pairCounts.get((top._2, top._3)).contains(top._1)) best = top
      }
      if (best == null) exhausted = true
      else {
        val (pc, l, r) = best
        merges += Merge(rank, l, r, pc)
        val merged = l + r
        val affected = pairWords.getOrElse((l, r), scala.collection.mutable.Set.empty)
          .toArray
        val touched = scala.collection.mutable.Set.empty[(String, String)]
        for (id <- affected) {
          val before = words(id)
          // left-to-right non-overlapping apply (applyMerge's contract)
          val out = Array.newBuilder[String]
          var i = 0
          var changed = false
          while (i < before.length) {
            if (i + 1 < before.length && before(i) == l && before(i + 1) == r) {
              out += merged; i += 2; changed = true
            } else { out += before(i); i += 1 }
          }
          if (changed) {
            val after = out.result()
            var j = 0
            while (j + 1 < before.length) {
              val p = (before(j), before(j + 1))
              addPair(p, id, -counts(id)); touched += p
              j += 1
            }
            j = 0
            while (j + 1 < after.length) {
              val p = (after(j), after(j + 1))
              addPair(p, id, counts(id)); touched += p
              j += 1
            }
            words(id) = after
          }
        }
        // membership cleanup + heap refresh for every changed pair
        touched.foreach { p =>
          pairCounts.get(p) match {
            case Some(c) =>
              pairWords.get(p).foreach(_.filterInPlace(id => {
                val s = words(id)
                var has = false
                var i = 0
                while (!has && i + 1 < s.length) {
                  has = s(i) == p._1 && s(i + 1) == p._2; i += 1
                }
                has
              }))
              heap.enqueue((c, p._1, p._2))
            case None => pairWords.remove(p)
          }
        }
        rank += 1
      }
    }

    // the padded " a b " symbol-string format of charSplit (empty word
    // stays the bare " " that `concat(" ", regexp_replace(...))` yields)
    val vocabRows = collected.indices.map { i =>
      val s = if (words(i).isEmpty) " " else words(i).mkString(" ", " ", " ")
      Row(collected(i).getString(0), s, counts(i))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val vocab = spark.createDataFrame(
      spark.sparkContext.parallelize(vocabRows, math.max(1,
        math.min(200, vocabRows.length / 10000 + 1))), schema)
    Model(merges.result(), vocab)
  }

  /** Weighted adjacent-pair counts (overlaps included) of a padded
    * symbol-string vocab frame — one distributed aggregation. `__a` is
    * bound as its own projection column first so the transform lambda
    * reads an attribute, not a re-evaluated subtree (the per-element
    * lambda-capture pitfall). */
  private def pairCountsFrame(vocab: DataFrame): DataFrame =
    vocab
      .withColumn("__a", filter(split(col("s"), " "), x => x =!= ""))
      .filter(size(col("__a")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(slice(__a, 1, size(__a) - 1), (x, i) -> struct(x AS l, __a[i + 1] AS r))"))
        .as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("pc"))

  /**
   * The OVER-BOUND regime of [[train]]: the vocab never leaves the
   * cluster. Each merge round is one distributed job — the weighted
   * adjacent-pair aggregation of [[pairCountsFrame]] plus a 1-ROW argmax
   * collect — followed by a lazy [[applyMerge]] projection; lineage is
   * cut every `mergesPerBarrier` merges (a round between barriers
   * re-applies the chained replaces during its scan: cheap string ops
   * traded for fewer materializations).
   *
   * Semantics are byte-identical to [[train]] (spec-pinned on shared
   * corpora): same overlap-counted pair statistics, same left-to-right
   * non-overlapping application, same (count desc, l asc, r asc)
   * tie-break — Spark's string ordering IS UTF-8 byte order, which is
   * exactly why [[train]]'s driver loop compares raw UTF-8 bytes.
   *
   * Scale contract: cost is `nMerges` distributed rounds over the
   * word-frequency frame. That is the right trade ONLY when the vocab
   * exceeds the driver bound (a >20M-distinct-word corpus); below it,
   * [[train]]'s incremental driver loop does 32k-100k merges in seconds
   * of CPU. The two regimes mirror the routing split: broadcast-local
   * until the fail-fast bound, distributed rounds past it.
   */
  def trainDistributed(wordCounts: DataFrame, nMerges: Int,
      mergesPerBarrier: Int = 8): Model = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(mergesPerBarrier >= 1, s"mergesPerBarrier must be >= 1, got $mergesPerBarrier")
    val vocab0 = graft.util.Barriers.statSafe(
      wordCounts.select(col("w"),
        concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("s"),
        col("cnt").cast("long").as("cnt")))
    var vocab = vocab0
    // generation bookkeeping: `gen` is the CURRENT barrier generation;
    // `superseded` the one it replaced, releasable only after a job has
    // materialized the current (lazy) checkpoint — the next round's
    // argmax is that job
    var gen = vocab0
    var superseded: Option[DataFrame] = None
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    var sinceBarrier = 0
    while (rank <= nMerges && !exhausted) {
      val top = pairCountsFrame(vocab)
        .orderBy(col("pc").desc, col("l"), col("r")).limit(1).collect()
      // that job materialized the current generation's lazy checkpoint:
      // the generation it superseded is dead
      superseded.foreach(graft.util.Checkpoints.release); superseded = None
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getString(0)
        val r = top(0).getString(1)
        merges += Merge(rank, l, r, top(0).getLong(2))
        vocab = vocab.withColumn("s", applyMerge(col("s"), l, r))
        sinceBarrier += 1
        if (sinceBarrier >= mergesPerBarrier && rank < nMerges) {
          vocab = graft.util.Barriers.statSafe(vocab)
          superseded = Some(gen)
          gen = vocab
          sinceBarrier = 0
        }
        rank += 1
      }
    }
    // final vocab rides its last barrier generation (never released here —
    // the caller's Model reads it); one more lazy cut bounds the trailing
    // applyMerge chain
    Model(merges.result(), vocab.localCheckpoint(false))
  }

  /** The merge list as a frame: `(merge_rank, lhs, rhs, merged,
    * pair_count)`. */
  def mergesFrame(df: DataFrame, model: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    model.merges
      .map(m => (m.rank.toLong, m.l, m.r, m.l + m.r, m.pairCount))
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
  }

  /**
   * Encode documents with a trained model: per-document word and
   * BPE-token counts. The vocab frame already holds every distinct
   * corpus word's merged form, so encoding is a broadcast join of the
   * exploded word stream against `(w, n_symbols)` — tokenizing 100 TB
   * with a trained model is one map-side join, no re-derivation.
   */
  def encodeCounts(df: DataFrame, id: Column, text: Column, model: Model): DataFrame = {
    val nSym = model.vocab
      .select(col("w"), size(split(trim(col("s")), " ")).cast("long").as("n_sym"))
    df.select(id.cast("long").as("doc_id"), explode(TextOps.cleanTokens(text)).as("w"))
      .join(broadcast(nSym), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe_tokens"))
  }
}
