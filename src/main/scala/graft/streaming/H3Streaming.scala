package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions._

/** One (band, member) row of the streaming SimHash band index. */
final case class SimHashBandRow(id: Long, simhash: Long, ts: java.sql.Timestamp,
  bandIdx: Int, bandVal: Long)

/** Per-band state: the most recent members, newest first, with each
  * member's event time (micros) for TTL pruning. */
final case class SimHashBandMembers(ids: List[Long], hashes: List[Long],
  tsUs: List[Long])

/** A streaming near-dup candidate: ids ordered, hamming distance attached. */
final case class SimHashCandidate(id_a: Long, id_b: Long, hamming: Int)

/** open-session state for [[H3Streaming.streamingSessionize]] (millis
  * internally — event-time timeouts are millisecond-grained). */
final case class OpenSession(startMs: Long, lastMs: Long, n: Long, sum: Long)

/** per-key funnel progress for [[H3Streaming.streamingFunnel]]:
  * `anchors(i)` = the latest possible step-0 anchor over all chains to
  * step i seen so far ([[graft.pipeline.Events.funnel]]'s max-anchor
  * recursion; `Long.MinValue` = no chain yet), `done` = number of steps
  * already emitted — `steps.size + 1` longs regardless of event volume.
  * MICROsecond ordinals: the batch twin compares raw micros, and a
  * millisecond-truncated comparison would reject chain steps landing in
  * the same millisecond (only the TIMEOUT is ms-grained, as Spark's
  * event-time timeouts are). */
final case class FunnelProgress(anchorsUs: Seq[Long], done: Int)

/** step completion emitted by [[H3Streaming.streamingFunnel]] (int64
  * micros — batch-operator parity). */
final case class FunnelHit(key: Long, step_idx: Int, step: String, ts_us: Long)

/** per-key trailing-window state for [[H3Streaming.streamingRollingStats]]:
  * the events still inside the lookback horizon of the newest event seen
  * — size bounded by the key's event rate × lookback, never its
  * history. */
final case class RollingState(ts: Seq[Long], v: Seq[Long])

/** per-event trailing aggregate emitted by
  * [[H3Streaming.streamingRollingStats]] (micros + e2 lattice — batch
  * parity with [[graft.pipeline.Events.rollingWindowStats]]). */
final case class RollingHit(key: Long, ts: Long, seq: Long,
  n_trailing: Long, sum_trailing_e2: Long)

/** closed session emitted by [[H3Streaming.streamingSessionize]]; bounds
  * are int64 nanoseconds (batch-operator parity). */
final case class SessionRow(key: Long, start_ns: Long, end_ns: Long,
  n_events: Long, value_sum_e2: Long)

/**
 * Structured Streaming wiring for the H3 catalog (SURVEY.md §2.10 — an
 * explicit *extension*: the reference is batch-only).
 *
 * Every scalar/array expression in the catalog is deterministic and
 * stateless, so it runs unchanged inside `readStream` pipelines. The
 * stateful reference ops map onto watermarked windowed aggregation:
 * compaction (C3/F1) becomes `h3_compact_agg` per (window, group), and
 * rollups become ordinary windowed groupBys. State lives in Spark's state
 * store — sized by (windows in flight) x (distinct groups), the right
 * shape for a 100 TB/day ingest feed.
 *
 * == State-store bounds per stateful twin (the unbounded-ingest audit) ==
 *
 * Watermarked-aggregation twins (hopping stats, approx distinct, weighted
 * sample, sample quantiles, heavy-hitter candidates, exact dedup, rate
 * anomaly): state = (windows in flight) x (groups); the watermark closes
 * windows — bounded by lateness horizon. The sketch twins carry O(k)
 * buffers per cell.
 *
 * flatMapGroupsWithState twins:
 *  - `streamingSessionize`: one [[OpenSession]] per live key; event-time
 *    timeout at `last + gap` evicts — bounded by keys active within gap.
 *  - `streamingFunnel`: `steps+1` longs per key; event-time timeout at
 *    `max(anchor) + span` — bounded by keys with a live anchor.
 *  - `streamingRollingStats`: per key, events inside the lookback horizon
 *    of its newest event — bounded by rate x lookback, never history.
 *  - `streamingSimHashCandidates`: `maxPerBand` members per band value;
 *    event-time timeout + arrival-time pruning at `stateTtlUs` — bounded
 *    by bands active within the TTL window.
 *  - `streamingSourceCap` (NoTimeout, BY DESIGN): ONE long per distinct
 *    source ever seen. The key domain is a curated source/domain list
 *    (millions of domains = a few MB) and the cap must outlive any
 *    horizon — a timeout would re-admit an exhausted source. Do NOT key
 *    it by an unbounded domain (per-URL); that needs a TTL'd variant.
 *  - `streamingApplyChanges` (NoTimeout, BY DESIGN): one [[MergeState]]
 *    per live doc id — the state IS the materialized table (CDC merge),
 *    bounded by table cardinality, not stream length. Evicting a key
 *    would resurrect a deleted or stale version on its next change.
 *
 * foreachBatch twins (incremental near-dedup, perceptual dedup,
 * triangles): no state store; the triangle twin's driver-held graph is
 * bounded by distinct edges and freed generationally
 * ([[graft.util.Barriers.generation]]).
 */
object H3Streaming {

  /** Full MICROS of a Timestamp: getTime carries the integral millis,
    * getNanos the full sub-second — batch parity needs the micro digits
    * (a millis-truncated comparison would reject chain steps / window
    * members landing in the same millisecond). Shared by every
    * event-time twin so their arithmetic cannot drift. */
  private def usOf(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** [[streamingApplyChanges]] per-id state: the current winning
    * (version, change-side preference, op, text) — ordered exactly
    * like the batch operator's struct-max: strings compare as UTF-8
    * BYTES (Catalyst's UTF8String binary order — Java String
    * compareTo would rank surrogate-pair text differently and pick a
    * different same-version tie winner), and a null/None text loses
    * ties, matching Catalyst's null-first struct comparison. */
  final case class MergeState(v: Long, pref: Long, op: String, text: Option[String])
  private val utf8BinaryOrdering: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  implicit val mergeStateOrdering: Ordering[MergeState] =
    Ordering.Tuple4(Ordering.Long, Ordering.Long, utf8BinaryOrdering,
        Ordering.Option(utf8BinaryOrdering))
      .on((s: MergeState) => (s.v, s.pref, s.op, s.text))

  /** stateless enrichment: point stream -> cell + parent columns. */
  def withCells(stream: DataFrame, latCol: String, lngCol: String, res: Int,
      parentRes: Int): DataFrame =
    stream
      .withColumn("cell", h3_latlng_to_cell(col(latCol), col(lngCol), lit(res)))
      .withColumn("parent", h3_cell_to_parent(col("cell"), lit(parentRes)))

  /** watermarked per-window, per-parent rollup (count + value sum). */
  def windowedParentRollup(stream: DataFrame, tsCol: String, valueCol: String,
      watermark: String, windowLen: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("parent"))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total_value"))

  /** watermarked per-window compaction: the streaming form of F1 — each
    * closed window emits the compacted cell set seen in it. */
  def windowedCompact(stream: DataFrame, tsCol: String, cellCol: String,
      watermark: String, windowLen: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(h3_compact_agg(col(cellCol)).as("cells"))

  /** Watermarked HOPPING-window rollup per group — the streaming twin of
    * [[graft.pipeline.Events.hoppingWindowStats]]: same epoch-aligned
    * window starts (Spark's `window(ts, len, slide)` assigns each event
    * to len/slide windows), same e2-lattice exact sums, `window_start`
    * surfaced as int64 micros for batch parity. State is (windows in
    * flight) x (distinct groups); the watermark closes windows. */
  def streamingHoppingStats(stream: DataFrame, tsCol: String, groupCol: String,
      valueCol: String, windowLen: String, slide: String,
      watermark: String): DataFrame =
    stream
      .withColumn("__v", floor(col(valueCol) * 100.0 + 0.5).cast("long"))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide), col(groupCol).as("group"))
      .agg(count(lit(1)).as("n_events"), sum(col("__v")).as("value_sum_e2"))
      .select(unix_micros(col("window.start")).as("window_start"),
        col("group"), col("n_events"), col("value_sum_e2"))
      .filter(col("window_start") >= 0)

  /** Watermarked windowed KMV distinct-count sketch per group — the
    * streaming twin of [[graft.pipeline.Sketches.approxDistinct]]: per
    * (window, group) the k smallest distinct 60-bit md5 hashes
    * accumulate in the state store (CollectMinK buffers serialize into
    * state rows), and each closed window emits `n_rows` + the KMV
    * `distinct_est`. State is O(k) per (window, group) no matter how
    * many rows stream through — vocabulary tracking over an unbounded
    * ingest feed in a few KB per stratum. */
  def streamingApproxDistinct(stream: DataFrame, tsCol: String,
      groupCol: String, valueCol: String, k: Int, watermark: String,
      windowLen: String): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    stream
      .withColumn("__h", graft.pipeline.TextOps.md5Long(col(valueCol)))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(groupCol).as("group"))
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.collect_min_k(col("__h"), k).as("__mk"))
      .select(unix_micros(col("window.start")).as("window_start"),
        col("group"), col("n_rows"),
        graft.pipeline.Sketches.kmvEstimate(col("__mk"), k).as("distinct_est"))
  }

  /** Windowed per-group sample quantiles — the streaming twin of
    * [[graft.pipeline.Sketches.sampledQuantilesBy]]: per (window,
    * group), the SAME salted (hash, id) bottom-k selection
    * ([[graft.pipeline.Sketches.quantileSampleAgg]], one shared
    * definition) accumulates in the state store, and each closed window
    * emits `n_rows`, `n_sample`, and the `q{permille}_est` ranks
    * ([[graft.pipeline.Sketches.quantileEstCols]], same shared rank
    * arithmetic). The selection is deterministic given the hash, so
    * stream == batch EXACTLY on the same window's rows — unlike the
    * sketch twins there is no merge-order caveat. State is O(k) per
    * (window, group); the watermark closes windows. */
  def streamingSampledQuantiles(stream: DataFrame, tsCol: String,
      groupCol: String, idCol: String, valueCol: String, k: Int,
      permille: Seq[Int], watermark: String, windowLen: String): DataFrame = {
    require(permille.nonEmpty && permille.forall(p => p >= 1 && p <= 1000))
    import graft.pipeline.Sketches
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(groupCol).as("group"))
      .agg(count(lit(1)).as("n_rows"),
        Sketches.quantileSampleAgg(
          col(idCol).cast("long"), col(valueCol).cast("long"), k).as("__mk"))
      .withColumn("n_sample", size(col("__mk")).cast("long"))
      .withColumn("__arr",
        sort_array(transform(col("__mk"), m => m.getField("__v"))))
      .select(unix_micros(col("window.start")).as("window_start") +:
        col("group") +: col("n_rows") +: col("n_sample") +:
        Sketches.quantileEstCols(permille): _*)
  }

  /** Windowed frequent-items candidates per group — the streaming face
    * of [[graft.pipeline.Sketches.heavyHitters]]'s sketch pass: per
    * (window, group) a Misra-Gries [[graft.functions.freq_sketch_k]]
    * accumulates in the state store (O(k) serialized buffers, like the
    * windowed KMV twin), and each closed window emits its candidate
    * items with lower-bound counts plus the window's exact non-null row
    * count. Per-window guarantees (any merge order): the emitted items
    * are a SUPERSET of every item above `n_rows/(k+1)` occurrences, and
    * each `count_lb` underestimates its true count by at most
    * `n_rows/(k+1)`. Counter VALUES are not deterministic across merge
    * orders — where exactness matters, run the batch operator's exact
    * second pass over the persisted window; candidates + bounds are the
    * monitoring-grade output ("top domains per hour per source").
    * State bound: O(k) per (window, group); the watermark closes
    * windows. */
  def streamingHeavyHitterCandidates(stream: DataFrame, tsCol: String,
      groupCol: String, itemCol: String, k: Int, watermark: String,
      windowLen: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    stream
      // n_rows counts what the sketch sees: non-null items (the batch
      // operator's N definition)
      .filter(col(itemCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(groupCol).as("group"))
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.freq_sketch_k(col(itemCol), k).as("__sk"))
      .select(unix_micros(col("window.start")).as("window_start"),
        col("group"), col("n_rows"), explode(col("__sk")).as("__c"))
      .select(col("window_start"), col("group"), col("n_rows"),
        col("__c.item").as("item"), col("__c.count_lb").as("count_lb"))
  }

  /** Windowed weighted sample per group: for every event-time window,
    * the k smallest exponential clocks
    * ([[graft.pipeline.Sketches.weightedBottomKSample]]'s key, same e6
    * lattice) — a per-window importance sample of the stream ("keep
    * 100 weighted exemplars per hour per source for monitoring").
    * CollectMinK state is O(k) per (window, group) and its serialized
    * buffers live in the state store like the windowed KMV twin.
    * Output: one row per sampled id with its window start. */
  def streamingWeightedSample(stream: DataFrame, tsCol: String,
      groupCol: String, idCol: String, weightCol: String, k: Int,
      watermark: String, windowLen: String, salt: String = "wk"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    stream
      // the batch op's contract, enforced here too: non-positive
      // weights drop (an Inf clock would ANSI-crash the query — a
      // poison-pill event a live stream cannot be pre-filtered of),
      // and NULL ids drop (a null key would burn a sample slot it can
      // never join back from)
      .withColumn("__wkid", col(idCol).cast("long"))
      .filter(col("__wkid").isNotNull && col(weightCol).cast("double") > 0.0)
      // the ONE shared key definition (long-cast id) — see esClockKeyE6
      .withColumn("__wkey",
        graft.pipeline.Sketches.esClockKeyE6(col("__wkid"), col(weightCol), salt))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(groupCol).as("group"))
      .agg(graft.functions.collect_min_k(struct(col("__wkey"), col("__wkid")), k).as("mk"))
      .select(unix_micros(col("window.start")).as("window_start"), col("group"),
        explode(col("mk")).as("m"))
      .select(col("window_start"), col("group"),
        col("m.__wkid").as("doc_id"), col("m.__wkey").as("sample_key_e6"))
  }

  /** Streaming exact dedup (the training-pipeline ingest shape): drop
    * documents whose content hash was already seen, with state bounded by
    * the watermark — a duplicate arriving later than `watermark` after the
    * original may be re-admitted, which is the standard state/recall
    * trade; state size = distinct hashes per watermark horizon, not the
    * corpus. The 64-bit content hash keeps state slim; a 2^-64 collision
    * drops a non-duplicate. */
  def streamingExactDedup(stream: DataFrame, tsCol: String, contentCol: String,
      watermark: String): DataFrame =
    stream
      .withColumn("__h", xxhash64(col(contentCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")

  /** Streaming incremental dedup against a STATIC reference corpus — the
    * ingest-time form of [[graft.pipeline.Dedup.incrementalDedup]]: drop
    * arriving rows whose `contentCol` already exists in `ref`. Stream-
    * static left-anti joins are stateless on the stream side (each
    * micro-batch joins against the static relation), so this composes
    * freely with ONE downstream stateful op (e.g.
    * [[streamingExactDedup]] for within-stream duplicates).
    *
    * The reference side is summarized once into a broadcast Bloom filter;
    * bloom-negative rows (the overwhelming majority of a novel feed) skip
    * the join entirely, and only bloom-positive candidates hit the exact
    * anti-join — semantics stay exactly "not in ref", the filter only
    * prunes work. At 100 TB of reference corpus the bloom is a few
    * hundred MB per executor; the anti-join's build side is the
    * candidate-restricted key set, not the corpus. */
  def streamingIncrementalDedup(stream: DataFrame, contentCol: String,
      ref: DataFrame, refContentCol: String,
      expectedRefItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val refKeys = ref.select(col(refContentCol).as("__rk"))
    // empty-ref guarded sketch (Dedup.keyBloom), same guard as the batch twin
    val bf = graft.pipeline.Dedup.keyBloom(refKeys, col("__rk"),
      expectedRefItems, fpp)
    // codegen'd probe (BloomFilterMightContain via the shim) — the former
    // Scala UDF split the whole-stage span around every bloom-gated filter
    val keyed = stream.withColumn("__maybe",
      org.apache.spark.sql.graft.shims.bloomMightContain(bf, xxhash64(col(contentCol))))
    val definite = keyed.filter(!col("__maybe"))
    val survivors = keyed.filter(col("__maybe"))
      .join(refKeys.distinct(), col(contentCol) === col("__rk"), "left_anti")
    definite.unionByName(survivors).drop("__maybe")
  }

  /** Streaming line-level boilerplate strip against a STATIC reference
    * corpus — the ingest-time form of [[graft.pipeline.TextOps.lineDedup]]
    * with the reference as the winner set: every line of an arriving
    * document that (probably) occurs in `ref` and is at least
    * `minLineChars` long is dropped; survivors are reassembled in order.
    *
    * Every line of a document lives inside its own row, so this is a pure
    * per-row PROJECTION — no explode, no re-aggregation (which would
    * spend the stream's one stateful operator on reassembly). The
    * reference's line set is summarized once into a broadcast Bloom over
    * the same 64-bit xxhash64 Spark's function computes; the probe UDF
    * splits, probes, and reassembles in one call per document.
    *
    * Semantics are BLOOM-APPROXIMATE, unlike the batch op's exact global
    * winner set: a novel line is falsely dropped with probability ~`fpp`
    * (deterministic per built filter — same filter, same outcome). That
    * is the boilerplate-strip trade at 100 TB: a few hundred MB of bloom
    * per executor covers billions of reference lines with no per-line
    * shuffle at ingest. All other columns pass through; `textCol` is
    * replaced by the stripped text and (n_lines, n_kept) accounting is
    * appended. Null text keeps its null and reports ZEROED accounting —
    * the batch operator's null-doc contract (TextOps.lineDedup), not
    * null counts. */
  def streamingLineDedup(stream: DataFrame, textCol: String,
      ref: DataFrame, refTextCol: String, minLineChars: Int = 5,
      expectedRefLines: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val refLines = ref.select(explode(split(col(refTextCol), "\n")).as("__rl"))
      .filter(length(col("__rl")) >= minLineChars)
    // empty-ref guarded sketch (Dedup.keyBloom): an all-short or empty
    // reference previously NPE'd in stat.bloomFilter's null-buffer decode
    val bf = graft.pipeline.Dedup.keyBloom(refLines, col("__rl"),
      expectedRefLines, fpp)
    val seed = 42L // xxhash64's fixed seed
    val strip = udf { (text: String) =>
      // null text: null stays null with ZERO counts (batch lineDedup's
      // null-doc contract) — a null tuple here would nullify the
      // accounting columns and break stream/batch parity
      if (text == null) (null: String, 0L, 0L)
      else {
        val lines = text.split("\n", -1)
        val kept = lines.filter { l =>
          l.length < minLineChars || {
            val u = org.apache.spark.unsafe.types.UTF8String.fromString(l)
            !bf.mightContainLong(
              org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
                u.getBaseObject, u.getBaseOffset, u.numBytes, seed))
          }
        }
        (kept.mkString("\n"), lines.length.toLong, kept.length.toLong)
      }
    }
    stream.withColumn("__s", strip(col(textCol)))
      .withColumn(textCol, col("__s._1"))
      .withColumn("n_lines", col("__s._2"))
      .withColumn("n_kept", col("__s._3"))
      .drop("__s")
  }

  /** Streaming duplicated-substring strip against a STATIC reference
    * corpus — the ingest-time form of
    * [[graft.pipeline.Dedup.substringDedup]] with the reference as the
    * canonical keeper: every token `n`-gram of an arriving document that
    * (probably) occurs in `ref` marks its `n` tokens for removal;
    * survivors re-join with single spaces. Pure per-row projection — the
    * reference's gram set is summarized once into a broadcast Bloom, so
    * nothing shuffles at ingest and no stateful operator is spent.
    *
    * Semantics are BLOOM-APPROXIMATE like [[streamingLineDedup]]: a novel
    * gram is falsely treated as duplicated with probability ~`fpp`
    * (deterministic per built filter), cutting up to `n` novel tokens.
    * That is the ingest trade at 100 TB: a few hundred MB of bloom covers
    * billions of reference grams with no per-gram join. `textCol` is
    * replaced by the stripped text; (n_tokens, n_removed) appended. */
  def streamingSubstringDedup(stream: DataFrame, textCol: String,
      ref: DataFrame, refTextCol: String, n: Int = 10,
      expectedRefGrams: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    val refGrams = ref.select(
      explode(graft.pipeline.TextOps.wordNgrams(col(refTextCol), n)).as("__g"))
    // empty-ref guarded sketch (Dedup.keyBloom): a reference with no
    // n-gram-long document previously NPE'd in stat.bloomFilter
    val bf = graft.pipeline.Dedup.keyBloom(refGrams, col("__g"),
      expectedRefGrams, fpp)
    val seed = 42L // xxhash64's fixed seed
    val strip = udf { (text: String) =>
      // null text: null stays null with ZERO counts (same null-doc
      // contract as streamingLineDedup / the batch operators)
      if (text == null) (null: String, 0L, 0L)
      else {
        // tokenize EXACTLY like the batch TextOps.tokens column expression:
        // UTF8String.trim strips only U+0020 (not tabs/newlines, unlike
        // java.lang.String.trim), UTF8String.toLowerCase is locale-agnostic
        // (String.toLowerCase honors the default locale — Turkish dotless-i
        // would diverge), and split keeps trailing empty tokens (limit -1)
        // like Spark's split(col, regex) does
        val ts = org.apache.spark.unsafe.types.UTF8String.fromString(text)
          .trim.toLowerCase.toString.split("\\s+", -1)
        val covered = new Array[Boolean](ts.length)
        var i = 0
        while (i + n <= ts.length) {
          val g = ts.slice(i, i + n).mkString(" ")
          val u = org.apache.spark.unsafe.types.UTF8String.fromString(g)
          if (bf.mightContainLong(
              org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
                u.getBaseObject, u.getBaseOffset, u.numBytes, seed)))
            java.util.Arrays.fill(covered, i, i + n, true)
          i += 1
        }
        val kept = ts.indices.collect { case j if !covered(j) => ts(j) }
        (kept.mkString(" "), ts.length.toLong, (ts.length - kept.length).toLong)
      }
    }
    stream.withColumn("__s", strip(col(textCol)))
      .withColumn(textCol, col("__s._1"))
      .withColumn("n_tokens", col("__s._2"))
      .withColumn("n_removed", col("__s._3"))
      .drop("__s")
  }

  /** Streaming SimHash NEAR-dup candidate detection — the ingest-time form
    * of [[graft.pipeline.Dedup.simHashNearDupPairs]]: each arriving
    * document is SimHash'd in one stateless projection
    * (Dedup.simHashColumn — Structured Streaming allows ONE stateful
    * operator per query, and the batch explode+groupBy SimHash would spend
    * it), banded by the same pigeonhole layout, and matched against the
    * last `maxPerBand` members of each of its bands held in
    * flatMapGroupsWithState state. Emits (id_a, id_b, hamming) for pairs
    * within `maxHamming`.
    *
    * Semantics and bounds, stated for the 100 TB/day shape:
    *  - recall within the state horizon is 1.0 (pigeonhole guarantee:
    *    a qualifying pair shares at least one full band);
    *  - a pair matching in several bands emits once PER matching band —
    *    at-least-once delivery; downstream dedupes or tolerates;
    *  - state per band value is capped FIFO at `maxPerBand` (hot templated
    *    bands degrade recall, never memory), so state size is bounded by
    *    (#distinct live band values) x maxPerBand x 24 bytes;
    *  - the matching horizon is `stateTtlUs` of EVENT time: members older
    *    than the band's newest event by more than the TTL are pruned on
    *    arrival, and a band quiet past `last event + TTL` is dropped
    *    whole by event-time timeout once the `watermark` passes it — so
    *    on an unbounded ingest the number of LIVE band values is bounded
    *    by the TTL window's distinct bands, never the stream's history
    *    (the previous NoTimeout form grew without bound). A near-dup
    *    arriving more than a TTL after its twin is not matched — the
    *    state/recall trade, stated. */
  def streamingSimHashCandidates(stream: DataFrame, idCol: String, textCol: String,
      tsCol: String, watermark: String, maxHamming: Int = 3, maxPerBand: Int = 64,
      stateTtlUs: Long = 3600000000L): Dataset[SimHashCandidate] = {
    import graft.pipeline.Dedup
    require(stateTtlUs > 0, s"stateTtlUs must be positive, got $stateTtlUs")
    val spark = stream.sparkSession
    import spark.implicits._
    val banded = stream
      .select(col(idCol).cast("long").as("id"),
        Dedup.simHashColumn(col(textCol)).as("simhash"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .select(col("id"), col("simhash"), col("ts"),
        posexplode(Dedup.simHashBandValues(col("simhash"), maxHamming))
          .as(Seq("bandIdx", "bandVal")))
      .as[SimHashBandRow]
    banded
      .groupByKey(r => (r.bandIdx, r.bandVal))
      .flatMapGroupsWithState[SimHashBandMembers, SimHashCandidate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[SimHashBandMembers]) =>
          if (rows.isEmpty) { // timeout: band quiet past its TTL horizon
            state.remove()
            Iterator.empty
          } else {
            var ids = state.getOption.map(_.ids).getOrElse(Nil)
            var hashes = state.getOption.map(_.hashes).getOrElse(Nil)
            var tss = state.getOption.map(_.tsUs).getOrElse(Nil)
            val out = scala.collection.mutable.ArrayBuffer.empty[SimHashCandidate]
            // the band's newest EVENT time — max over held members, not
            // the most-recently-arrived (head): an out-of-order arrival
            // prepends an older timestamp, and restoring from the head
            // would regress the horizon AND the timeout
            var newest = if (tss.isEmpty) Long.MinValue else tss.max
            for (r <- rows) {
              val us = usOf(r.ts)
              if (us > newest) newest = us
              val horizon = newest - stateTtlUs
              // a LATE row older than the horizon itself neither matches
              // (its event-time gap to every kept member exceeds the TTL)
              // nor enters state (it would arrive pre-expired)
              if (us >= horizon) {
                // prune members that fell out of the TTL horizon of the
                // band's newest event BEFORE matching — an expired twin
                // must not match even when its band was never quiet
                // (exact filter, not a suffix cut: out-of-order arrivals
                // can interleave timestamps in the newest-first list)
                val kept = ids.zip(hashes).zip(tss)
                  .collect { case ((i, h), t) if t >= horizon => (i, h, t) }
                ids = kept.map(_._1); hashes = kept.map(_._2); tss = kept.map(_._3)
                var is = ids; var hs = hashes; var ts2 = tss
                while (is.nonEmpty) {
                  val ham = java.lang.Long.bitCount(r.simhash ^ hs.head)
                  // symmetric-TTL invariant, kept explicit: with both
                  // sides inside [newest - TTL, newest] the gap is
                  // provably <= TTL, and this guard keeps that contract
                  // true under any future change to the pruning rule
                  if (ham <= maxHamming && is.head != r.id &&
                      math.abs(ts2.head - us) <= stateTtlUs)
                    out += SimHashCandidate(math.min(is.head, r.id), math.max(is.head, r.id), ham)
                  is = is.tail; hs = hs.tail; ts2 = ts2.tail
                }
                ids = (r.id :: ids).take(maxPerBand)
                hashes = (r.simhash :: hashes).take(maxPerBand)
                tss = (us :: tss).take(maxPerBand)
              }
            }
            state.update(SimHashBandMembers(ids, hashes, tss))
            // ms-grained event-time timeout, rounded UP past the horizon;
            // never at-or-before the current watermark (Spark rejects it)
            state.setTimeoutTimestamp(math.max(
              (newest + stateTtlUs) / 1000L + 1L,
              state.getCurrentWatermarkMs() + 1L))
            out.iterator
          }
      }
  }

  /** Streaming incremental NEAR-dedup — the ingest-time form of
    * [[graft.pipeline.Dedup.incrementalNearDedup]]: each micro-batch is
    * near-dedup'd against the static reference corpus (new-batch bands
    * broadcast, reference never shuffled — micro-batches are small by
    * construction, the exact fit for that asymmetry) and the survivors
    * handed to `sink`. The LSH band join + candidate-restricted verify
    * needs checkpoint barriers and a distinct, which are not legal
    * mid-stream — `foreachBatch` is the standard envelope for exactly
    * this shape. At-least-once on retry (the foreachBatch contract);
    * caller starts/stops the returned writer. */
  def streamingIncrementalNearDedup(stream: DataFrame, idCol: String,
      textCol: String, ref: DataFrame, refIdCol: String, refTextCol: String,
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        sink(graft.pipeline.Dedup.incrementalNearDedup(batch, ref,
          col(idCol), col(textCol), col(refIdCol), col(refTextCol)), epoch)
      }
      .outputMode("append")

  /** Streaming gap-based sessionization — the ingest-time form of
    * [[graft.pipeline.Sessions.sessionize]]: per key, events within
    * `gapMillis` of the previous one extend the open session; a larger
    * gap (or the watermark passing the gap horizon) closes it and emits
    * one [[SessionRow]] in append mode.
    *
    * Mechanics: `flatMapGroupsWithState` with EVENT-TIME timeout — after
    * each batch the timeout is re-armed at `last event + gap`, so a quiet
    * key's session is closed by watermark progress alone, exactly the
    * batch semantics on an unbounded stream. State per key is one open
    * session (4 longs) — O(live keys), never O(events). Within a batch,
    * a key's events are folded in timestamp order (Spark hands the
    * group's rows unsorted across batches only; per-invocation sorting a
    * key's micro-batch slice is in-memory and bounded by the batch).
    * Late events older than a closed session are handled by the
    * watermark contract upstream (dropped), the same trade every
    * watermarked operator makes. Timestamps in the emitted row are int64
    * NANOseconds for parity with the batch operator. */
  def streamingSessionize(stream: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, gapMillis: Long, watermark: String): Dataset[SessionRow] = {
    require(gapMillis > 0, s"gapMillis must be positive, got $gapMillis")
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(keyCol).cast("long").as("key"),
        col(tsCol).cast("timestamp").as("ts"),
        floor(col(valueCol) * 100.0 + 0.5).cast("long").as("v"))
      // watermark AFTER the projection: a cast/rename of a watermarked
      // column drops the event-time tag, and EventTimeTimeout requires
      // the tag on the column reaching flatMapGroupsWithState
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state: GroupState[OpenSession]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
          var open = state.getOption
          if (rows.isEmpty) {
            // timeout invocation: watermark passed last+gap — close
            open.foreach { s =>
              out += SessionRow(key, s.startMs * 1000000L, s.lastMs * 1000000L, s.n, s.sum)
            }
            open = None
            state.remove()
          } else {
            val sorted = rows.toArray.sortBy(_._2.getTime)
            for ((_, ts, v) <- sorted) {
              val ms = ts.getTime
              open match {
                case Some(s) if ms - s.lastMs <= gapMillis =>
                  open = Some(OpenSession(s.startMs, ms, s.n + 1, s.sum + v))
                case Some(s) =>
                  out += SessionRow(key, s.startMs * 1000000L, s.lastMs * 1000000L, s.n, s.sum)
                  open = Some(OpenSession(ms, ms, 1L, v))
                case None =>
                  open = Some(OpenSession(ms, ms, 1L, v))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMillis)
            }
          }
          out.iterator
      }
  }

  /** Streaming ordered funnel — the incremental twin of
    * [[graft.pipeline.Events.funnelCompletions]]: emits `(key, step_idx,
    * step, ts_us)` the FIRST time a key completes each step under the
    * batch operator's re-anchoring semantics (a key completes step i iff
    * a strictly-increasing chain of step events exists with the whole
    * chain within `maxSpanUs` of ITS OWN step-0 anchor — every step-0
    * occurrence is a candidate anchor, so a chain whose first anchor
    * expired still converts via a later one). Implemented with the same
    * max-anchor recursion as batch: `anchors(i)` carries the latest
    * possible anchor of any chain to step i; an event of type `steps(i)`
    * at `t` completes step i iff `t <= anchors(i-1) + span` (anchors from
    * strictly-earlier events only — same-ts events are processed against
    * a snapshot taken before their tie group, enforcing strict chains).
    *
    * State per key is `steps.size + 1` longs ([[FunnelProgress]]) —
    * O(live keys), never O(events) — and is dropped via event-time
    * timeout once the watermark passes `max(anchors) + span` (no held
    * anchor can complete a future step then; a brand-new step-0 event for
    * a long-expired key restarts a fresh chain and MAY re-emit low steps
    * — the standard state/recall trade every watermarked operator makes).
    * Within a micro-batch events are processed in event-time order;
    * parity with the batch operator is exact when each key's events
    * arrive in order across batches. */
  def streamingFunnel(stream: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, steps: Seq[String], maxSpanUs: Long,
      watermark: String): Dataset[FunnelHit] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(maxSpanUs > 0, s"maxSpanUs must be positive, got $maxSpanUs")
    val spark = stream.sparkSession
    import spark.implicits._
    val Unset = Long.MinValue
    stream
      .select(col(keyCol).cast("long").as("key"),
        col(tsCol).cast("timestamp").as("ts"),
        col(typeCol).cast("string").as("t"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelProgress, FunnelHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state: GroupState[FunnelProgress]) =>
          if (rows.isEmpty) { // timeout: no held anchor can still complete
            state.remove()
            Iterator.empty
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[FunnelHit]
            val st = state.getOption.getOrElse(
              FunnelProgress(Seq.fill(steps.size)(Unset), 0))
            val anchors = st.anchorsUs.toArray
            var done = st.done
            val sorted = rows.map(r => (r._1, usOf(r._2), r._3)).toArray.sortBy(_._2)
            var g = 0
            while (g < sorted.length) {
              var end = g // tie group [g, end): same-ts events can't chain
              while (end < sorted.length && sorted(end)._2 == sorted(g)._2) end += 1
              val snap = anchors.clone()
              var j = g
              while (j < end) {
                val (_, us, t) = sorted(j)
                // descending i: an event matching several step indices
                // (repeated step types) must not feed its own updates
                var i = steps.size - 1
                while (i >= 0) {
                  if (t == steps(i)) {
                    val anchor = if (i == 0) us else snap(i - 1)
                    if (anchor != Unset) {
                      if (anchors(i) < anchor) anchors(i) = anchor
                      if (us <= anchor + maxSpanUs && done == i) {
                        out += FunnelHit(key, i, steps(i), us)
                        done = i + 1
                      }
                    }
                  }
                  i -= 1
                }
                j += 1
              }
              g = end
            }
            val maxAnchor = anchors.max
            if (maxAnchor != Unset) {
              state.update(FunnelProgress(anchors.toSeq, done))
              // an already-expired state (stalled, then touched by an
              // unrelated event after the watermark passed anchor+span)
              // must still set a timeout AFTER the current watermark —
              // Spark rejects earlier ones; timeouts are ms-grained, so
              // round UP
              state.setTimeoutTimestamp(math.max(
                (maxAnchor + maxSpanUs) / 1000L + 1L,
                state.getCurrentWatermarkMs() + 1L))
            }
            out.iterator
          }
      }
  }

  /** Streaming per-event trailing-window aggregates — the incremental
    * twin of [[graft.pipeline.Events.rollingWindowStats]]: every arriving
    * event emits the count and e2-lattice sum of the SAME key's events in
    * `(ts - lookbackUs, ts]`. State per key is only the events still
    * inside the lookback horizon of the newest timestamp seen (evicted as
    * the window slides), so a key's state is bounded by rate × lookback,
    * never its history. Within a micro-batch events process in event-time
    * order; parity with the batch operator is exact under in-order
    * arrival per key: ts-ties within one micro-batch are processed as a
    * group (every tie sees the full CLOSED window, exactly the batch
    * RANGE-frame semantics); a tie group SPLIT across micro-batches sees
    * only prior arrivals — the unavoidable emit-per-arrival trade,
    * stated. */
  def streamingRollingStats(stream: DataFrame, keyCol: String, tsCol: String,
      seqCol: String, valueCol: String, lookbackUs: Long,
      watermark: String): Dataset[RollingHit] = {
    require(lookbackUs > 0, s"lookbackUs must be positive, got $lookbackUs")
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(keyCol).cast("long").as("key"),
        col(tsCol).cast("timestamp").as("ts"),
        col(seqCol).cast("long").as("seq"),
        floor(col(valueCol) * 100.0 + 0.5).cast("long").as("v"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RollingState, RollingHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state: GroupState[RollingState]) =>
          if (rows.isEmpty) { state.remove(); Iterator.empty }
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[RollingHit]
            var win = state.getOption
              .map(s => collection.mutable.ArrayDeque.from(s.ts.zip(s.v)))
              .getOrElse(collection.mutable.ArrayDeque.empty[(Long, Long)])
            val sorted = rows.map(r => (usOf(r._2), r._3, r._4)).toArray.sortBy(r => (r._1, r._2))
            var i = 0
            while (i < sorted.length) {
              var j = i // [i, j) = one ts-tie group, admitted atomically
              while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
              val us = sorted(i)._1
              for (k <- i until j) win += ((us, sorted(k)._3))
              while (win.nonEmpty && win.head._1 <= us - lookbackUs) win.removeHead()
              val n = win.size.toLong
              val sum = win.iterator.map(_._2).sum
              for (k <- i until j) out += RollingHit(key, us, sorted(k)._2, n, sum)
              i = j
            }
            state.update(RollingState(win.map(_._1).toSeq, win.map(_._2).toSeq))
            // state is useless once the watermark passes newest + lookback
            val newestMs = win.last._1 / 1000L
            state.setTimeoutTimestamp(math.max(newestMs + lookbackUs / 1000L + 1L,
              state.getCurrentWatermarkMs() + 1L))
            out.iterator
          }
      }
  }

  /** Streaming per-source quota cap — the ingest-time form of
    * [[graft.pipeline.Mixing.sourceCap]]: admit a source's first `cap`
    * rows (FIFO across micro-batches), drop the rest. All caller columns
    * pass through untouched.
    *
    * Semantics vs the batch twin, stated honestly: the batch op RANKS by
    * a deterministic hash and keeps the global top-cap — a re-ranking an
    * unbounded stream cannot do without retaining every row. The
    * streaming form shares the batch op's INVARIANT (per-source output
    * cardinality = min(rows seen, cap), survivors unmodified) but selects
    * by arrival order: within a micro-batch, admission follows the
    * group-iterator order Spark hands the operator. State per source is
    * ONE long (admitted count) — O(live sources), never O(rows) — so a
    * 100 TB/day feed with millions of domains holds a few MB of state.
    * NULL sources group with the empty string (the batch twin's
    * convention). */
  def streamingSourceCap(stream: DataFrame, sourceCol: String, cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val srcIdx = stream.schema.fieldIndex(sourceCol)
    implicit val rowEnc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(stream.schema)
    implicit val keyEnc = org.apache.spark.sql.Encoders.STRING
    implicit val stateEnc = org.apache.spark.sql.Encoders.scalaLong
    stream
      .groupByKey((r: org.apache.spark.sql.Row) =>
        java.util.Objects.toString(r.get(srcIdx), ""))
      .flatMapGroupsWithState[Long, org.apache.spark.sql.Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
          while (rows.hasNext) {
            val r = rows.next()
            if (n < cap) { out += r; n += 1 }
          }
          state.update(n)
          out.iterator
      }
      .toDF()
  }

  /** Ingest-time DSIR scoring against a FIXED model — the ingest form of
    * [[graft.pipeline.TextOps.importanceWeights]]. The trained per-token
    * log-ratio table collapses to ONE map row (model size = vocabulary,
    * MB-scale like the dedup blooms, never corpus-scale) that rides a
    * stream-static equi-join on a constant key; scoring is then a
    * stateless per-row fold over the document's tokens — no stream-side
    * state, no shuffle of arriving documents. Tokens outside the model
    * vocabulary are skipped (the batch operator only ever scores
    * in-vocabulary tokens); a document with no known token scores null.
    * On in-vocabulary documents the e4-lattice values are identical to
    * the batch operator's. */
  /** Streaming perceptual near-dedup against a static reference — the
    * ingest-time form of the p61/p62 batch chains: each micro-batch's
    * payloads are fingerprinted by `withHash` (e.g.
    * `Multimodal.withPHash(_, "img", "h")` for images,
    * `withAudioFingerprint` for audio) and rows within `maxHamming` of
    * ANY reference hash are dropped; survivors — hash column included,
    * undecodable payloads passed through with a NULL hash (an unreadable
    * blob is not a duplicate) — go to `sink`.
    *
    * Scale shape: the reference corpus is summarized ONCE into its hash
    * frame (one long per item — billions fit a few GB; cache or
    * pre-band it). Per batch BOTH sides band with the shared pigeonhole
    * split ([[graft.pipeline.Dedup.bandValues]]) and equi-join on
    * (band idx, band bits): recall 1.0 by pigeonhole, only same-band
    * candidates compared, and the micro-batch side is small by
    * construction so AQE broadcasts it — the reference frame never
    * shuffles. The per-id "no band matched" aggregation is not legal
    * mid-stream; `foreachBatch` is the standard envelope (at-least-once
    * on retry). */
  def streamingPerceptualDedup(stream: DataFrame, idCol: String,
      withHash: DataFrame => DataFrame, hashCol: String,
      refHashes: DataFrame, refHashCol: String,
      bits: Int, maxHamming: Int,
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        sink(graft.pipeline.Dedup.perceptualDedupAgainst(withHash(batch),
          col(idCol), col(hashCol), refHashes, col(refHashCol),
          bits, maxHamming), epoch)
      }
      .outputMode("append")

  /** Streaming video clip detection: each micro-batch of (id, container
    * bytes) videos is decoded to per-frame perceptual hashes
    * ([[graft.pipeline.Multimodal.withVideoFramePHashes]] — bytes never
    * shuffle, only (id, frame, hash) longs do) and matched against a
    * STATIC frame-hash corpus with
    * [[graft.pipeline.Dedup.videoClipMatchesAgainst]] — one output row
    * per (stream video, corpus video) pair sharing a near-identical
    * frame, with the matching-frame count. Same scale shape as
    * [[streamingPerceptualDedup]]: the corpus is summarized once into
    * fixed-width hash rows, both sides ride the shared pigeonhole
    * banding, the micro-batch side is small by construction so AQE
    * broadcasts it and the corpus never shuffles. `foreachBatch`
    * envelope (at-least-once on retry); the sink receives the per-epoch
    * match frame. */
  def streamingVideoClipMatches(stream: DataFrame, idCol: String,
      binaryCol: String, refFrames: DataFrame, refVidCol: String,
      refFrameIdxCol: String, refHashCol: String,
      maxHamming: Int = 2, every: Int = 1,
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val frames = graft.pipeline.Multimodal.withVideoFramePHashes(
          batch, idCol, binaryCol, every)
        sink(graft.pipeline.Dedup.videoClipMatchesAgainst(
          frames, col("id"), col("frame_idx"), col("phash"),
          refFrames, col(refVidCol), col(refFrameIdxCol), col(refHashCol),
          maxHamming), epoch)
      }
      .outputMode("append")

  /** Streaming ANN retrieval — the query half of the persistent IVF store
    * ([[graft.pipeline.AnnStore]]; [[AnnStore.streamIngest]] is the write
    * half): each micro-batch of query vectors runs the store's probe path
    * and `sink` receives the standard `(query_id, neighbor_id, sim, rank)`
    * rows, identical to the batch [[AnnStore.query]] over the same
    * quantizer (spec-pinned).
    *
    * Per-batch scale shape is the store's: the probe list (batch queries x
    * nprobe rows) broadcasts against the partition-pruned parquet read —
    * IO per batch is nprobe/m of the corpus regardless of corpus size,
    * the online-retrieval serving shape. Re-reading the store per batch
    * is the point, not a cost: appends from a concurrent
    * [[AnnStore.streamIngest]] become visible to the next micro-batch.
    * Retry semantics: pure read + rank, so a retried epoch re-emits
    * identical rows (at-least-once duplicates, never divergent ranks for
    * an unchanged store). */
  def streamingAnnTopK(stream: DataFrame, idCol: String, vecCol: String,
      storePath: String, centroids: DataFrame, nprobe: Int, k: Int,
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        sink(graft.pipeline.AnnStore.query(batch.sparkSession, storePath,
          centroids, batch, col(idCol), col(vecCol), nprobe, k), epoch)
      }
      .outputMode("append")

  def streamingImportanceScore(stream: DataFrame, idCol: String, textCol: String,
      corpus: DataFrame, corpusText: Column,
      target: DataFrame, targetText: Column): DataFrame = {
    import graft.pipeline.TextOps
    val lm = TextOps.importanceVocab(corpus, corpusText, target, targetText)
      .agg(map_from_entries(collect_list(struct(col("__tok"), col("__lr_e4")))).as("__lm"))
      .withColumn("__one", lit(1))
    stream.withColumn("__one", lit(1))
      .join(lm, Seq("__one"))
      .withColumn("__known",
        filter(TextOps.tokens(col(textCol)), t =>
          t =!= "" && element_at(col("__lm"), t).isNotNull))
      .select(col(idCol).as("doc_id"),
        size(col("__known")).cast("long").as("n_tokens"),
        when(size(col("__known")) > 0,
          (floor(aggregate(col("__known"), lit(0L),
              (acc, t) => acc + element_at(col("__lm"), t)).cast("double")
            / size(col("__known")).cast("double") + 0.5)
            .cast("double") / 10000.0)).as("dsir_score"))
  }

  /** Streaming form of [[graft.pipeline.TextOps.classifierScore]]: the
    * hashed linear classifier is a pure stateless per-row projection
    * (the weight is a formula of the md5 bucket), so it applies to a
    * streaming frame directly — no state, no watermark, no join; the
    * ingest-time quality gate. Output matches batch column-for-column. */
  def streamingClassifierScore(stream: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.pipeline.TextOps
    stream.select(col(idCol).as("doc_id"),
        TextOps.classifierScored(col(textCol)).as("__c"))
      .select(col("doc_id"), col("__c.n_features").as("n_features"),
        col("__c.score").as("score"), col("__c.label").as("label"))
  }

  /** Streaming form of [[graft.pipeline.TextOps.bigramLmScoreAgainst]]:
    * score arriving documents against a bigram LM pre-trained on a STATIC
    * corpus (CCNet's deployment shape — the KenLM is trained once, every
    * crawl shard scores against it). The trained LM folds into ONE row of
    * three lookup maps (unigram / bigram / context counts) plus the two
    * totals, which the stream cross-joins and Spark broadcasts per
    * micro-batch; scoring is then a per-row fold over token positions —
    * no explode, no stateful aggregation, so a document never splits
    * across state. Unseen tokens/grams take count 0, exactly the batch
    * add-one backoff (spec-pinned stream == batch, including OOV).
    *
    * The broadcast LM is the streaming trade-off: the batch operator
    * LEFT-joins distinct-gram-sized tables instead; a trained LM is
    * vocabulary-shaped (not corpus-shaped), which is what makes the
    * one-row map form viable at scale. */
  def streamingBigramLmScore(stream: DataFrame, idCol: String, textCol: String,
      corpus: DataFrame, corpusText: Column): DataFrame = {
    import graft.pipeline.TextOps
    val cbase = corpus.select(TextOps.cleanTokens(corpusText).as("__tk"))
      .filter(size(col("__tk")) >= 1)
    val vocab = cbase.select(explode(col("__tk")).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val c12 = cbase.select(explode(TextOps.wordNgramsOfTokens(col("__tk"), 2)).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__c12"))
      .localCheckpoint(false)
    val ctx = c12.groupBy(element_at(split(col("__g"), " "), 1).as("__w1"))
      .agg(sum(col("__c12")).as("__c1"))
    val lm = vocab
      .agg(map_from_entries(collect_list(struct(col("__t"), col("__c")))).as("__m2"),
        sum(col("__c")).as("__T"), count(lit(1)).as("__V"))
      .crossJoin(c12.agg(
        map_from_entries(collect_list(struct(col("__g"), col("__c12")))).as("__m12")))
      .crossJoin(ctx.agg(
        map_from_entries(collect_list(struct(col("__w1"), col("__c1")))).as("__m1")))
      .withColumn("__one", lit(1))
    val scored = stream.withColumn("__one", lit(1))
      .join(lm, Seq("__one"))
      .withColumn("__tk", TextOps.cleanTokens(col(textCol)))
      .filter(size(col("__tk")) >= 1)
    val denom = (col("__T") + col("__V")).cast("double")
    def e4(x: Column): Column = floor(x * 10000.0 + 0.5).cast("long")
    val firstLp = e4(log(
      (coalesce(element_at(col("__m2"), element_at(col("__tk"), 1)), lit(0L)) + 1)
        .cast("double") / denom))
    val n = size(col("__tk"))
    // positions 2..n as a fold; guarded sequence (2-arg sequence steps
    // DOWN when start > stop, so n = 1 must yield the empty array)
    val restSum = aggregate(
      when(n >= 2, sequence(lit(2), greatest(n, lit(2)), lit(1)))
        .otherwise(array().cast("array<int>")),
      lit(0L),
      (acc, i) => {
        val w1 = element_at(col("__tk"), i - 1)
        val w2 = element_at(col("__tk"), i)
        val g = concat(w1, lit(" "), w2)
        val c12v = coalesce(element_at(col("__m12"), g), lit(0L))
        val c1v = coalesce(element_at(col("__m1"), w1), lit(0L))
        val c2v = coalesce(element_at(col("__m2"), w2), lit(0L))
        acc + e4(log(
          lit(0.75) * ((c12v + 1).cast("double") / (c1v + col("__V")).cast("double"))
            + lit(0.25) * ((c2v + 1).cast("double") / denom)))
      })
    scored.select(col(idCol).as("doc_id"),
      n.cast("long").as("n_tokens"),
      (floor((firstLp + restSum).cast("double") / n.cast("double") + 0.5)
        .cast("double") / 10000.0).as("avg_logprob"))
  }

  /** Streaming corpus delta against a STATIC stored snapshot — the
    * ingest-time form of [[graft.pipeline.TextOps.corpusDiff]]: each
    * arriving (id, text) classifies as `added` (id unknown to the
    * snapshot), `changed` or `unchanged` (content hash vs the stored
    * hash, null-safe). `removed` does not exist in a stream — absence is
    * not observable from arrivals; a periodic batch corpusDiff covers it.
    *
    * Stream-static LEFT join on id: the snapshot side is a slim
    * (id, 8-byte hash) projection — texts never shuffle; Spark re-plans
    * the static side per micro-batch, and at 100 TB a broadcast-sized
    * hash frame (or a bucketed snapshot) keeps the per-batch cost at the
    * batch arrival rate, not the corpus. Output: the stream's columns
    * plus `status`. */
  def streamingCorpusDiff(stream: DataFrame, idCol: String, textCol: String,
      snapshot: DataFrame, snapId: Column, snapText: Column): DataFrame = {
    import graft.pipeline.TextOps
    val ref = snapshot.select(snapId.cast("long").as("__sid"),
      TextOps.md5Long(snapText).as("__sh"))
    stream
      .join(ref, stream(idCol).cast("long") === col("__sid"), "left")
      .withColumn("status",
        when(col("__sid").isNull, "added")
          .when(TextOps.md5Long(col(textCol)) <=> col("__sh"), "unchanged")
          .otherwise("changed"))
      .drop("__sid", "__sh")
  }

  /**
   * Streaming incremental triangle counting: per micro-batch, the
   * number of triangles CLOSED by the batch's new edges — the
   * link-graph twin of [[graft.graph.Triangles]], maintained as the
   * crawl's host graph grows instead of recounted.
   *
   * Exactly-once attribution: a triangle is counted in the batch where
   * its LAST edge arrives, at that batch's SMALLEST new edge it
   * contains — new edges get a deterministic batch-local rank, old
   * edges rank ∞, and edge e counts wedge (u,w),(v,w) only when
   * `rank(e) < min(rank(uw), rank(vw))`. Summing `n_closed` over all
   * epochs equals the batch operator's total on the union graph
   * (spec-pinned). Re-arrivals of known edges close nothing.
   *
   * Scale shape per batch: the new-edge frame (small by construction)
   * joins the accumulated adjacency twice — cost Σ(deg(u)+deg(v)) over
   * new edges, the canonical streaming-triangle bound; the accumulated
   * graph is union-appended and lineage-cut per batch, never rescanned
   * from source, and each epoch's superseded checkpoint generation is
   * UNPERSISTED once the next one is materialized (blocks held at any
   * moment: current graph + one in-flight epoch, not the stream's
   * history). `foreachBatch` envelope: at-least-once on retry (the
   * graph advances only after `sink` returns, so a retried epoch
   * re-emits identical rows).
   *
   * Restart semantics, stated: the accumulated graph is DRIVER-HELD, not
   * checkpointed — a restart from a streaming checkpoint begins with an
   * empty graph and would re-attribute triangles whose edges re-arrive.
   * Callers needing restart-exact attribution pass `initialGraph`: the
   * distinct `(u, v)` rows their sink has stored (exactly what this
   * operator emitted before the restart) — known edges then close
   * nothing again, same as within a run. Production would key the
   * adjacency in a node-partitioned store; the join shape is identical.
   */
  def streamingTriangles(stream: DataFrame, srcCol: String, dstCol: String,
      sink: (DataFrame, Long) => Unit,
      initialGraph: Option[DataFrame] = None):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.graph.Triangles
    import graft.util.{Barriers, Checkpoints}
    import org.apache.spark.sql.expressions.Window
    // accumulated canonical edges (u, v); bootstrap from the sink's
    // stored output on restart (canonicalized + distinct — tolerates a
    // sink that stored at-least-once duplicates or (src, dst) order)
    var graph: DataFrame = initialGraph
      .map(g => Triangles.canonicalEdges(g, col("u"), col("v"))).orNull
    // whether `graph` is a materialized generation (vs the caller's lazy
    // bootstrap plan). The bootstrap MUST be snapshotted before the first
    // batch touches it: it is otherwise re-evaluated three times in epoch 0
    // (anti-join, adjacency, nextGraph), and the nextGraph evaluation runs
    // AFTER sink() wrote epoch-0 output — when initialGraph reads the
    // sink's own store (the documented restart pattern) that late re-scan
    // would pick up epoch-0 edges already present in `fresh`, and the
    // distinct-free unionAll would duplicate them in the accumulated graph
    // forever, inflating n_closed in every later epoch.
    var graphMaterialized = false
    stream.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      if (graph != null && !graphMaterialized) {
        graph = Barriers.generation(graph)
      }
      graphMaterialized = true
      val cand = Triangles.canonicalEdges(batch, col(srcCol), col(dstCol))
      val fresh = Barriers.generation(
        (if (graph == null) cand
         else cand.join(graph, Seq("u", "v"), "left_anti"))
          .withColumn("erank",
            row_number().over(Window.orderBy(col("u"), col("v"))).cast("long")))
      val Inf = Long.MaxValue
      def bothDir(df: DataFrame, rank: Column) =
        df.select(col("u").as("a"), col("v").as("b"), rank.as("r"))
          .unionAll(df.select(col("v").as("a"), col("u").as("b"), rank.as("r")))
      val adj = Barriers.generation(
        if (graph == null) bothDir(fresh, col("erank"))
        else bothDir(graph, lit(Inf)).unionAll(bothDir(fresh, col("erank"))))
      val closed = fresh
        .join(adj.select(col("a").as("u"), col("b").as("w"), col("r").as("r1")), Seq("u"))
        .filter(col("w") =!= col("v"))
        .join(adj.select(col("a").as("v"), col("b").as("w"), col("r").as("r2")),
          Seq("v", "w"))
        .filter(col("erank") < least(col("r1"), col("r2")))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("n_closed"))
      val out = fresh.select(col("u"), col("v"))
        .join(closed, Seq("u", "v"), "left")
        .select(col("u"), col("v"), coalesce(col("n_closed"), lit(0L)).as("n_closed"))
      sink(out, epoch)
      val nextGraph = Barriers.generation(
        if (graph == null) fresh.select(col("u"), col("v"))
        else graph.unionAll(fresh.select(col("u"), col("v"))))
      // the new generation is materialized (eager) — every superseded
      // block set of this epoch can be released now
      (Option(graph).toSeq :+ fresh :+ adj).foreach(Checkpoints.release)
      graph = nextGraph
    }
      .outputMode("append")
  }

  /**
   * Streaming rate-anomaly alarm — the live twin of
   * [[graft.pipeline.Events.rateAnomaly]]: a watermarked tumbling
   * count aggregate emits each (window, group) count once FINALIZED
   * (append mode), and the foreachBatch envelope scores it against a
   * driver-held trailing baseline of the last `baseline` non-empty
   * windows per group (pruned each batch — state is groups ×
   * baseline longs, not the stream). Same integer
   * cross-multiplication and had-events baseline semantics as batch;
   * the alarm fires when the window closes, which is what a
   * monitoring alarm wants (scoring partial windows would flap).
   * `sink` receives (window_start, group, n_events, prev_sum,
   * prev_cnt, anomaly) rows per epoch. Retry semantics: the history
   * commits only AFTER the sink returns, so a failed epoch rescored on
   * retry emits IDENTICAL rows (at-least-once duplicates, never
   * contradictory alarms). The history is driver-held: a restart from
   * checkpoint starts with an empty baseline and under-alarms until
   * `baseline` windows refill — callers needing restart-exact
   * baselines should bootstrap `sink`-side from their stored output.
   */
  def streamingRateAnomaly(stream: DataFrame, tsCol: String, groupCol: String,
      windowLen: String, watermark: String, baseline: Int,
      threshNum: Long, threshDen: Long,
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(baseline >= 1 && threshNum > 0 && threshDen > 0)
    val counts = stream.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(groupCol).as("group"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("window.start")).as("window_start"),
        col("group").cast("string").as("group"), col("n_events"))
    val lenUs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(windowLen))
    val windowUs = lenUs.days * 86400000000L + lenUs.microseconds
    // trailing per-group history of non-empty windows: (window_start -> n)
    val hist = scala.collection.mutable.Map.empty[String, scala.collection.mutable.TreeMap[Long, Long]]
    counts.writeStream.outputMode("append").foreachBatch { (batch: DataFrame, epoch: Long) =>
      val spark = batch.sparkSession
      val rows = batch.collect() // finalized windows only: groups x new windows
      // several windows of one group can finalize in the SAME batch:
      // score them in window order, inserting each before the next, so
      // an in-batch predecessor is baseline for its successor exactly
      // as in the batch operator. Score against WORKING COPIES of only
      // the TOUCHED groups and commit them after the sink returns — a
      // sink failure + foreachBatch retry then rescores identical rows
      // instead of seeing half-mutated history, and an epoch touching
      // 5 of 10k groups clones 5 maps, not 10k.
      val touched = rows.map(_.getString(1)).toSet
      val work = scala.collection.mutable.Map(touched.toSeq.flatMap(g =>
        hist.get(g).map(h => g -> h.clone())): _*)
      val scored = rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy { case (ws, g, _) => (g, ws) }
        .map { case (ws, g, n) =>
          val h = work.getOrElseUpdate(g, scala.collection.mutable.TreeMap.empty)
          val prev = h.range(ws - baseline * windowUs, ws - windowUs + 1).values.toSeq
          val (psum, pcnt) = (prev.sum, prev.size.toLong)
          val flag = if (pcnt > 0 && n * pcnt * threshDen > psum * threshNum) 1L else 0L
          h += ws -> n
          val cutoff = h.lastKey - baseline * windowUs
          h.keys.takeWhile(_ < cutoff).toSeq.foreach(h.remove)
          (ws, g, n, psum, pcnt, flag)
        }
      import spark.implicits._
      sink(scored.toSeq.toDF("window_start", "group", "n_events",
        "prev_sum", "prev_cnt", "anomaly"), epoch)
      work.foreach { case (g, h) => hist(g) = h } // untouched groups keep theirs
    }
  }

  /**
   * Streaming CDC merge — the live twin of
   * [[graft.pipeline.TextOps.applyChanges]]: a change stream
   * `(id, op, text, version)` folds into per-id state seeded from the
   * base snapshot, with the SAME winner rule (highest (version,
   * change-side, op, text) tuple; nulls lose ties like Catalyst's
   * struct ordering). Each micro-batch emits the new current row for
   * every touched id — `(doc_id, text, version, last_op, live)`,
   * `live = false` when the winner is a delete — i.e. the changelog a
   * downstream materializer upserts. State is one slim tuple per id
   * (snapshot-keyed, like the production state store such a merge
   * would run against); no watermark — versions, not time, order
   * changes.
   */
  def streamingApplyChanges(stream: DataFrame, idCol: String, opCol: String,
      textCol: String, versionCol: String,
      base: DataFrame, baseId: Column, baseText: Column): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    // duplicate base ids resolve by the same max rule as batch (the
    // initial-state API requires ONE row per key — feeding duplicates
    // would kill the query on its first batch)
    val init = base.select(baseId.cast("long").as("id"), baseText.as("t"))
      .as[(Long, Option[String])]
      .groupByKey(_._1)
      .mapValues { case (_, t) => MergeState(0L, 0L, "base", t) }
      .reduceGroups((a: MergeState, b: MergeState) =>
        if (mergeStateOrdering.gteq(a, b)) a else b)
      .groupByKey(_._1)
      .mapValues(_._2)
    // a null op is an invalid change: batch's delete filter would drop
    // its winner SILENTLY and a null would NPE the ordering — both
    // sides drop null-op rows up front (the uniform contract)
    val changes = stream.select(col(idCol).cast("long").as("id"),
        col(versionCol).cast("long").as("v"), col(opCol).as("op"),
        col(textCol).as("t"))
      .filter(col("op").isNotNull)
      .as[(Long, Long, String, Option[String])]
      .groupByKey(_._1)
    changes.flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout, init)(
      (id: Long, rows: Iterator[(Long, Long, String, Option[String])],
          state: GroupState[MergeState]) => {
        val incoming = rows.map { case (_, v, op, t) => MergeState(v, 1L, op, t) }
        val best = (state.getOption.iterator ++ incoming).max
        val changed = state.getOption.forall(_ != best)
        state.update(best)
        if (changed)
          Iterator.single((id, best.text.orNull, best.v, best.op,
            best.op != "delete"))
        else Iterator.empty
      })
      .toDF("doc_id", "text", "version", "last_op", "live")
  }

  /** Streaming form of [[graft.pipeline.Bpe.encodeCounts]]: tokenize
    * the ingest stream with a BATCH-trained BPE model — the
    * train-once / apply-forever split of a production tokenizer. The
    * model's vocab frame collapses to one broadcast (word →
    * n_symbols) map; per row the op is a stateless map lookup, no
    * state, no watermark. Matches batch column-for-column on
    * in-vocabulary text; words the training corpus never saw count in
    * `n_oov` (the batch op's inner join drops them from its word
    * count; the stream keeps the row and reports the miss — at ingest
    * the miss RATE is the drift signal a re-train triggers on). */
  def streamingBpeEncode(stream: DataFrame, idCol: String, textCol: String,
      model: graft.pipeline.Bpe.Model): DataFrame = {
    import graft.pipeline.TextOps
    val vm = model.vocab
      .select(col("w"), size(split(trim(col("s")), " ")).cast("long").as("__n"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("__n")))).as("__vm"))
      .withColumn("__one", lit(1))
    stream.withColumn("__one", lit(1))
      .join(vm, Seq("__one"))
      .withColumn("__toks", TextOps.cleanTokens(col(textCol)))
      .withColumn("__known",
        filter(col("__toks"), t => element_at(col("__vm"), t).isNotNull))
      .select(col(idCol).as("doc_id"),
        size(col("__known")).cast("long").as("n_words"),
        aggregate(col("__known"), lit(0L),
          (acc, t) => acc + element_at(col("__vm"), t)).as("n_bpe_tokens"),
        (size(col("__toks")) - size(col("__known"))).cast("long").as("n_oov"))
  }

  /** Streaming form of [[graft.raster.H3Raster.rasterToCells]] — raster
    * tiles arriving as a stream (a live ingestion feed of
    * [[graft.raster.H3Raster.tileSchema]] rows) convert per micro-batch.
    * The operator is STATELESS per tile (window polyfill + centroid
    * sampling, no cross-tile state), so the batch implementation runs
    * unmodified on an unbounded frame: no watermark, no state store;
    * downstream value-group rollups compose as ordinary watermarked
    * aggregations. Stream == batch is spec-pinned per tile set. */
  def streamingRasterToCells(tiles: DataFrame, res: Int): DataFrame =
    graft.raster.H3Raster.rasterToCells(tiles, res)
}
