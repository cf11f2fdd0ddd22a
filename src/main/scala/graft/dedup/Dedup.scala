package graft.dedup

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

import graft.util.{Checkpointing, Parallelism}

/** Deduplication operators for 100 TB-scale corpora: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design, common to every flavor:
  *  - candidate generation is ALWAYS bucketed (LSH bands / SimHash
  *    chunks / hyperplane buckets) — never an all-pairs join. The only
  *    shuffle is a hash partition on the bucket key.
  *  - pair verification runs inside the bucket join (narrow after the
  *    shuffle), against exact similarity on the candidate pair only.
  *  - oversized buckets (degenerate content, hash skew) are capped with
  *    an explicit threshold rather than silently exploding a join —
  *    callers see what was dropped via `bucketStats`.
  *  - "keep" policy is keep-min-id: any row that matches a smaller id
  *    is dropped. One extra semi-join, no iterative connected
  *    components on the hot path.
  */
object Dedup {

  // Cache bookkeeping: minHashPairs / embeddingNearDupPairs persist the
  // signature/bucket stage (it feeds 2-3 downstream joins). In a
  // long-lived session those cached blocks would otherwise accumulate
  // until eviction pressure. Two release paths:
  //  - per-call: wrap the dedup call in [[scoped]] and release the
  //    returned handle — concurrent dedup jobs in one session then
  //    can't release each other's caches;
  //  - session-wide: [[releaseCaches]] drops everything tracked
  //    OUTSIDE any scope (the single-job convenience path Bench/Verify
  //    use between queries).
  private val persistedDfs =
    scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Handle over the intermediates one scoped dedup call persisted —
    * same shape as [[graft.sources.BadRecordSplit]]'s Split handle:
    * the caller that created the caches owns their release. */
  final class CacheHandle private[Dedup] () {
    private val dfs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private[Dedup] def track(df: DataFrame): Unit = synchronized { dfs += df }
    private[graft] def trackedCount: Int = synchronized(dfs.size)
    /** Unpersist every intermediate tracked on THIS handle
      * (blocking=false). Safe while results are still referenced —
      * Spark recomputes on next action. */
    def release(): Unit = synchronized {
      dfs.foreach(_.unpersist(false))
      dfs.clear()
    }
  }

  // persists register on the innermost active scope's handle; the
  // scope is carried on a PLAIN ThreadLocal — deliberately not
  // DynamicVariable, whose InheritableThreadLocal would leak the
  // handle into threads spawned inside the block, so pooled threads
  // running later UNSCOPED dedup would register caches on a released
  // handle and escape releaseCaches(). Sound because persist() happens
  // at plan construction on the caller's thread, not in Spark tasks.
  private val currentScope =
    ThreadLocal.withInitial[Option[CacheHandle]](() => None)

  /** Run `f` in its own cache scope: every intermediate Dedup persists
    * while `f` builds its plans is tracked on the returned handle
    * instead of the module-global registry. Release the handle when
    * done with the returned DataFrames. The scope does NOT propagate to
    * threads `f` spawns — plans built on other threads register on the
    * session-wide registry as usual. */
  def scoped[T](f: => T): (T, CacheHandle) = {
    val h = new CacheHandle
    val prior = currentScope.get()
    currentScope.set(Some(h))
    try ((f, h))
    finally currentScope.set(prior)
  }

  private def trackPersist(df: DataFrame,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      : DataFrame = {
    currentScope.get() match {
      case Some(h) => h.track(df)
      case None => synchronized { persistedDfs += df }
    }
    df.persist(level)
  }

  /** Unpersist every UNSCOPED intermediate this module cached
    * (blocking=false) — caches created inside a [[scoped]] block belong
    * to their handle and are untouched. Safe to call while results are
    * still referenced — Spark will recompute on next action. */
  def releaseCaches(): Unit = synchronized {
    persistedDfs.foreach(_.unpersist(false))
    persistedDfs.clear()
  }

  /** Persist + materialize a multi-consumer intermediate. Without the
    * eager count, AQE submits every consumer's map stage concurrently
    * and each recomputes the partition while racing to populate the
    * cache (block "already exists" churn) — one materialization up
    * front means every consumer reads warm cache. The storage level is
    * caller-chosen so edge-scale frames (graph.Graph.triangleStats)
    * can ride DISK_ONLY through the SAME tracked registry —
    * [[releaseCaches]]/[[scoped]] then free them like every other
    * multi-consumer intermediate. */
  private[graft] def persistEager(df: DataFrame,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      : DataFrame = {
    val p = trackPersist(df, level)
    p.count()
    p
  }

  /** LAZY tracked persist — for multi-consumer intermediates whose
    * first consumer materializes them as part of a larger action (no
    * extra count job), still released by [[releaseCaches]]/[[scoped]]
    * like every other tracked cache. */
  private[graft] def persistLazy(df: DataFrame,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      : DataFrame = trackPersist(df, level)

  // ---------------------------------------------------------------- exact

  /** Exact dedup on key columns: keeps the smallest id per group.
    * Plain hash aggregation — partial map-side combine, one shuffle. */
  def exactDedup(df: DataFrame, idCol: String,
      keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol) +: keyCols.map(col): _*)

  /** Sub-document exact dedup (the CCNet/RefinedWeb "line-level"
    * pass): split every document into fixed `chunkWords`-word spans,
    * keep each distinct span's GLOBALLY FIRST occurrence (smallest
    * (id, position) across the corpus), and reassemble documents from
    * their surviving spans in original order. Boilerplate repeated
    * across pages (headers, license blocks, navigation) disappears
    * from every copy but the first; documents whose every span lost
    * drop out entirely. On delimitered corpora the fixed window is a
    * stand-in for paragraph/line splitting — the chunker is the only
    * line that changes.
    *
    * Matching is case-insensitive (spans are lowercased for the key —
    * the CCNet-style normalization), but surviving documents keep
    * their ORIGINAL casing and word forms; only inter-word whitespace
    * is normalized to single spaces (chunking is token-based).
    *
    * Scale shape: chunking is a narrow codegen map (split + sequence +
    * slice — no UDF); the winner election is ONE hash aggregation on
    * the normalized span key (map-side combined, min(struct) carries
    * no payload); survivors rejoin on the span key and reassembly is
    * one grouped collect bounded by a single document's span count.
    * Nothing is ever all-pairs and no driver collect occurs.
    *
    * Returns (idCol, clean_text, kept_chunks). */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int = 10): DataFrame = {
    require(chunkWords > 0, s"chunkWords must be > 0: $chunkWords")
    val toks = when(length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(split(trim(col(textCol)), "\\s+"))
    val chunks = df
      .select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol),
        explode(sequence(lit(0L),
          ceil(size(col("__toks")) / lit(chunkWords.toDouble)).cast("long")
            - 1)).as("__chunk_idx"),
        col("__toks"))
      .select(col(idCol), col("__chunk_idx"),
        array_join(slice(col("__toks"),
          (col("__chunk_idx") * chunkWords + 1).cast("int"),
          lit(chunkWords)), " ").as("__chunk_text"))
    keepFirstAndReassemble(chunks, idCol, joiner = " ")
  }

  /** [[chunkDedup]] for DELIMITERED corpora — the literal CCNet/C4
    * line-level pass: spans are the segments between `splitPattern`
    * matches (lines for `"\n"`, paragraphs for `"\n{2,}"`), matched
    * case-insensitively with leading/trailing whitespace ignored, and
    * surviving documents are reassembled from their original segments
    * joined by `rejoinWith`. Same winner election and scale shape as
    * the fixed-window variant. */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      splitPattern: String = "\n", rejoinWith: String = "\n"): DataFrame = {
    require(splitPattern.nonEmpty, "splitPattern must be non-empty")
    val segments = df
      .select(col(idCol),
        posexplode(split(col(textCol), splitPattern))
          .as(Seq("__chunk_idx", "__chunk_text")))
      .filter(length(trim(col("__chunk_text"))) > 0)
    keepFirstAndReassemble(segments, idCol, joiner = rejoinWith)
  }

  /** Shared tail of the span-dedup family: global keep-first winner
    * election on the normalized span key (one map-side-combined hash
    * aggregation carrying min(struct) only), rejoin, and per-document
    * in-order reassembly (grouped collect bounded by one document's
    * span count). Input: (idCol, __chunk_idx, __chunk_text). */
  private def keepFirstAndReassemble(chunks: DataFrame, idCol: String,
      joiner: String): DataFrame = {
    val keyed = chunks
      .withColumn("__chunk_key", lower(trim(col("__chunk_text"))))
    val winners = keyed
      .groupBy(col("__chunk_key").as("__win_key"))
      .agg(min(struct(col(idCol), col("__chunk_idx"))).as("__win"))
    keyed
      .join(winners,
        col("__chunk_key") === col("__win_key") &&
          struct(col(idCol), col("__chunk_idx")) === col("__win"))
      .select(col(idCol), col("__chunk_idx"), col("__chunk_text"))
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__chunk_idx"),
            col("__chunk_text")))),
          x => x.getField("__chunk_text")), joiner).as("clean_text"),
        count(lit(1)).as("kept_chunks"))
  }

  /** ANY-ALIGNMENT repeated-substring dedup — the ExactSubstr pass of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (public literature), re-expressed as relational ops
    * instead of the paper's suffix array: every `windowWords`-token
    * sliding window (stride 1, all n-k+1 offsets — NOT the fixed
    * chunk grid of [[chunkDedup]], which misses any duplicate shifted
    * off its alignment) is keyed corpus-wide; windows occurring ≥ 2
    * times elect the globally first occurrence (smallest (id, pos))
    * as canonical, and every token covered by a NON-canonical
    * occurrence is removed from its document. Documents losing every
    * token drop; documents shorter than the window survive untouched.
    * Matching is case-insensitive; survivors keep original casing
    * with inter-word whitespace normalized (token-based, like the
    * rest of the span family). Documents sharing an id are one
    * document to the removal (a window both hold at one position is
    * removed from both, as the oracle's coverage by (doc_id, idx)
    * does) and come out as one row, their kept tokens merged in
    * (index, token) order.
    *
    * Scale shape — and why this op, unlike an exact SIMILARITY join,
    * is safe on template families: every stage is key-grouped, never
    * pairwise, and the O(n·k) window expansion goes through exactly
    * one shuffle. A `row_number` window over that key exchange elects
    * the canonical occurrence (the oracle's own rule); it sorts and
    * spills, so a boilerplate family of F copies costs O(F) in bounded
    * memory. The removals group by id into position lists, join the
    * tokenized documents once, and each document's kept tokens are one
    * per-row expression bounded by its n + r·k; nothing is ever
    * exploded back to one row per token. The documents are scanned
    * once: the window side and the coverage join read the same spread
    * exchange.
    *
    * `hashKeys` is the production scale switch: window keys become
    * xxhash64 of the window string (8 bytes instead of ~7·k), cutting
    * the window shuffle and the election sort (measured 114.6 → 32.8 s
    * at 500k docs / 50M tokens on the former aggregate election,
    * SCALING.md). A 64-bit collision silently merges two distinct
    * windows (probability ~2⁻⁶⁴ per pair — the same accepted risk as
    * [[shingleHashes]]); keep `hashKeys = false` when the output must
    * be bit-reproducible against a plain-SQL replay (the oracle
    * query's mode).
    *
    * Returns (idCol, clean_text, kept_tokens). */
  def slidingSpanDedup(df: DataFrame, idCol: String, textCol: String,
      windowWords: Int = 20, hashKeys: Boolean = false): DataFrame = {
    require(windowWords > 1,
      s"windowWords must be > 1 (got $windowWords); use exactDedup " +
        "for single-token keys")
    val k = windowWords
    val spark = df.sparkSession
    // a corpus that arrived in fewer splits than cores (one small file)
    // would window and reassemble on one task
    val base = Parallelism.spread(spanTokenize(df, idCol, textCol), idCol)
    // ONE explicit exchange on the window key, the only shuffle of the
    // O(n·k) window expansion. Shuffle files spill to local disk by
    // design, so this stays safe at corpus scale where caching the
    // expansion would not (SCALING: columnar-caching the token frames
    // tripled the ×100 wall). The election window keys on __key, so it
    // adds no exchange. The partition count is explicit (the session's
    // shuffle partitions, at least one per core): AQE sizes partitions
    // by bytes and would coalesce a few MB of windows into one task,
    // while the cost here is per-row string work.
    val windows = spanWindows(base, idCol, k, hashKeys)
      .repartition(math.max(spark.sparkContext.defaultParallelism,
        spark.conf.get("spark.sql.shuffle.partitions").toInt),
        col("__key"))
    spanRemoveCovered(base, laterOccurrences(windows, idCol), idCol, k)
  }

  /** Tokenized documents (id, __toks). Deliberately NOT persisted:
    * every consumer re-derives the tokenization, and that is the
    * cheaper plan — columnar-caching large string-array rows costs
    * more to build and scan than re-running the codegen split from
    * the source (measured: caching this frame TRIPLED the ×100 wall,
    * 115 → 363 s at 500k docs — SCALING.md). The k× window expansion
    * is never materialized either way. */
  private def spanTokenize(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = when(length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(split(trim(col(textCol)), "\\s+"))
    df.select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) > 0)
  }

  /** Sliding windows (id, __pos, __key) for pos in [0, n-k] of the
    * documents whose id is not null.
    *
    * Leaving out null-id documents' windows is exact under the
    * oracle's order (`ORDER BY doc_id, pos`, nulls last in DuckDB): a
    * null-id occurrence ranks after every real one, so it is never
    * canonical, and a real occurrence is removed only when an earlier
    * real one exists. A null-id document's own tokens join no removal
    * and survive either way. Keeping those windows would be wrong
    * here: Spark orders a null id FIRST, so a null-id document would
    * win the election and a real document would lose its span; and a
    * null-id corpus document's keys in a [[SpanIndex]] would cut batch
    * spans that the full-corpus run keeps. DedupSpec's null-id case
    * checks both paths against a brute-force replay of the oracle.
    *
    * The rule lives in the generator (an empty position list), not in
    * a `Filter`: a filter would be pushed below the spread exchange
    * into this consumer's copy of the documents subtree only, the two
    * consumers of `base` (these windows and the coverage join) would
    * differ, and the documents would be scanned and spread twice. With
    * no filter both read one exchange, the second as a ReusedExchange. */
  private def spanWindows(base: DataFrame, idCol: String, k: Int,
      hashKeys: Boolean): DataFrame = {
    val n = size(col("__toks"))
    val windowStr =
      lower(array_join(slice(col("__toks"), col("__pos") + 1, lit(k)),
        " "))
    base
      .select(col(idCol),
        explode(when(n >= k && col(idCol).isNotNull,
            sequence(lit(0), n - k))
          .otherwise(array().cast("array<int>"))).as("__pos"),
        col("__toks"))
      .select(col(idCol), col("__pos"),
        (if (hashKeys) xxhash64(windowStr) else windowStr).as("__key"))
  }

  /** Every occurrence of a window key but its first by (id, pos) — the
    * oracle's `row_number() OVER (PARTITION BY key ORDER BY doc_id,
    * pos) > 1`. Over windows already partitioned by `__key` it adds no
    * exchange. → (idCol, __pos) */
  private def laterOccurrences(windows: DataFrame,
      idCol: String): DataFrame =
    windows
      .withColumn("__rn", row_number().over(Window
        .partitionBy(col("__key")).orderBy(col(idCol), col("__pos"))))
      .filter(col("__rn") > 1)
      .select(col(idCol), col("__pos"))

  /** Shared tail: the removed window positions grouped per id, joined
    * to the tokenized documents once; each document keeps
    * [0, n) minus the k tokens of every removal of its id (one per-row
    * expression, bounded by n + r·k), and the documents of one id merge
    * into one row in (index, token) order → (idCol, clean_text,
    * kept_tokens). Both inputs are partitioned by id, so neither the
    * join nor the merge adds an exchange when `base` is spread. */
  private def spanRemoveCovered(base: DataFrame, removals: DataFrame,
      idCol: String, k: Int): DataFrame = {
    val cuts = removals.groupBy(col(idCol))
      .agg(collect_list(col("__pos")).as("__cut"))
    val all = sequence(lit(0), size(col("__toks")) - 1)
    val keptIdx = when(col("__cut").isNull, all)
      .otherwise(array_except(all,
        flatten(transform(col("__cut"), p => sequence(p, p + (k - 1))))))
    val parts = col("__parts")
    base.join(cuts, Seq(idCol), "left")
      .select(col(idCol), transform(keptIdx, i => struct(i.as("__idx"),
        element_at(col("__toks"), i + 1).as("__tok"))).as("__kept"))
      .filter(size(col("__kept")) > 0)
      .groupBy(col(idCol))
      .agg(collect_list(col("__kept")).as("__parts"))
      // one document per id, the usual case, is already in index order
      .select(col(idCol), when(size(parts) === 1, element_at(parts, 1))
        .otherwise(array_sort(flatten(parts))).as("__kept"))
      .select(col(idCol),
        array_join(transform(col("__kept"), _.getField("__tok")), " ")
          .as("clean_text"),
        size(col("__kept")).cast("long").as("kept_tokens"))
  }

  /** A materializable sliding-window corpus index for
    * [[slidingSpanDedupIncremental]]: `keys` (the DISTINCT window
    * keys of everything ingested so far — one column, `__key`) and
    * `ids` (ingested document ids — the re-ingest guard), stamped
    * with the parameters that produced them. Both frames are plain
    * DataFrames the caller lands as parquet; re-wrap with the SAME
    * parameters on load ([[union]] refuses mismatches — differently
    * keyed windows never match, so a silent mismatch would mean zero
    * cross-batch dedup, not an error). */
  final case class SpanIndex(keys: DataFrame, ids: DataFrame,
      windowWords: Int, hashedKeys: Boolean) {
    def union(other: SpanIndex): SpanIndex = {
      require(windowWords == other.windowWords &&
        hashedKeys == other.hashedKeys,
        s"cannot union span indexes with different parameters: " +
          s"($windowWords,$hashedKeys) vs " +
          s"(${other.windowWords},${other.hashedKeys})")
      SpanIndex(keys.unionByName(other.keys).distinct(),
        ids.unionByName(other.ids), windowWords, hashedKeys)
    }
  }

  /** Index a corpus slice for incremental any-alignment dedup — the
    * once-per-batch cost [[slidingSpanDedupIncremental]] never re-pays
    * for previously ingested data. */
  def buildSpanIndex(df: DataFrame, idCol: String, textCol: String,
      windowWords: Int = 20, hashKeys: Boolean = false): SpanIndex = {
    require(windowWords > 1,
      s"windowWords must be > 1 (got $windowWords)")
    val base = spanTokenize(df, idCol, textCol)
    SpanIndex(
      spanWindows(base, idCol, windowWords, hashKeys)
        .select(col("__key")).distinct(),
      df.select(col(idCol).as("id")),
      windowWords, hashKeys)
  }

  /** Incremental ExactSubstr — the daily-ingest shape: clean a NEW
    * batch against an indexed corpus without re-windowing the corpus.
    * A batch window occurrence is removed when its key is ALREADY in
    * the index (any earlier occurrence wins, even one that was itself
    * removed as a duplicate — presence, not survival, is what makes a
    * span non-novel) or when an earlier batch occurrence exists
    * (batch-internal keep-first). Provided batch ids sort after the
    * corpus's, the cleaned batch is EXACTLY the full-corpus
    * [[slidingSpanDedup]] output restricted to batch ids — which is
    * what the oracle query checks. Returns (cleaned batch, next-day
    * index).
    *
    * Scale shape: the batch pays its own windowing; the corpus
    * contributes ONE column-pruned scan of its key column, probed by
    * the broadcast batch keys (batch ≪ corpus — the operator's
    * premise, like incrementalMinHashPairs), and the matched keys
    * (≤ batch keys) broadcast back. Both kinds of removal feed the
    * same coverage tail as the full-corpus op. Ids already ingested
    * are a loud error — re-ingest would mark every batch window as
    * seen and hollow the documents out. */
  def slidingSpanDedupIncremental(index: SpanIndex, batch: DataFrame,
      idCol: String, textCol: String): (DataFrame, SpanIndex) = {
    val k = index.windowWords
    val base = spanTokenize(batch, idCol, textCol)
    // alias the batch id before the guard join: when the caller's id
    // column is itself named "id", col("id") would be AMBIGUOUS
    // between the batch side and index.ids("id"). Oriented for scale
    // (round-16): the stored corpus id column streams once probing
    // the broadcast batch-id set with limit(1) early exit — the
    // former batch-semi-corpus orientation made the corpus the
    // join's build side.
    val batchIds = batch.select(col(idCol).as("__batch_id"))
    val overlap = index.ids
      .join(broadcast(batchIds), col("id") === col("__batch_id"),
        "left_semi")
      .limit(1).collect()
    require(overlap.isEmpty,
      s"batch ids already present in the span index (e.g. ${overlap
        .headOption.map(_.get(0)).getOrElse("")}) — dedupe re-ingests " +
        "before calling, or rebuild the index")
    // one explicit exchange on the window key shared by EVERY consumer
    // of the batch expansion (key-distinct, the two hit-key probes and
    // the election): exchange reuse materializes the O(batch·k) window
    // strings once in shuffle files instead of rebuilding them per
    // consumer
    val windows = spanWindows(base, idCol, k, index.hashedKeys)
      .repartition(col("__key"))
    val batchKeys = windows.select(col("__key")).distinct()
    // corpus probe: index scan pruned to __key, semi-joined by the
    // broadcast batch keys; the hits are at most batch-sized
    val hitKeys = index.keys
      .join(broadcast(batchKeys), Seq("__key"), "left_semi")
    val rmIndexed = windows
      .join(broadcast(hitKeys), Seq("__key"), "left_semi")
      .select(col(idCol), col("__pos"))
    // keys new to the corpus: batch-internal keep-first
    val rmInternal = laterOccurrences(windows
      .join(broadcast(hitKeys), Seq("__key"), "left_anti"), idCol)
    val cleaned = spanRemoveCovered(base,
      rmIndexed.unionByName(rmInternal), idCol, k)
    val next = SpanIndex(
      index.keys.unionByName(
        batchKeys.join(broadcast(hitKeys), Seq("__key"), "left_anti")),
      index.ids.unionByName(batch.select(col(idCol).as("id"))),
      k, index.hashedKeys)
    (cleaned, next)
  }

  // ------------------------------------------------------------- shingles

  /** Word n-gram occurrence windows of lowercased text — EVERY
    * window, with repeats, in document order. [[shingles]] is the
    * distinct set of exactly these; per-document repetition metrics
    * (TextAnalysis.topNgramStats) count the raw occurrences. One
    * definition of the gram/tokenization contract — the dedup,
    * coverage, and repetition paths cannot drift apart.
    *
    * The word array is BOUND as a lambda variable (the one-element
    * transform wrapper) before the window lambda references it:
    * Catalyst does no common-subexpression elimination inside
    * higher-order-function lambdas, so referencing the split
    * expression directly in the per-window lambda re-tokenizes the
    * whole document for EVERY window — O(tokens²), measured 22.8 s
    * vs 0.35 s over 500 × 2000-token docs (SCALING.md). element_at
    * per gram word instead of slice avoids a per-window sub-array
    * copy (the remaining 8×). Short fixture docs never noticed;
    * real pretraining documents are exactly the long ones. */
  def shingleOccurrences(text: Column, n: Int = 3): Column = {
    val wordsExpr = when(length(trim(text)) === 0,
      array().cast("array<string>"))
      .otherwise(split(lower(trim(text)), "\\s+"))
    element_at(
      transform(array(wordsExpr), words =>
        when(size(words) < n, array().cast("array<string>")).otherwise(
          transform(
            sequence(lit(0), size(words) - n),
            i => concat_ws(" ", array((0 until n).map(j =>
              element_at(words, i + j + 1)): _*))))),
      1)
  }

  /** Word n-gram shingles of lowercased text (distinct). Empty/short
    * text → empty array. Pure Catalyst higher-order functions: stays in
    * codegen. */
  def shingles(text: Column, n: Int = 3): Column =
    array_distinct(shingleOccurrences(text, n))

  /** Shingles pre-hashed to 64-bit: words are hashed once over their
    * UTF8 bytes and each n-gram window folds word hashes into one long
    * (graft.functions.ShingleHashes — a fused codegen expression; no
    * shingle strings are ever built). Downstream signatures, shuffles,
    * and set intersections all work on longs (8 bytes vs ~25-byte
    * strings; collision probability ~2^-64 per pair is noise next to
    * the MinHash estimate itself). */
  def shingleHashes(text: Column, n: Int = 3): Column = {
    val words = when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(lower(trim(text)), "\\s+"))
    graft.functions.ShingleFunctions.shingle_hashes(words, n)
  }

  /** Exact Jaccard similarity of two array columns (any element type). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(array_union(a, b))
    when(union === 0, lit(0.0))
      .otherwise(inter.cast("double") / union.cast("double"))
  }

  // -------------------------------------------------------------- MinHash

  /** k-element MinHash signature over a pre-hashed shingle array
    * (array<bigint>): element i = min over shingles of a seeded
    * splitmix64 re-hash. One fused codegen loop
    * (graft.functions.MinHashSignature) — the composable k×array_min
    * form walks the array k times through interpreted lambdas. Empty
    * shingle set → null signature (filtered out upstream). */
  def minHashSignature(shinglesCol: Column, k: Int = 64): Column =
    when(size(shinglesCol) === 0, lit(null).cast("array<bigint>"))
      .otherwise(graft.functions.MinHashFunctions.minhash_sig(shinglesCol, k))

  /** Banded signature for LSH: hash each of `bands` contiguous slices
    * of the signature into one bucket key per band. A pair agreeing on
    * ANY band becomes a candidate. b=16, r=4 over k=64 targets the
    * ~0.5+ Jaccard region ((1/b)^(1/r) ≈ 0.5). */
  private def bandKeys(sigCol: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",",
          slice(sigCol, b * r + 1, r).cast("array<string>")).cast("string"))
          .as("bucket"))): _*)
  }

  /** Candidate pairs from MinHash LSH banding, verified with exact
    * Jaccard over the shingle sets. Returns (idA, idB, jaccard) with
    * idA < idB, one row per pair, jaccard >= threshold.
    *
    * `maxBucketSize` caps degenerate buckets (boilerplate corpora):
    * a bucket of m docs contributes m²/2 pairs — capped buckets fall
    * back to star-linking against a representative (O(m) pairs, see
    * [[bucketPairsRaw]]), so the worst-case join output stays bounded.
    * Recall note: the star fallback fully restores recall for
    * MUTUALLY-similar families (the boilerplate case that creates
    * oversized buckets — every member pairs with the min-rep); two
    * non-rep members of an overflowed bucket that are similar to each
    * other but NOT to the rep pair only via the other, healthy band
    * buckets — LSH's multi-band redundancy, measured near-complete on
    * mixed-family buckets in DedupSpec ("mixed families in one
    * oversized bucket"). Use [[bucketStats]] to see which buckets took
    * the fallback.
    */
  def minHashPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucketSize: Int = 200): DataFrame = {
    // shared first stage (one source of truth with the incremental
    // path): (id, sh) shingles pre-hashed to longs, signatures,
    // banding as ONLY (id, band, bucket) — never the shingle array
    // (at scale the band shuffle is the widest exchange in this job;
    // 16 bands × an attached array would multiply it by the document
    // size). The signature pipeline is persisted inside
    // buildMinHashIndex: it feeds the bucket aggregation plus the two
    // verification joins — without persistence Spark recomputes the
    // k×|shingles| hashing once per reference; MEMORY_AND_DISK spills
    // rather than OOMs at cluster scale.
    val idx = buildMinHashIndex(df, idCol, textCol, shingleSize, k, bands)
    // One aggregation replaces the bucket-size count, the oversized
    // anti-join, AND the bucket self-join: collect each bucket's ids
    // (bounded by maxBucketSize — oversized buckets star-link against
    // their min id instead of all-pairs; see bucketStats) and
    // emit every in-bucket pair by exploding the id-list combinations.
    // Cuts three shuffles to one; the collect_list payload is ids only
    // (8 bytes/doc, ≤ maxBucketSize per key), never the documents.
    // Pairs dedupe BEFORE verification: a true near-dup collides in
    // many bands, and exact-jaccard verification is the expensive step.
    val candidates = bucketPairs(idx.bands, Seq("band", "bucket"),
      maxBucketSize)
    val shTbl = idx.shingles
    candidates
      .join(shTbl.select(col("id").as("idA"), col("sh").as("shA")), Seq("idA"))
      .join(shTbl.select(col("id").as("idB"), col("sh").as("shB")), Seq("idB"))
      .select(col("idA"), col("idB"),
        jaccard(col("shA"), col("shB")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Raw LSH candidate pairs `(idA < idB)`, deduped across bands,
    * WITHOUT the jaccard verification join — the generic "MinHash
    * candidates + caller's own verifier" entry the dedup docs keep
    * recommending (and [[graft.operators.EditJoin]]'s reroute path
    * uses, with a banded levenshtein as the verifier). Same banding,
    * bucket caps, and star-linking fallback as [[minHashPairs]];
    * recall follows the LSH collision curve for the chosen
    * (k, bands) — probabilistic, tunable, never exact. */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, k: Int = 64, bands: Int = 16,
      maxBucketSize: Int = 200): DataFrame = {
    val idx = buildMinHashIndex(df, idCol, textCol, shingleSize, k, bands)
    bucketPairs(idx.bands, Seq("band", "bucket"), maxBucketSize)
  }

  /** A materializable MinHash-LSH corpus index: `shingles` (id, sh —
    * the hashed shingle sets verification needs) and `bands`
    * (id, band, bucket — 3 scalars per doc per band), stamped with
    * the parameters that produced it. Both frames are plain
    * DataFrames the caller lands as parquet tables (re-wrap with the
    * SAME parameters on load); [[union]] appends a batch's index and
    * refuses mismatched parameters — band buckets from different
    * (shingleSize, k, nBands) never collide, so a silent mismatch
    * would mean near-zero recall, not an error. */
  final case class MinHashIndex(shingles: DataFrame, bands: DataFrame,
      shingleSize: Int = 3, k: Int = 64, nBands: Int = 16) {
    def union(other: MinHashIndex): MinHashIndex = {
      require(shingleSize == other.shingleSize && k == other.k &&
        nBands == other.nBands,
        s"cannot union indexes with different parameters: " +
          s"($shingleSize,$k,$nBands) vs " +
          s"(${other.shingleSize},${other.k},${other.nBands})")
      MinHashIndex(shingles.unionByName(other.shingles),
        bands.unionByName(other.bands), shingleSize, k, nBands)
    }
  }

  /** Build the LSH index of a corpus slice — the once-per-batch cost
    * (shingle, sign, band) that [[incrementalMinHashPairs]] never
    * re-pays for previously indexed data. Also the shared first stage
    * of [[minHashPairs]] — one source of truth for the index shape. */
  def buildMinHashIndex(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, k: Int = 64, bands: Int = 16): MinHashIndex = {
    val withSig = persistEager(
      Parallelism.spread(df.select(col(idCol).as("id"),
          col(textCol).as("__text")), "id")
        .select(col("id"),
          shingleHashes(col("__text"), shingleSize).as("sh"))
        .filter(size(col("sh")) > 0)
        .withColumn("sig", minHashSignature(col("sh"), k)))
    MinHashIndex(
      withSig.select(col("id"), col("sh")),
      withSig
        .select(col("id"), explode(bandKeys(col("sig"), k, bands)).as("bk"))
        .select(col("id"), col("bk.band").as("band"),
          col("bk.bucket").as("bucket")),
      shingleSize, k, bands)
  }

  /** Incremental near-dup detection — the daily-ingest shape: dedupe a
    * NEW batch against an indexed corpus without re-shingling or
    * re-signing the corpus. Returns (idA, idB, jaccard) for every
    * verified pair TOUCHING the batch (new-vs-corpus and new-vs-new;
    * corpus-internal pairs were known when the corpus was indexed).
    *
    * Scale shape: the batch pays the full shingle+sign cost for its
    * own rows only; the corpus band table is semi-join-PRUNED to the
    * buckets the batch actually touches before any aggregation — a
    * pair can only touch the batch if some bucket holds both of its
    * endpoints and one endpoint is a batch row, so buckets with no
    * batch row can never contribute a surviving pair and are never
    * aggregated (the batch's distinct (band, bucket) keys broadcast:
    * batch ≪ corpus is the operator's premise). The pruned triples —
    * 3 scalars per doc, bounded by batch-bucket membership, not the
    * corpus — feed ONE capped bucket aggregation (the same skew-safe
    * [[bucketPairs]] machinery, star-fallback included), and the
    * stored shingle sets join in only for the pairs that survive
    * candidate dedup. Old-old candidate pairs drop before the
    * expensive verification joins.
    * `index.union(newIndex)` is the caller's next-day index.
    *
    * The batch signs with the INDEX's own parameters (stamped on
    * [[MinHashIndex]] — mismatched banding would silently never
    * collide), and ids already present in the index are a loud error:
    * re-ingested rows would otherwise emit self-pairs and duplicate
    * every verification join through the doubled shingle rows. */
  def incrementalMinHashPairs(index: MinHashIndex, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5,
      maxBucketSize: Int = 200): DataFrame = {
    val newIdx = buildMinHashIndex(newDocs, idCol, textCol,
      index.shingleSize, index.k, index.nBands)
    val newIds = newIdx.shingles.select(col("id"))
    // re-ingest guard oriented for scale (round-16): scan the CORPUS
    // id column probing the broadcast batch-id set — the former
    // batch-semi-corpus orientation made the corpus the join's BUILD
    // side (a corpus-sized shuffle or broadcast per batch); this way
    // the corpus streams once, column-pruned, with limit(1) early
    // exit. Same answer set (ids present in both).
    val overlap = index.shingles.select(col("id"))
      .join(broadcast(newIds), Seq("id"), "left_semi")
      .limit(1).collect()
    require(overlap.isEmpty,
      s"batch ids already present in the index (e.g. ${overlap.headOption
        .map(_.get(0)).getOrElse("")}) — dedupe re-ingests before " +
        "calling, or rebuild the index")
    // bucket prune (round-16): every surviving pair has a batch
    // endpoint, and a pair is generated only inside a bucket holding
    // BOTH endpoints — so buckets containing no batch row can only
    // ever produce old-old pairs the touching-filter below discards.
    // Semi-join the corpus band table down to the batch's buckets
    // BEFORE the capped aggregation: the aggregation (previously a
    // full pass over the corpus-sized band table, per batch) then
    // scans only batch-touched buckets. Exactness: a touched bucket
    // keeps its COMPLETE membership (the semi-join filters buckets,
    // never members), so its capped collect sees the same element
    // set (order-free: sort_array/count/min) and emits the same
    // pairs, normal or star path; untouched buckets contributed
    // nothing to the output before. The batch's distinct (band,
    // bucket) key set is batch-bounded by construction — the same
    // broadcast contract as the batch-id flags below.
    //
    // The prune is SIZE-GATED on the stored index's own statistics
    // (file-footer bytes — free, no scan): below the threshold a
    // full-table aggregation is cheaper than the extra broadcast
    // build + semi-join stage the prune inserts (measured sf0.1:
    // prune +0.65 s on a ~1 MB band table for zero aggregation
    // saved), above it the aggregation dominates and the prune
    // removes a corpus-sized scan+shuffle per batch. Data-derived,
    // not tuned to local cores: any corpus whose band table crosses
    // 256 MB gets the pruned plan regardless of deployment.
    val pruneMinBytes = newDocs.sparkSession.conf
      .get("spark.graft.dedup.pruneBandsMinBytes",
        (256L * 1024 * 1024).toString).toLong
    val atScale =
      index.bands.queryExecution.optimizedPlan.stats.sizeInBytes >=
        pruneMinBytes
    val corpusBands = if (!atScale) index.bands else {
      val batchBuckets = newIdx.bands.select(col("band"), col("bucket"))
        .distinct()
      index.bands
        .join(broadcast(batchBuckets), Seq("band", "bucket"), "left_semi")
    }
    val candidates = bucketPairs(
      corpusBands.unionByName(newIdx.bands),
      Seq("band", "bucket"), maxBucketSize)
    // "touches the batch" as ONE pass over the candidate pairs: two
    // broadcast left joins flag each endpoint against the (small by
    // contract — batch ≪ corpus) batch-id set and a filter keeps
    // pairs with either flag. The previous union-of-two-semi-joins +
    // distinct evaluated the whole bucketPairs subtree once per
    // branch — the full band aggregation ran twice for the same rows
    // (and the distinct re-shuffled pairs bucketPairs had already
    // deduped). Candidates are unique, each survives at most once —
    // same output set, half the candidate work, no extra exchange.
    val isNewA = newIds.select(col("id").as("idA"),
      lit(true).as("__nA"))
    val isNewB = newIds.select(col("id").as("idB"),
      lit(true).as("__nB"))
    // lazy persist on the small-corpus path: touching is materialized
    // by neededSh's pruning scan and re-read by the final attach
    // joins — all within the caller's one action chain. The at-scale
    // path adds ONE eager count over it (noise next to batch signing
    // there) because the count is the broadcast size gate below.
    val touching = trackPersist(candidates
      .join(broadcast(isNewA), Seq("idA"), "left")
      .join(broadcast(isNewB), Seq("idB"), "left")
      .filter(col("__nA").isNotNull || col("__nB").isNotNull)
      .select(col("idA"), col("idB")))
    // Verification reads the CORPUS shingle table — never broadcast
    // it and never scan it twice (the two unhinted attach joins below
    // used to auto-broadcast the full corpus-side table once per
    // endpoint: corpus-sized driver collects at scale). Instead,
    // semi-prune the shingle table ONCE to the ids the surviving
    // pairs actually touch (|ids| ≤ 2·|touching|), persist the pruned
    // slice, and attach it to the pairs. Broadcast hints on the
    // prune + attach joins are GATED (round-16, ADVICE): |touching|
    // is batch-PROPORTIONAL but its constant is bands×maxBucketSize
    // per batch doc, and each neededSh row carries a full
    // shingle-hash array — a degenerate batch could push a forced
    // broadcast past the 8 GB relation cap / driver memory, where an
    // unhinted plan degrades gracefully to a partitioned join. On a
    // small corpus (the stats gate above) everything is
    // corpus-bounded and the hints are unconditionally safe; at scale
    // the MEASURED pair count decides: below the limit (the typical
    // daily-batch shape) the hints keep the pair table from ever
    // shuffling, above it the planner/AQE picks from runtime sizes.
    val gated: DataFrame => DataFrame =
      if (!atScale) broadcast
      else {
        val bcastPairLimit = newDocs.sparkSession.conf
          .get("spark.graft.dedup.broadcastVerifyMaxPairs", "2000000")
          .toLong
        if (touching.count() <= bcastPairLimit) broadcast else identity
      }
    val touchedIds = touching
      .select(explode(array(col("idA"), col("idB"))).as("id"))
      .distinct()
    val allSh = index.shingles.unionByName(newIdx.shingles)
    val neededSh = trackPersist(
      allSh.join(gated(touchedIds), Seq("id"), "left_semi"))
    touching
      .join(gated(neededSh.select(col("id").as("idA"),
        col("sh").as("shA"))), Seq("idA"))
      .join(gated(neededSh.select(col("id").as("idB"),
        col("sh").as("shB"))), Seq("idB"))
      .select(col("idA"), col("idB"),
        jaccard(col("shA"), col("shB")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over a pair list: assigns every id the
    * minimum id reachable through the pair graph (cluster
    * representative). Iterative min-label propagation — each round is
    * one union + groupBy-min (map-side combined), converging in
    * O(log(longest path)) rounds; `maxIters` bounds the work and the
    * method fails loudly rather than returning a partial clustering.
    * This is the operator behind "group all transitive near-dups into
    * one cluster" — keep-min-id dropping ([[dedupMinHash]]) does NOT
    * need it, but cluster-level analytics (pick best doc per cluster,
    * cluster size stats) do.
    *
    * At 100 TB: every round shuffles only (id, label) longs; the pair
    * list from LSH is orders of magnitude smaller than the corpus. The
    * classic large-star/small-star optimization halves round count on
    * adversarial graphs; near-dup graphs are shallow (cliques and short
    * chains), where plain propagation already converges in 2-4 rounds.
    */
  def connectedComponents(pairs: DataFrame, idACol: String = "idA",
      idBCol: String = "idB", maxIters: Int = 10,
      driverThreshold: Long = 1000000L): DataFrame = {
    // checkpoint each round: an iterative plan otherwise nests its
    // whole history (label N derives from label N-1's full lineage) and
    // the plan grows exponentially — truncating lineage keeps every
    // round's plan constant-size. Checkpointing.materialize upgrades to
    // RELIABLE checkpoints (survive executor loss) whenever the session
    // has a checkpoint dir configured (setCheckpointDir) — the cluster
    // deployment hook; executor-local blocks otherwise.
    val edges = pairs.select(col(idACol).as("a"), col(idBCol).as("b"))
      .pipe(Checkpointing.materialize)
    // Adaptive small-graph path: the edge list out of LSH is orders of
    // magnitude smaller than the corpus (near-dup pairs only). When it
    // fits comfortably on the driver, path-compressed union-find in a
    // hash map beats 2-4 distributed label-propagation rounds (each
    // round is several jobs); the distributed loop below remains the
    // path for genuinely large pair graphs. Same contract either way:
    // every id labeled with the min id reachable through the graph.
    val idType = edges.schema("a").dataType
    val integralId = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    val edgeCount = edges.count()
    if (integralId && edgeCount <= driverThreshold) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root)
          root = parent.getOrElse(root, root)
        var cur = x // path compression
        while (parent.getOrElse(cur, cur) != cur) {
          val next = parent.getOrElse(cur, cur); parent(cur) = root
          cur = next
        }
        root
      }
      edges.select(col("a").cast("long"), col("b").cast("long"))
        .collect().foreach { r =>
          val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
          if (ra != rb) { // union by min: smaller id becomes the root
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
          val root = math.min(ra, rb)
          parent.getOrElseUpdate(root, root)
        }
      val labeled = parent.keys.toSeq.map(id => (id, find(id)))
      return labeled.toDF("id", "cluster")
        .select(col("id").cast(idType).as("id"),
          col("cluster").cast(idType).as("cluster"))
    }
    val undirected = edges
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .pipe(Checkpointing.materialize)
    var labels = undirected.select(col("a").as("id")).distinct()
      .withColumn("label", col("id")).pipe(Checkpointing.materialize)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // each id adopts the min label among itself and its neighbors
      val neighborLabels = undirected
        .join(labels.withColumnRenamed("id", "b"), Seq("b"))
        .select(col("a").as("id"), col("label"))
      val viaNeighbors = labels.select(col("id"), col("label"))
        .union(neighborLabels)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .pipe(Checkpointing.materialize)
      // pointer jumping: follow label → label's label, halving path
      // lengths so chains converge in O(log n) rounds, not O(n)
      val labelMap = viaNeighbors
        .select(col("id").as("__lbl"), col("label").as("__ll"))
      val next = viaNeighbors
        .join(labelMap, col("label") === col("__lbl"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("__ll"), col("label")))
            .as("label"))
        .pipe(Checkpointing.materialize)
      val changed = next.as("n")
        .join(labels.as("o"), Seq("id"))
        .filter(col("n.label") =!= col("o.label")).limit(1).count()
      labels = next
      converged = changed == 0
      i += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIters iterations")
    labels.select(col("id"), col("label").as("cluster"))
  }

  /** Remove near-duplicates: keep-min-id policy over [[minHashPairs]].
    * A row is dropped iff it appears as idB (the larger id) in some
    * matching pair — one anti-join, no iterative clustering.
    * `maxBucketSize` passes through to the LSH cap; on a
    * mutually-similar family larger than the cap the star fallback
    * keeps the SAME survivors as the uncapped run (every non-min
    * member loses to its bucket's min id). */
  def dedupMinHash(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxBucketSize: Int = 200): DataFrame = {
    val losers = minHashPairs(df, idCol, textCol, threshold = threshold,
        maxBucketSize = maxBucketSize)
      .select(col("idB").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware keep policy: among each duplicate CLUSTER (labels
    * from [[connectedComponents]]), keep the row with the highest
    * `scoreCol` — smallest id on ties, so the choice is deterministic
    * at any parallelism. Rows with no cluster label (never matched any
    * pair) are all keepers.
    *
    * One hash aggregation picks the winner per cluster
    * (graft.functions.ArgMaxLong — map-side combined, one (score, id)
    * pair per cluster crosses the exchange; the window-rank top-1
    * idiom would shuffle and sort every clustered row), then a
    * semi-join restricts the corpus to winners + unclustered. */
  def keepBestPerCluster(df: DataFrame, clusters: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val labeled = df.select(col(idCol).as("id"), col(scoreCol).as("s"))
      .join(clusters.select(col("id"), col("cluster")), Seq("id"))
    // null scores rank below every real score (coalesce to -Inf)
    // instead of being filtered: a cluster whose scores are ALL null
    // must still keep one representative (its min id), not silently
    // lose every copy
    val winners = labeled
      .groupBy(col("cluster"))
      .agg(graft.functions.ArgMaxFunctions.arg_max_id(
        coalesce(col("s").cast("double"),
          lit(Double.NegativeInfinity)), col("id")).as("id"))
      .select(col("id").as(idCol))
    val clustered = clusters.select(col("id").as(idCol))
    df.join(clustered, Seq(idCol), "left_anti")
      .unionByName(df.join(winners, Seq(idCol), "left_semi"))
  }

  /** Distinct unordered candidate pairs (idA < idB) from a bucketed
    * id table, in ONE aggregation: collect each bucket's ids (a
    * bucket of m docs contributes m²/2 pairs, so oversized buckets
    * switch to the O(m) star fallback — see [[bucketPairsRaw]])
    * and emit in-bucket combinations from the sorted list.
    * Compared to the count + anti-join + self-join formulation this
    * trades three shuffles on the bucket key for one; the aggregation
    * payload is ids only (8 bytes/doc, ≤ maxSize per key). */
  private def bucketPairs(df: DataFrame, keys: Seq[String],
      maxSize: Int): DataFrame =
    bucketPairsRaw(df, keys, col("id"), maxSize)
      .select(col("a").as("idA"), col("b").as("idB"))
      .distinct()

  /** All unordered in-bucket element pairs (a < b by element order)
    * from one aggregation over the bucket keys; `elem` is what each
    * row contributes (an id, or a struct of id + verification
    * payload).
    *
    * Healthy buckets (size <= maxSize) emit every in-bucket
    * combination from a capped_collect_list, whose buffer stops
    * growing AT the cap: a degenerate bucket (boilerplate corpus,
    * hash skew) costs O(maxSize) memory and surfaces as null, never a
    * full multi-million-element aggregation buffer (a single group's
    * list cannot spill).
    *
    * Oversized buckets are NOT dropped whole: they get a star-linking
    * fallback. Every member of an overflowed bucket is paired with
    * the bucket's min(elem) — an order-independent (hence
    * deterministic) representative — giving O(m) pairs per bucket
    * instead of m²/2, so the pair explosion stays bounded while a
    * giant family of near-identical members still verifies against
    * the representative and collapses transitively (connected
    * components / keep-first see one star, one cluster, one
    * survivor).
    *
    * Fallback cost shape, deliberately: the representative rides the
    * SAME aggregation (capped_collect_with_rep tracks a running min
    * through overflow — zero cost for healthy buckets), so the
    * fallback never re-aggregates members; its one plan addition is a
    * broadcast join of the overflowed (keys, rep) rows — scalar,
    * ≤ rows/maxSize of them by construction — back onto `df` to emit
    * (rep, member) edges as a narrow pass. The broadcast is explicit:
    * an AQE-decided join here would materialize a full shuffle of the
    * payload-carrying `df` before the runtime broadcast decision
    * could cancel it (measured: 3× the job's shuffle volume at stress
    * ×50 for zero overflowed buckets). A corpus with no degenerate
    * buckets pays one empty broadcast and nothing else — AQE's
    * empty-relation propagation elides the probe-side scan of `df`
    * once the broadcast materializes empty. When buckets DO overflow,
    * the probe re-evaluates `df`'s lineage: callers whose upstream is
    * expensive persist it (minHashPairs caches signatures,
    * simHashPairs the 16-byte/doc simhash table); embeddingNearDup
    * deliberately recomputes its narrow bucketing instead of caching
    * tables×-duplicated vectors. */
  private def bucketPairsRaw(df: DataFrame, keys: Seq[String],
      elem: Column, maxSize: Int): DataFrame = {
    val keyCols = keys.map(col)
    // TWO consumers read this aggregation (normalPairs and the
    // oversized-bucket rep extraction); unpersisted, the full groupBy
    // over every band row re-ran once per consumer — the single largest fixed cost of the
    // whole LSH family (measured: the capped agg is ~0.5-0.6 s per
    // pass at sf0.1 and every q_dedup_* paid it twice). LAZY persist,
    // not persistEager: both consumers live in the SAME action here
    // (a union in one plan), so the first stage to touch a partition
    // populates the cache the sibling reads — an eager count would
    // add a whole extra job for nothing (measured +0.2-0.3 s per
    // query; worst case of the lazy race is recomputing a partition,
    // i.e. exactly the pre-persist behavior). Rows are per-bucket
    // capped lists (≤ maxSize elements), so the persisted footprint
    // is bounded by the band-row input itself; MEMORY_AND_DISK spills
    // rather than OOMs at scale, and the tracked registry frees it
    // with releaseCaches()/scoped like every other multi-consumer
    // intermediate.
    val agged = trackPersist(df.groupBy(keyCols: _*)
      .agg(graft.functions.CappedCollectFunctions
        .capped_collect_with_rep(elem, maxSize).as("__cm")))
    val grouped = agged
      .filter(col("__cm.items").isNotNull && size(col("__cm.items")) >= 2)
      .select(sort_array(col("__cm.items")).as("__es"))
    val l = col("__es")
    val n = size(l)
    val pairs = flatten(transform(sequence(lit(0), n - 2), i =>
      transform(sequence(i + 1, n - 1), j =>
        struct(element_at(l, i + 1).as("a"),
          element_at(l, j + 1).as("b")))))
    val normalPairs = grouped.select(explode(pairs).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // star fallback for overflowed buckets (capped collect → null
    // items, rep = min over every element the bucket saw):
    // rep = min ⇒ a < b holds by construction, matching the
    // sorted-combination ordering of the normal path; duplicates
    // across bands/paths dedupe downstream exactly as band collisions
    // already do
    val oversized = agged.filter(col("__cm.items").isNull)
      .select(keyCols :+ col("__cm.rep").as("__rep"): _*)
    val starPairs = df.select(keyCols :+ elem.as("__e"): _*)
      .join(broadcast(oversized), keys)
      .filter(col("__e") =!= col("__rep"))
      .select(col("__rep").as("a"), col("__e").as("b"))
    normalPairs.unionByName(starPairs)
  }

  /** Benchmark decontamination: drop corpus documents sharing ANY word
    * n-gram with a benchmark/eval set — the standard guard against
    * train-on-test leakage in LLM data pipelines.
    *
    * Scale shape: both sides explode to int64 shingle hashes (the fused
    * codegen expression, no shingle strings); the benchmark side is
    * tiny by construction (eval sets are thousands of docs, the corpus
    * is billions) so its distinct hash set broadcasts, and
    * contamination detection is a broadcast semi-join on the corpus's
    * exploded grams — narrow over the corpus, no corpus shuffle at all.
    * The final keep-step is one broadcast anti-join of contaminated ids.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val benchGrams = benchmark
      .select(explode(shingleHashes(col(textCol), n)).as("__g")).distinct()
    val contaminated = corpus
      .select(col(idCol), explode(shingleHashes(col(textCol), n)).as("__g"))
      .join(broadcast(benchGrams), Seq("__g"), "left_semi")
      .select(col(idCol)).distinct()
    // NO broadcast hint on the keep-join: `contaminated` is a
    // data-dependent fraction of the corpus (a widely-quoted benchmark
    // can contaminate a large share) — let AQE broadcast it only when
    // it measures small
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Embedding-level decontamination: drop every corpus row whose
    * vector clears `tau` cosine against ANY benchmark vector — the
    * semantic complement of [[decontaminate]] (n-gram overlap misses
    * paraphrased benchmark leakage; cosine catches it). EXACT, not
    * LSH-approximate: a benchmark is an eval set — thousands of
    * vectors, not billions — so the right 100 TB plan is a broadcast
    * nested-loop LEFT ANTI join with the codegen cosine probe: the
    * corpus never shuffles, every row streams once past the broadcast
    * benchmark matrix, and the anti-join short-circuits on the first
    * match. The output keeps all corpus columns (ids and metadata
    * only ever leave the executor via whatever the caller selects). */
  def decontaminateSemantic(corpus: DataFrame, benchmark: DataFrame,
      vecCol: String, tau: Double): DataFrame = {
    val bench = benchmark.select(col(vecCol).as("__bench_v"))
    corpus.join(broadcast(bench),
      graft.functions.VectorFunctions
        .cosine_sim(col(vecCol), col("__bench_v")) >= tau,
      "left_anti")
  }

  /** Bucket-size distribution for a banded signature table — the
    * observability hook for the skew cap. */
  def bucketStats(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, k: Int = 64, bands: Int = 16): DataFrame = {
    // shingleHashes (array<bigint>), NOT string shingles —
    // minHashSignature reads pre-hashed int64 shingles, exactly as
    // minHashPairs feeds it
    val withSig = df
      .select(col(idCol).as("id"),
        shingleHashes(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minHashSignature(col("sh"), k))
    withSig.select(explode(bandKeys(col("sig"), k, bands)).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.bucket").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("n").as("bucket_size"))
      .agg(count(lit(1)).as("buckets"))
      .orderBy(col("bucket_size"))
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Direct n-gram Jaccard near-dup pairs. Same LSH banding for
    * candidates (all-pairs never materializes); verification is the
    * exact n-gram Jaccard — this is [[minHashPairs]] with the verify
    * step being the definition rather than an estimate, exposed
    * separately because the reference point for training-data dedup is
    * usually "n-gram Jaccard >= t". */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.7): DataFrame =
    minHashPairs(df, idCol, textCol, shingleSize = n, threshold = threshold)

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash of a token array — fused codegen expression
    * ([[graft.functions.SimHash64]]: per-token FNV-1a 64, bit-votes,
    * sign fold in one generated loop). Null/empty token arrays hash to
    * 0L, matching the original UDF contract. */
  def simHash64(tokens: Column): Column =
    coalesce(graft.functions.SimHashFunctions.simhash64(tokens), lit(0L))

  /** Hamming distance between two 64-bit SimHashes (codegen'd
    * bit_count). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with Hamming distance <= maxDist.
    * Candidates by the pigeonhole principle: split 64 bits into
    * `chunks` pieces; distance <= chunks-1 guarantees an identical
    * chunk, so bucketing on (chunk_idx, chunk_value) catches every such
    * pair without an all-pairs join. Default 4 chunks ⇒ complete for
    * maxDist <= 3. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, chunks: Int = 4,
      maxBucketSize: Int = 1000): DataFrame = {
    require(maxDist < chunks,
      s"pigeonhole completeness needs maxDist < chunks ($maxDist >= $chunks)")
    val bits = 64 / chunks
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    // persisted: bucketPairsRaw's star-fallback probe makes chunked a
    // second consumer — without the cache an overflowed bucket would
    // re-tokenize and re-simhash the whole corpus on the probe pass.
    // Payload is 16 bytes/doc (id + simhash), the cheapest possible
    // insurance; the cheap chunk explode above it recomputes freely.
    val withSim = persistEager(Parallelism.spread(
      df.select(col(idCol).as("id"), col(textCol).as("__text")), "id")
      .select(col("id"),
        simHash64(graft.text.TextAnalysis.tokens(col("__text"))).as("sim")))
    val chunked = withSim.select(col("id"), col("sim"),
      explode(array((0 until chunks).map(c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("sim"), c * bits)
            .bitwiseAND(lit(mask)).as("v"))): _*)).as("ck"))
      .select(col("id"), col("sim"), col("ck.chunk").as("chunk"),
        col("ck.v").as("v"))
    // single aggregation on the chunk key: the pair payload is the
    // 8-byte simhash itself, so Hamming verification rides the pair
    // explode — no self-join, no verification join (see bucketPairsRaw)
    bucketPairsRaw(chunked, Seq("chunk", "v"),
        struct(col("id"), col("sim")), maxBucketSize)
      .select(col("a.id").as("idA"), col("b.id").as("idB"),
        hamming(col("a.sim"), col("b.sim")).as("dist"))
      .filter(col("dist") <= maxDist)
      .groupBy(col("idA"), col("idB")).agg(min(col("dist")).as("dist"))
  }

  // --------------------------------------------- embedding cosine near-dup

  /** Near-duplicate pairs by embedding cosine >= threshold. Candidates
    * via multi-table random-hyperplane LSH (any-of-L amplification —
    * Similarity.hyperplaneBucketTables); verification is exact cosine
    * on the candidate pair; pair dedup collapses multi-table
    * collisions. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, tables: Int = 8, planesPerTable: Int = 4,
      dim: Int = 64, maxBucketSize: Int = 2000): DataFrame = {
    import graft.similarity.Similarity
    // deliberately NOT persisted, unlike minHashPairs/simHashPairs:
    // caching this frame would hold `tables`× duplicated vectors
    // (dim doubles each). Its only second consumer is the
    // star-fallback probe in bucketPairsRaw, which AQE's
    // empty-relation propagation skips entirely while no bucket
    // overflows (the stress run's bit-identical embed metrics before/
    // after the fallback landed are the executed proof); when one DOES
    // overflow, the probe recomputes the hyperplane bucketing — one
    // extra narrow map over the vectors, cheaper than always caching
    // the duplicated payload
    val bucketed = Parallelism.spread(df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v")), "id")
      .select(col("id"), col("v"), explode(Similarity
        .hyperplaneBucketTables(col("v"), tables, planesPerTable, dim)).as("bk"))
      .select(col("id"), col("v"), col("bk.tbl").as("tbl"),
        col("bk.bucket").as("bucket"))
    // single aggregation on the bucket key: each element carries its
    // vector (dim doubles × ≤ maxBucketSize per bucket — the cap
    // bounds the aggregation payload), cosine is computed inside the
    // pair explode (narrow), and only scalar (idA, idB, cosine)
    // survivors reach the pair-dedup shuffle — never the vectors
    bucketPairsRaw(bucketed, Seq("tbl", "bucket"),
        struct(col("id"), col("v")), maxBucketSize)
      .select(col("a.id").as("idA"), col("b.id").as("idB"),
        Similarity.cosine(col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .groupBy(col("idA"), col("idB")).agg(first(col("cosine")).as("cosine"))
  }

  /** Cluster-based semantic dedup (the SemDeDup recipe): assign every
    * vector to its nearest trained centroid, compare cosines only
    * WITHIN a cluster, and drop any vector dominated by a lower-id
    * cluster-mate at `threshold`+. Returns the survivors
    * (idCol, cell).
    *
    * Contrast with [[embeddingNearDupPairs]] (hyperplane-LSH buckets —
    * recall comes from multiple random tables): here the candidate
    * structure is a LEARNED partition of the embedding space, so one
    * assignment pass suffices and near-dups concentrate in the same
    * cell by construction. Scale shape: one narrow assignment map,
    * one self-join shuffled on the cell key — per-cell pair work is
    * bounded by cluster size, and the centroid count is the knob
    * (SemDeDup's own recipe: grow k with the corpus, k≈√n keeps
    * E[cell] = √n). Only ids cross the dominated-set shuffle; the
    * anti-join returns full rows without ever moving vectors twice.
    *
    * Deterministic end-to-end: training is [[graft.similarity.Ivf]]'s
    * decimal-exact Lloyd (bit-replayable in the oracle), assignment
    * ties break on the higher cell (array_max's struct order), and
    * the keep-rule is pure id ordering. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      model: graft.similarity.Ivf.IvfModel,
      threshold: Double): DataFrame = {
    import graft.similarity.Ivf
    // persisted: the assigned frame feeds BOTH sides of the cell
    // self-join AND the final anti-join branch — without it the scan
    // plus the k·dim nearest-centroid pass (the dominant narrow cost
    // at the k≈√n sizes the scale recipe calls for) re-evaluates for
    // the anti-join
    val base = persistEager(
      Parallelism.spread(df.select(col(idCol).as("id"),
          col(vecCol).cast("array<double>").as("v")), "id")
        .withColumn("cell", Ivf.assignCell(col("v"), model)))
    val a = base.select(col("cell"), col("id").as("a_id"),
      col("v").as("a_v"))
    val b = base.select(col("cell"), col("id").as("b_id"),
      col("v").as("b_v"))
    val dominated = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id") &&
        graft.functions.VectorFunctions
          .cosine_sim(col("a_v"), col("b_v")) >= threshold)
      .select(col("b_id").as("id")).distinct()
    base.join(dominated, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cell"))
  }
}
