package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Edit-distance similarity self-join — the entity-resolution /
  * fuzzy-matching primitive (near-identical titles, ids, names) that a
  * plain equi-join can't express and an all-pairs `levenshtein` cross
  * join can't survive at scale.
  *
  * Returns every unordered pair `(id_a < id_b, dist)` with
  * `levenshtein(a, b) <= maxDist`, EXACTLY (candidate generation is a
  * superset; every candidate is verified), without ever comparing all
  * pairs. Candidates come from segment pigeonholing (the PassJoin
  * family, Li/Deng/Feng, public literature): partition each string
  * into `maxDist + 1` contiguous segments — at most `maxDist` edits
  * can touch at most `maxDist` segments, so any qualifying pair shares
  * at least one segment VERBATIM, and that segment's position in the
  * other string shifts by at most `maxDist` (each edit shifts later
  * characters by at most one). Candidate generation is therefore an
  * equi-join on `(segmentIndex, assumedLength, segmentText)` between
  * each string's canonical segments (build side) and every substring
  * within ±maxDist of the canonical position (probe side) — a
  * shuffle-hash/sort-merge join on scalar keys, never a cross product.
  *
  * Scale shape: build emits `maxDist+1` rows per string, probe at most
  * `(maxDist+1)·(2·maxDist+1)²` (deduplicated) — constant fan-out;
  * rows carry `(id, segIdx, len, segment, string)` into the candidate
  * shuffle so verification runs as a join residual (banded 3-arg
  * levenshtein) and verified pairs stream straight to the output:
  * there is NO output-sized dedup exchange. Two facts make that safe:
  * (a) the pigeonhole argument holds in BOTH directions (each string
  * of a qualifying pair contains a verbatim segment of the other), so
  * the self-join keeps only the `buildId < probeId` orientation and
  * every unordered pair is generated from exactly one side; (b) a pair
  * reachable through several matching segments is emitted only for
  * the FIRST (lowest-index) matching segment — the candidate-dedup
  * residual re-derives, per candidate, whether any earlier segment of
  * the build string also occurs inside the probe string's allowed
  * window (the exact condition under which the earlier-index candidate
  * exists) and drops the row if so. That residual is O(k²·segLen)
  * character comparisons per candidate — far cheaper than the
  * output-sized sort+exchange a `distinct()` would cost (measured:
  * the k=2 ×10 matrix row spilled 41 GB through its distinct before
  * this dedup and 0 after; SCALING.md edit_join_k2).
  * Low-entropy segments (templated corpora —
  * every id sharing a `"Customer#"`-style prefix) are the known hot
  * spot: the shared prefix makes one bucket hold everything. The
  * `stripCommonPrefix` stage removes exactly that: unit-cost
  * Levenshtein satisfies `ed(c·x, c·y) = ed(x, y)` (matching an equal
  * leading character is always optimal in the DP), so stripping the
  * corpus-global longest common prefix — computed from just
  * `min(str)` / `max(str)`, one aggregation — preserves every pairwise
  * distance while restoring segment entropy.
  *
  * Strings shorter than `maxDist + 1` (post-strip) can't be pigeonholed
  * into non-empty segments; they pair through their DISTINCT VALUES
  * (bounded by the number of distinct strings of length ≤ 2·maxDist,
  * i.e. alphabet-bounded, not corpus-bounded) via a length-band
  * EQUI-join — `levenshtein ≥ |len diff|`, so each short value probes
  * only values within ±maxDist of its length — then expand back to id
  * pairs, output-bound, like any join on duplicated keys.
  *
  * Choosing the threshold: the probe fan-out `(k+1)(2k+1)²` is 27
  * lookups per string at k=1, 75 at k=2, 189 at k=3 — and shorter
  * segments (len/(k+1)) lose entropy, so candidate sets fatten on both
  * axes (measured: SCALING.md's edit_join vs edit_join_k2 rows). With
  * the candidate dedup the operator is exactly OUTPUT-linear in
  * shuffle rows — the remaining cost driver is the answer set itself:
  * a threshold that admits thousands of neighbors per string (k ≥ 2
  * on short templated keys, say) pays for the pairs it asks for, the
  * floor for ANY exact algorithm. THAT cliff is measurable BEFORE the
  * join runs: [[estimatePairs]] predicts the candidate-join row count
  * exactly (the joinCardinality pattern over the candidate keys —
  * near-flat cost, no candidate join executed), and the `maxPairs`
  * parameter on [[selfJoin]]/[[join]] turns it into a pre-flight
  * guard that refuses loudly instead of buying a 10⁸-row answer
  * silently. When the result need not be exact,
  * or the strings are long documents where a character budget stops
  * meaning "near-duplicate", MinHash/n-gram Jaccard candidates
  * ([[graft.dedup.Dedup]]) with edit distance as the verifier trade
  * exactness for a tunable candidate budget.
  *
  * Row semantics: duplicate `(id, string)` input rows are collapsed
  * before candidate generation (one input-sized dedup, never
  * output-sized), so the result is a SET of `(id_a, id_b, dist)`
  * rows when ids are unique per row; an id carrying several distinct
  * strings emits one row per qualifying string pair (a MULTISET per
  * id pair — callers needing one row per id pair dedup the output
  * themselves, paying the output-sized exchange this operator
  * deliberately avoids).
  */
object EditJoin {

  /** The first-matching-segment candidate-dedup residual: this
    * candidate row, found via segment `__i`, survives iff `__i` is
    * the FIRST segment of `__sa` that occurs in `__sb` within its
    * allowed window — one compact native-expression call
    * ([[graft.functions.FirstSegMatch]]; an equivalent unrolled
    * substring-comparison predicate blew the join stage's generated
    * method past the JIT bytecode limit and de-optimized the whole
    * join to interpreted bytecode, 3.8× slower end-to-end). */
  private def firstSegFilter(k: Int): Column =
    col("__i") === graft.functions.FirstSegMatch
      .first_seg_match(col("__sa"), col("__sb"), k)

  // ---------- shared candidate-generation plumbing ----------
  // One construction site for the PassJoin frames: selfJoin, join,
  // and estimatePairs MUST see byte-identical candidate plans, or the
  // pre-flight would predict a different join than the one that runs.

  /** ceil-first segment starts: st(i) = ceil(i*L/n) puts the LONGER
    * (higher-entropy) segments first — on digit-suffix corpora the
    * short trailing segment is the low-entropy one, and shorter
    * segments mean smaller candidate buckets when they do collide. */
  private def st(i: String, l: String, n: Int) =
    s"(($i * $l + ${n - 1}) div $n)"
  private def segLenE(i: String, l: String, n: Int) =
    s"(${st(s"($i + 1)", l, n)} - ${st(i, l, n)})"

  /** Canonical `(__id, __s)` prep: long-cast id, null-filter, and the
    * set contract's input-sized dedup (never output-sized). */
  private def prep(df: DataFrame, idCol: String, strCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("__id"), col(strCol).as("__s"))
      .filter(col("__s").isNotNull)
      .dropDuplicates("__id", "__s")

  /** What constructing a join must know about the corpus before the
    * plan can exist, pulled in ONE aggregate over the prepped frames
    * (the first is the build side): the corpus-global longest common
    * prefix length `lcp` (0 without `strip`) and the build side's
    * distinct post-strip lengths that reach the pigeonhole path
    * (`L − lcp ≥ k + 1`), or None when none do or more than 64 do.
    *
    * LCP via min/max: every string shares LCP(min, max) (strings sort
    * lexicographically, so anything between the two extremes starts
    * with their common prefix), and distance preservation needs the
    * same prefix removed from every side. Two strings and a set of
    * lengths (bounded by the longest string) are collected, like the
    * IVF centroid pulls; construction therefore starts this one small
    * query, as bloomPrune's filter build does — the literals must exist
    * before the plan does. Both the LCP and the lengths count CODE
    * POINTS, not UTF-16 units: Spark's substring, length and
    * levenshtein walk code points, so a char-unit count would split
    * supplementary-plane characters and corrupt distances. */
  private[graft] final case class Profile(lcp: Int,
      buildLens: Option[Seq[Int]])

  private[graft] def profile(dfs: Seq[DataFrame], k: Int,
      strip: Boolean): Profile = {
    val r = dfs.zipWithIndex
      .map { case (df, i) => df.select(col("__s"), lit(i == 0).as("__b")) }
      .reduce(_ unionAll _)
      .agg(min("__s"), max("__s"),
        collect_set(when(col("__b"), length(col("__s")))))
      .head()
    val lcp =
      if (!strip || r.isNullAt(0)) 0
      else {
        val (a, b) = (r.getString(0).codePoints().toArray,
          r.getString(1).codePoints().toArray)
        a.zip(b).takeWhile(t => t._1 == t._2).length
      }
    val lens = r.getSeq[Int](2).map(_ - lcp).filter(_ >= k + 1)
    Profile(lcp, Option.when(lens.nonEmpty && lens.length <= 64)(lens))
  }

  /** Drop the profiled common prefix from a prepped frame. */
  private def stripPrefix(df: DataFrame, p: Profile): DataFrame =
    if (p.lcp == 0) df
    else df.select(col("__id"),
      substring(col("__s"), p.lcp + 1, Int.MaxValue).as("__s"))

  private def withLenOf(df: DataFrame): DataFrame =
    df.select(col("__id"), col("__s"), length(col("__s")).as("__l"))

  /** Build side: the k+1 canonical segments of each string —
    * `(__id, __l, __sa, __i, __seg)`. The row carries the (post-strip)
    * string itself: verification runs as a RESIDUAL on the candidate
    * join — the banded levenshtein (3-arg, O(len·k) with early exit) —
    * so no unverified pair ever reaches an exchange and no
    * verification rejoin exists. The string widens the shuffle row by
    * ~n× over the segment alone (bounded), which buys removing the
    * candidate-distinct shuffle entirely — the right trade for
    * entity-resolution-length strings; corpora of long documents want
    * MinHash, not edit distance. */
  private def buildFrame(longSide: DataFrame, k: Int): DataFrame = {
    val n = k + 1
    val segArr =
      s"""transform(sequence(0, $k), i ->
         |  substring(__s, ${st("i", "__l", n)} + 1, ${segLenE("i", "__l", n)}))"""
        .stripMargin
    longSide.select(col("__id"), col("__l"), col("__s"),
      posexplode(expr(segArr))).toDF("__id", "__l", "__sa", "__i", "__seg")
  }

  /** Probe side: for each segment index and each assumed build length
    * l1 ∈ [L-k, L+k] (capped below at n — the build side has no
    * shorter strings), every substring whose start sits within ±k of
    * the canonical position — `(__id, __sb, __i, __l1, __seg)`.
    * Invalid windows null out and filter away; array_distinct
    * collapses windows that repeat the same key. Assumed lengths that
    * exist on NO build string can never match — when the build corpus
    * has few distinct lengths (the profile's `buildLens`, present only
    * if they fit 64 values — fixed-format corpora typically have
    * exactly one), they embed as an IN-list and prune probe fan-out by
    * ~(2k+1)× before the shuffle. */
  private def probeFrame(probeSide: DataFrame,
      buildLens: Option[Seq[Int]], k: Int): DataFrame =
    // one fused generator (graft.functions.EditProbeSegments) emits
    // the distinct (i, l1, seg) windows in a single compiled pass per
    // row — semantically identical to the former five-level
    // transform/filter/flatten/array_distinct/explode tree, whose
    // lambdas all evaluated interpreted (guide §4: no HOF closures on
    // the hot path)
    probeSide
      .select(col("__id"), col("__s").as("__sb"),
        graft.functions.EditProbeSegments
          .edit_probe_segments(col("__s"), k, buildLens))
      .withColumnRenamed("i", "__i")
      .withColumnRenamed("l1", "__l1")
      .withColumnRenamed("seg", "__seg")

  /** EXACT candidate-join cardinality from per-key counts (the
    * [[graft.operators.Joins.joinCardinality]] pattern on the
    * candidate keys): Σ over matching `(segIdx, length, segment)`
    * buckets of cBuild·cProbe — computed WITHOUT running the
    * candidate join, from two map-side-combined aggregations plus a
    * distinct-key-sized join. */
  private def candidateCardinality(build: DataFrame,
      probe: DataFrame): DataFrame = {
    val cb = build.groupBy(col("__i"), col("__l"), col("__seg"))
      .agg(count(lit(1)).as("__cb"))
    val cp = probe.groupBy(col("__i"), col("__l1").as("__l"), col("__seg"))
      .agg(count(lit(1)).as("__cp"))
    cb.join(cp, Seq("__i", "__l", "__seg"))
      .agg(coalesce(sum(col("__cb") * col("__cp")), lit(0L))
          .as("candidate_pairs"),
        count(lit(1)).as("matching_keys"),
        coalesce(max(col("__cb") * col("__cp")), lit(0L))
          .as("max_key_product"))
  }

  private def enforceMaxPairs(op: String, estimate: => Row,
      maxPairs: Option[Long]): Unit = maxPairs.foreach { cap =>
    val r: Row = estimate
    val cand = r.getLong(0)
    require(cand <= cap,
      s"EditJoin.$op pre-flight: estimated $cand candidate pairs " +
        s"(max single-bucket product ${r.getLong(2)} over " +
        s"${r.getLong(1)} matching keys) exceeds maxPairs=$cap. " +
        "The answer set itself is this large — a low-entropy string " +
        "column at this maxDist. Lower maxDist, raise maxPairs, or " +
        "use MinHash/n-gram candidates with an edit-distance " +
        "verifier (graft.dedup.Dedup) for a tunable candidate budget.")
  }

  /** Answer-set pre-flight for [[selfJoin]]: the EXACT number of
    * candidate rows the PassJoin equi-join would produce at this
    * `maxDist` — the operator's true cost driver (verification,
    * first-match residual, and output are all bounded by it) —
    * WITHOUT running the join. One row:
    * `(candidate_pairs, matching_keys, max_key_product)`;
    * `max_key_product` names the skew (one templated bucket holding
    * everything reads as max ≈ total). Cost: the build/probe
    * explodes feed two map-side-combined per-key counts (shuffle =
    * distinct candidate keys, not candidate rows) and a distinct-key
    * join — near-flat in the answer size, linear in input rows (the
    * same shape as `Joins.joinCardinality`, measured near-flat at 20M
    * rows, SCALING.md join_cardinality).
    *
    * Reading the number: candidates count BOTH orientations of each
    * qualifying pair plus every string's self-matches and the
    * equi-key collisions the banded verifier later rejects — an upper
    * bound ≥ 2·|pairs| + (k+1)·|rows|, and on templated corpora a
    * small constant factor above the true answer set (spec-pinned on
    * the SCALING.md edit_join fixture family). A 10⁸-plus estimate
    * means the ANSWER is answer-set-sized: no exact algorithm runs it
    * meaningfully faster. Scope: prices the LONG (pigeonhole) path —
    * the one that cliffs; strings shorter than maxDist+1 post-strip
    * pair through the alphabet-bounded value path, whose cost is
    * bounded by the distinct short values, not the corpus. */
  def estimatePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, stripCommonPrefix: Boolean = true): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val k = maxDist
    val base0 = prep(df, idCol, strCol)
    val p = profile(Seq(base0), k, stripCommonPrefix)
    val longSide =
      withLenOf(stripPrefix(base0, p)).filter(col("__l") >= k + 1)
    candidateCardinality(buildFrame(longSide, k),
      probeFrame(longSide, p.buildLens, k))
  }

  /** Cross-table variant of [[estimatePairs]] — the pre-flight for
    * [[join]] (build = left canonical segments, probe = right
    * windowed substrings, exactly the frames the join would shuffle). */
  def estimatePairs(left: DataFrame, leftIdCol: String, leftStrCol: String,
      right: DataFrame, rightIdCol: String, rightStrCol: String,
      maxDist: Int, stripCommonPrefix: Boolean): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val k = maxDist
    val l0 = prep(left, leftIdCol, leftStrCol)
    val r0 = prep(right, rightIdCol, rightStrCol)
    val p = profile(Seq(l0, r0), k, stripCommonPrefix)
    val lLong = withLenOf(stripPrefix(l0, p)).filter(col("__l") >= k + 1)
    val rLong = withLenOf(stripPrefix(r0, p)).filter(col("__l") >= k + 1)
    candidateCardinality(buildFrame(lLong, k),
      probeFrame(rLong, p.buildLens, k))
  }

  /** All unordered pairs within `maxDist` edits: `(id_a, id_b, dist)`
    * with `id_a < id_b`, `dist` the exact Levenshtein distance. Null
    * strings never match (join semantics).
    *
    * `maxPairs`: optional answer-set guard — when set, the
    * [[estimatePairs]] pre-flight runs first (a small aggregate job)
    * and the call REFUSES (IllegalArgumentException carrying the
    * estimate) if the predicted candidate count exceeds it, so
    * maxDist=2 on a templated short-string column fails loud instead
    * of 283-seconds-later. None (the default) skips the pre-flight
    * entirely — zero overhead. */
  def selfJoin(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, stripCommonPrefix: Boolean = true,
      maxPairs: Option[Long] = None,
      rerouteAbove: Option[Long] = None): DataFrame = {
    require(maxDist >= 1,
      "maxDist must be >= 1 — for exact string equality use " +
        "Dedup.exact (one hash aggregation, no candidate stage)")
    val k = maxDist
    val n = k + 1 // segments per string

    val base0 = prep(df, idCol, strCol)
    val p = profile(Seq(base0), k, stripCommonPrefix)
    val base = stripPrefix(base0, p)

    val withLen = withLenOf(base)
    val longSide = withLen.filter(col("__l") >= n)

    // `rerouteAbove`: the self-pricing escape hatch for the k≥2
    // templated-corpus cliff (SCALING.md edit_join_k2) — the SAME
    // pre-flight estimate maxPairs refuses on instead REROUTES to
    // MinHash-LSH candidates verified with the banded levenshtein
    // ([[minHashSelfJoin]]) when the exact pigeonhole join would
    // exceed the cap. The reroute is evaluated BEFORE maxPairs: a
    // caller setting both gets the fallback, not the refusal.
    // Semantics shift honestly documented: the fallback's emitted
    // pairs are still exact (verified, true distance attached) but
    // recall becomes probabilistic — see minHashSelfJoin's contract
    // for when that trade is appropriate. None (default) keeps
    // selfJoin unconditionally exact.
    if (rerouteAbove.isDefined || maxPairs.isDefined) {
      val est: Row = candidateCardinality(buildFrame(longSide, k),
        probeFrame(longSide, p.buildLens, k)).head()
      if (rerouteAbove.exists(est.getLong(0) > _))
        return minHashSelfJoin(df, idCol, strCol, maxDist,
          stripCommonPrefix)
      enforceMaxPairs("selfJoin", est, maxPairs)
    }

    val build = buildFrame(longSide, k)
    val probe = probeFrame(longSide, p.buildLens, k)

    // candidate equi-join on (segIdx, length, segment), ONE orientation
    // only (buildId < probeId — the pigeonhole holds both ways, so the
    // lower-id side always serves as build), with verification as a
    // residual: the 3-arg levenshtein returns -1 past the threshold, so
    // the filter and the dist column are one computation. The
    // first-match residual below makes the pair stream DUPLICATE-FREE
    // without any output-sized distinct: a candidate at segment index
    // i survives only if NO earlier segment j < i of the build string
    // also occurs in the probe string within its ±k window — exactly
    // the condition under which the j-index candidate exists (the
    // probe side emits every windowed substring, array_distinct only
    // collapses identical (i,l1,seg) keys), so per pair exactly the
    // lowest matching index survives.
    val longPairs = build.as("ba")
      .join(probe.as("pb"),
        col("ba.__i") === col("pb.__i") &&
          col("ba.__l") === col("pb.__l1") &&
          col("ba.__seg") === col("pb.__seg"))
      .select(col("ba.__id").as("id_a"), col("pb.__id").as("id_b"),
        col("ba.__i").as("__i"), col("__sa"), col("__sb"),
        levenshtein(col("__sa"), col("__sb"), k).as("dist"))
      // ORDER MATTERS — Catalyst pushes these conjuncts into the join
      // residual in THIS order, and And short-circuits: the id
      // inequality (one long compare) first halves the orientation-
      // doubled stream before any string work; the banded levenshtein
      // (sub-µs, early-exit) then prunes the equi-key matches —
      // low-entropy corpora produce orders of magnitude more of them
      // than true pairs — and only survivors (≤ (k+1)× output) pay
      // the first-match residual's substring probes. (Putting the id
      // inequality in the join condition instead lands it AFTER the
      // pushed conjuncts — measured 2× slower on the k=2 fixture.)
      .filter(col("id_a") < col("id_b") &&
        col("dist") >= 0 && firstSegFilter(k))
      .select(col("id_a"), col("id_b"), col("dist"))

    val strs = withLen.select(col("__id"), col("__s"))

    // short strings (len < n): pair through distinct values. Both
    // value tables are alphabet-bounded (lengths < n and < n+k), and
    // the min-length guard keeps this path disjoint from the long path
    // (which only ever pairs two len >= n strings), so no global dedup
    // is needed. Candidates come from a length-band EQUI-join, not a
    // cross join: levenshtein(a,b) >= |len(a)-len(b)|, so only pairs
    // within ±k of each other's length can qualify — each short value
    // explodes its 2k+1 band lengths and equi-joins the other table's
    // length column, pruning most pairs before any levenshtein runs
    // (a short-string-heavy corpus otherwise pays the full product).
    // Symmetrizing by swapping the banded pairs keeps mixed
    // short-vs-near pairs reachable in either id order.
    val shortVals = withLen.filter(col("__l") < n)
      .select(col("__s"), col("__l")).distinct()
    val nearVals = withLen.filter(col("__l") < n + k)
      .select(col("__s"), col("__l")).distinct()
    val banded = shortVals
      .select(col("__s"),
        explode(sequence(greatest(col("__l") - k, lit(0)),
          col("__l") + k)).as("__lb"))
      .as("va")
      .join(nearVals.as("vb"), col("va.__lb") === col("vb.__l"))
      .select(col("va.__s").as("__sa"), col("vb.__s").as("__sb"))
    val valPairs = banded
      .union(banded.select(col("__sb").as("__sa"), col("__sa").as("__sb")))
      .distinct()
      .withColumn("dist", levenshtein(col("__sa"), col("__sb")))
      .filter(col("dist") <= k)
    // internal names through the distinct so a plan reader (and
    // EditJoinSpec's pin) can assert NO aggregate ever keys on the
    // OUTPUT pair columns — the short path's dedup is value-table
    // sized, alphabet-bounded, never output-bound
    val shortPairs = valPairs
      .join(strs.as("ia"), col("__sa") === col("ia.__s"))
      .join(strs.as("ib"), col("__sb") === col("ib.__s"))
      .filter(col("ia.__id") < col("ib.__id"))
      .select(col("ia.__id").as("__ida"), col("ib.__id").as("__idb"),
        col("dist"))
      .distinct() // (v,v) value pairs reach both cross-join branches
      .select(col("__ida").as("id_a"), col("__idb").as("id_b"),
        col("dist"))

    longPairs.union(shortPairs)
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
  }

  /** Probabilistic-recall edit join: MinHash-LSH candidate pairs over
    * character shingles ([[graft.dedup.Dedup.minHashCandidates]] —
    * banded, bucket-capped, star-linked), verified with the banded
    * 3-arg levenshtein. This is [[selfJoin]]'s `rerouteAbove` target
    * past the k≥2 answer-set cliff, and callable directly.
    *
    * The contract shift, stated plainly: every EMITTED pair is exact
    * (true distance attached, ≤ maxDist — candidates are verified,
    * never trusted), but recall follows the LSH collision curve —
    * pairs whose shingle-set Jaccard is low can be missed, and short
    * strings at maxDist edits can have LOW Jaccard (two edits in an
    * 8-char tail disturb up to 2·n of its shingles). Bigram shingles
    * (`shingleSize = 2`) and 32 narrow bands (row width 2) are the
    * short-string default: collision probability ≈ 1−(1−j²)³² — ~95%
    * at j = 0.3, ~73% at j = 0.2. Appropriate when the join feeds
    * dedup/clustering (mutually-similar families collide in many
    * bands and star-linking restores family recall); NOT a substitute
    * when the complete answer set is required — there, pay the exact
    * join's output-bound price or refuse with `maxPairs`.
    *
    * Scale shape: candidate volume is bucket-capped (maxBucketSize +
    * star fallback) — the property the exact pigeonhole join cannot
    * have (exactness forbids skew caps) and the reason the reroute
    * survives templated corpora the exact join cliffs on. The LCP
    * strip runs first for the same reason as in [[selfJoin]]: a
    * shared `"user-"`-style prefix contributes identical shingles
    * that would push every pair's Jaccard toward 1 and flood the
    * buckets. */
  def minHashSelfJoin(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, stripCommonPrefix: Boolean = true,
      shingleSize: Int = 2, k: Int = 64, bands: Int = 32,
      maxBucketSize: Int = 200): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val base0 = prep(df, idCol, strCol)
    val base =
      if (!stripCommonPrefix) base0
      else stripPrefix(base0, profile(Seq(base0), maxDist, strip = true))
    val cand = graft.dedup.Dedup.minHashCandidates(
      base, "__id", "__s", shingleSize, k, bands, maxBucketSize)
    val strs = base.select(col("__id"), col("__s"))
    cand
      .join(strs.as("ia"), col("idA") === col("ia.__id"))
      .join(strs.as("ib"), col("idB") === col("ib.__id"))
      .select(col("idA").as("id_a"), col("idB").as("id_b"),
        levenshtein(col("ia.__s"), col("ib.__s"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"),
        col("dist").cast("int").as("dist"))
  }

  /** Cross-TABLE edit-distance join — the entity-resolution lookup
    * (match scraped titles/names against a canonical catalog within
    * `maxDist` edits): every pair `(left_id, right_id, dist)` with
    * `levenshtein(leftStr, rightStr) <= maxDist`, EXACTLY, by the same
    * PassJoin segment pigeonholing as [[selfJoin]] — canonical
    * segments built on the LEFT, shifted-substring probes on the
    * RIGHT (the pigeonhole argument is one-directional: any right
    * string within k edits of a left string contains one of the
    * left's k+1 segments verbatim within ±k of its position, so one
    * build/probe orientation covers every pair). The common-prefix
    * strip uses the LCP across BOTH sides (distance preservation
    * needs the same prefix removed from each). Strings too short to
    * pigeonhole pair through distinct values with the length-band
    * equi-join, in both orientations (either side may be the short
    * one); the min-length guard keeps the paths disjoint.
    *
    * `maxPairs`: optional answer-set guard, as on [[selfJoin]] —
    * refuses (with the [[estimatePairs]] prediction) rather than run
    * a join whose candidate count exceeds it; None skips the
    * pre-flight. */
  def join(left: DataFrame, leftIdCol: String, leftStrCol: String,
      right: DataFrame, rightIdCol: String, rightStrCol: String,
      maxDist: Int, stripCommonPrefix: Boolean = true,
      maxPairs: Option[Long] = None): DataFrame = {
    require(maxDist >= 1,
      "maxDist must be >= 1 — for exact matching use a plain equi-join")
    val k = maxDist
    val n = k + 1

    val l0 = prep(left, leftIdCol, leftStrCol)
    val r0 = prep(right, rightIdCol, rightStrCol)

    val p = profile(Seq(l0, r0), k, stripCommonPrefix)

    val lLen = withLenOf(stripPrefix(l0, p))
    val rLen = withLenOf(stripPrefix(r0, p))
    val lLong = lLen.filter(col("__l") >= n)
    val rLong = rLen.filter(col("__l") >= n)

    enforceMaxPairs("join",
      candidateCardinality(buildFrame(lLong, k),
        probeFrame(rLong, p.buildLens, k)).head(),
      maxPairs)

    val build = buildFrame(lLong, k)
    val probe = probeFrame(rLong, p.buildLens, k)

    // first-match candidate dedup, as in selfJoin: emit each
    // (left, right) pair only for the lowest matching segment index —
    // no output-sized distinct
    val longPairs = build.as("ba")
      .join(probe.as("pb"),
        col("ba.__i") === col("pb.__i") &&
          col("ba.__l") === col("pb.__l1") &&
          col("ba.__seg") === col("pb.__seg"))
      .select(col("ba.__id").as("left_id"), col("pb.__id").as("right_id"),
        col("ba.__i").as("__i"), col("__sa"), col("__sb"),
        levenshtein(col("__sa"), col("__sb"), k).as("dist"))
      // banded levenshtein FIRST, residual on survivors (see selfJoin)
      .filter(col("dist") >= 0 && firstSegFilter(k))
      .select(col("left_id"), col("right_id"), col("dist"))

    // value paths: either side may be too short to pigeonhole. Band
    // equi-join as in selfJoin; orientation is fixed by which table a
    // value came from, so no symmetrizing swap — run both directions.
    def vals(df: DataFrame, maxLenExcl: Int) =
      df.filter(col("__l") < maxLenExcl)
        .select(col("__s"), col("__l")).distinct()
    def banded(short: DataFrame, near: DataFrame) = short
      .select(col("__s"),
        explode(sequence(greatest(col("__l") - k, lit(0)),
          col("__l") + k)).as("__lb"))
      .as("va")
      .join(near.as("vb"), col("va.__lb") === col("vb.__l"))
      .select(col("va.__s").as("__shorts"), col("vb.__s").as("__nears"))
    val p1 = banded(vals(lLen, n), vals(rLen, n + k))
      .select(col("__shorts").as("__ls"), col("__nears").as("__rs"))
    val p2 = banded(vals(rLen, n), vals(lLen, n + k))
      .select(col("__nears").as("__ls"), col("__shorts").as("__rs"))
    val valPairs = p1.union(p2).distinct()
      .withColumn("dist", levenshtein(col("__ls"), col("__rs")))
      .filter(col("dist") <= k)
    val shortPairs = valPairs
      .join(lLen.select(col("__id"), col("__s")).as("ia"),
        col("__ls") === col("ia.__s"))
      .join(rLen.select(col("__id"), col("__s")).as("ib"),
        col("__rs") === col("ib.__s"))
      .select(col("ia.__id").as("__ida"), col("ib.__id").as("__idb"),
        col("dist"))
      .distinct()
      .select(col("__ida").as("left_id"), col("__idb").as("right_id"),
        col("dist"))

    // long path needs BOTH sides >= n; value paths cover either side
    // < n (a pair with one side >= n+k and the other < n is > k edits
    // by length alone) — disjoint, so plain union
    longPairs.union(shortPairs)
      .select(col("left_id"), col("right_id"),
        col("dist").cast("int").as("dist"))
  }
}
