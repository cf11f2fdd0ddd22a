package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlShims}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EditJoin
import graft.util.{Tables, TempDirs}

class EditJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Fixture stressing every candidate-generation path: a templated
    * common prefix (the LCP-strip case), substitutions, inserts and
    * deletes (segment-position shifts), duplicates (dist 0), strings
    * that go SHORT after the prefix strip, the empty remainder, and
    * far-apart strings that must NOT pair. */
  private val corpus: Seq[(Long, String)] = Seq(
    1L -> "item-00417-blue",
    2L -> "item-00417-blu",   // deletion, dist 1 to #1
    3L -> "item-00417-bleu",  // insert/transpose shape vs #1
    4L -> "item-00418-blue",  // substitution, dist 1 to #1
    5L -> "item-00417-blue",  // exact duplicate of #1
    6L -> "item-99999-none",  // far from everything
    7L -> "item-0041-blue",   // deletion inside the digits
    8L -> "item-",            // empty remainder after strip
    9L -> "item-b",           // short remainder
    10L -> "item-bl",         // short remainder, dist 1 to #9
    11L -> "item-00517-blue", // substitution in a middle segment
    12L -> "xitem-00417-blue" // breaks the common prefix entirely
  )

  private def brute(k: Int): Set[(Long, Long, Int)] = {
    val df = corpus.toDF("id", "s")
    df.as("a").crossJoin(df.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        levenshtein(col("a.s"), col("b.s")).as("d"))
      .filter(col("d") <= k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
  }

  private def viaOp(k: Int, strip: Boolean): Set[(Long, Long, Int)] =
    EditJoin.selfJoin(corpus.toDF("id", "s"), "id", "s", k, strip)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("selfJoin equals brute force at maxDist=1") {
    val expected = brute(1)
    assert(expected.nonEmpty)
    assert(viaOp(1, strip = true) == expected)
  }

  test("selfJoin equals brute force at maxDist=2, with and without LCP strip") {
    val expected = brute(2)
    assert(expected.exists(_._3 == 2)) // fixture exercises dist-2 pairs
    assert(viaOp(2, strip = true) == expected)
    assert(viaOp(2, strip = false) == expected)
  }

  test("shift pairs (insert/delete) survive the pigeonhole windows") {
    // pure-shift pair: deleting one char early in the string moves
    // every later segment by one — the ±k probe windows must find it
    val df = Seq(1L -> "abcdefgh", 2L -> "bcdefgh", 3L -> "abcdefghx")
      .toDF("id", "s")
    val got = EditJoin.selfJoin(df, "id", "s", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 1), (1L, 3L, 1)))
  }

  test("all-short corpus pairs through the value path") {
    val df = Seq(1L -> "a", 2L -> "b", 3L -> "ab", 4L -> "", 5L -> "a")
      .toDF("id", "s")
    val got = EditJoin.selfJoin(df, "id", "s", 1, stripCommonPrefix = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = Set((1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 1), (1L, 5L, 0),
      (2L, 3L, 1), (2L, 4L, 1), (2L, 5L, 1), (4L, 5L, 1), (3L, 5L, 1))
    assert(got == expected)
  }

  test("short-value path is a length-band equi-join, not a cartesian " +
      "product") {
    val df = (1L to 60L).map(i =>
      i -> s"${('a' + (i % 13)).toChar}${('a' + (i % 7)).toChar}")
      .toDF("id", "s")
    val plan = EditJoin.selfJoin(df, "id", "s", 2,
        stripCommonPrefix = false)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // correctness on the same corpus: equals brute force
    val got = EditJoin.selfJoin(df, "id", "s", 2,
        stripCommonPrefix = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val strs = (1L to 60L).map(i =>
      i -> s"${('a' + (i % 13)).toChar}${('a' + (i % 7)).toChar}").toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      a <- 1L to 60L; b <- (a + 1) to 60L
      dd = lev(strs(a), strs(b)) if dd <= 2
    } yield (a, b, dd)).toSet
    assert(got == expected)
  }

  test("LCP strip counts code points — supplementary-plane prefixes survive") {
    // U+1D11E (musical G clef) is ONE code point but TWO UTF-16 chars;
    // a char-unit LCP count would over-strip and corrupt distances
    val clef = new String(Character.toChars(0x1D11E))
    val df = Seq(1L -> s"$clef${clef}abc", 2L -> s"$clef${clef}abd",
      3L -> s"$clef${clef}xyz").toDF("id", "s")
    val got = EditJoin.selfJoin(df, "id", "s", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 1)))
  }

  test("cross-table join equals brute force, incl. short strings and " +
      "a shared prefix") {
    val leftRaw = Seq(1L -> "id:alpha", 2L -> "id:alphb", 3L -> "id:x",
      4L -> "id:", 5L -> "id:beta", 6L -> "id:gamma7")
    val rightRaw = Seq(10L -> "id:alpha", 11L -> "id:alphaz",
      12L -> "id:y", 13L -> "id:be", 14L -> "id:gamma77", 15L -> "id:xx")
    val got = EditJoin.join(leftRaw.toDF("lid", "ls"), "lid", "ls",
        rightRaw.toDF("rid", "rs"), "rid", "rs", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (li, ls) <- leftRaw; (ri, rs) <- rightRaw
      d = lev(ls, rs) if d <= 2
    } yield (li, ri, d)).toSet
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("cross-table join equals brute force on random corpora " +
      "(property)") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    val word = Gen.choose(0, 5).flatMap(m =>
      Gen.listOfN(m, Gen.oneOf("a", "b", "é")).map(_.mkString))
    val tbl = Gen.choose(1, 10).flatMap(m => Gen.listOfN(m, word))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val prop = forAll(tbl, tbl, Gen.choose(1, 3)) { (ls, rs, k) =>
      val lt = ls.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val rt = rs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val got = EditJoin.join(lt.toDF("i", "s"), "i", "s",
          rt.toDF("i", "s"), "i", "s", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      val exp = (for {
        (li, a) <- lt; (ri, b) <- rt
        d = lev(a, b) if d <= k
      } yield (li, ri, d)).toSet
      got == exp
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(15),
      prop)
    assert(res.passed, res.status.toString)
  }

  test("long path emits each pair exactly once — no output-sized " +
      "distinct in the plan (k=2)") {
    // ids i and i+10 carry IDENTICAL strings (dist 0: every segment
    // matches — the max-redundancy case the first-match residual must
    // collapse); neighbors differ in one digit (dist 1..2)
    val df = (1L to 40L).map(i => i -> f"key-${i % 10}%03d-suffix")
      .toDF("id", "s")
    val res = EditJoin.selfJoin(df, "id", "s", 2)
    val plan = res.queryExecution.executedPlan.toString
    // the candidate pipeline never aggregates on the OUTPUT pair
    // columns — dedup is the join residual, not a sort/shuffle
    assert(!plan.contains("keys=[id_a"), plan)
    val rows = res.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(rows.size == rows.toSet.size, "duplicate pair rows emitted")
    assert(rows.toSet == brute2(df.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq, 2))
  }

  test("cross-table long path is distinct-free too") {
    val lt = (1L to 20L).map(i => i -> f"key-${i % 7}%03d-suffix")
    val rt = (1L to 20L).map(i => (i + 100L) -> f"key-${i % 7}%03d-suffiy")
    val res = EditJoin.join(lt.toDF("id", "s"), "id", "s",
      rt.toDF("id", "s"), "id", "s", maxDist = 2)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("keys=[left_id"), plan)
    val rows = res.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(rows.size == rows.toSet.size, "duplicate pair rows emitted")
  }

  test("duplicate (id, string) input rows collapse to one pair row") {
    val df = Seq(1L -> "abcdef", 1L -> "abcdef", 2L -> "abcdeg",
      2L -> "abcdeg").toDF("id", "s")
    val rows = EditJoin
      .selfJoin(df, "id", "s", 1, stripCommonPrefix = false).collect()
    assert(rows.length == 1)
    assert((rows(0).getLong(0), rows(0).getLong(1), rows(0).getInt(2)) ==
      ((1L, 2L, 1)))
  }

  /** brute force over an explicit corpus at threshold k */
  private def brute2(corpus: Seq[(Long, String)], k: Int)
      : Set[(Long, Long, Int)] = {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    (for {
      (ia, a) <- corpus; (ib, b) <- corpus if ia < ib
      d = lev(a, b) if d <= k
    } yield (ia, ib, d)).toSet
  }

  test("FirstSegMatch kernel equals a reference implementation " +
      "(property, incl. multi-byte code points)") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    import org.apache.spark.unsafe.types.UTF8String
    // reference: smallest i whose ceil-first segment of `sa` occurs in
    // `sb` within ±k of its canonical 1-based position (code points)
    def ref(sa: String, sb: String, k: Int): Int = {
      val a = sa.codePoints().toArray
      val b = sb.codePoints().toArray
      val n = k + 1
      (0 to k).find { i =>
        val st = (i * a.length + k) / n
        val len = ((i + 1) * a.length + k) / n - st
        len > 0 && (st + 1 - k to st + 1 + k).exists { q =>
          q >= 1 && q + len - 1 <= b.length &&
            b.slice(q - 1, q - 1 + len).sameElements(a.slice(st, st + len))
        }
      }.getOrElse(-1)
    }
    val word = Gen.choose(0, 9).flatMap(m =>
      Gen.listOfN(m, Gen.oneOf("a", "b", "é", "𝄞"))
        .map(_.mkString))
    val prop = forAll(word, word, Gen.choose(1, 3)) { (sa, sb, k) =>
      graft.functions.FirstSegMatch.firstMatch(
        UTF8String.fromString(sa), UTF8String.fromString(sb), k) ==
        ref(sa, sb, k)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200),
      prop)
    assert(res.passed, res.status.toString)
  }

  test("estimatePairs pins the k=2 answer-set cliff on the " +
      "SCALING.md edit_join fixture family (shrunk)") {
    // the ×10 matrix fixture (30000·m templated user-%08d ids) shrunk
    // to test scale; at ×10, k=2 the measured answer is 157,903,308
    // true pairs — the cliff the pre-flight must price BEFORE running
    val n = 3000L
    val df = spark.range(n).select(col("id"),
      format_string("user-%08d", col("id")).as("name"))
    val actual = EditJoin.selfJoin(df, "id", "name", maxDist = 2).count()
    val est = EditJoin.estimatePairs(df, "id", "name", maxDist = 2).head()
    val cand = est.getLong(0)
    info(s"actual pairs=$actual estimated candidates=$cand " +
      s"keys=${est.getLong(1)} maxKeyProduct=${est.getLong(2)}")
    // candidates bound the answer from above: both orientations of
    // every true pair plus self-matches and verifier-rejected
    // equi-key collisions — never below 2·pairs + (k+1)·rows ...
    assert(cand >= 2 * actual + 3 * n)
    // ... and within a small constant factor of the answer set on the
    // templated family (the estimate must PRICE the cliff, not just
    // upper-bound it into uselessness)
    assert(cand <= 40 * actual, s"estimate $cand vs $actual pairs")
  }

  test("estimatePairs tracks the answer set across k, not just corpus " +
      "size — k=1 estimate is far below k=2 on the same corpus") {
    val df = spark.range(3000L).select(col("id"),
      format_string("user-%08d", col("id")).as("name"))
    val e1 = EditJoin.estimatePairs(df, "id", "name", 1).head().getLong(0)
    val e2 = EditJoin.estimatePairs(df, "id", "name", 2).head().getLong(0)
    info(s"k=1 est=$e1  k=2 est=$e2")
    assert(e2 > 4 * e1, s"k=2 ($e2) should dwarf k=1 ($e1)")
  }

  test("maxPairs guard: refuses loudly above the cap, transparent " +
      "below it (selfJoin and cross-table join)") {
    val df = spark.range(500L).select(col("id"),
      format_string("user-%08d", col("id")).as("name"))
    val err = intercept[IllegalArgumentException] {
      EditJoin.selfJoin(df, "id", "name", maxDist = 2,
        stripCommonPrefix = true, maxPairs = Some(100L))
    }
    assert(err.getMessage.contains("maxPairs=100") &&
      err.getMessage.contains("estimated"), err.getMessage)
    // under the cap: result identical to the unguarded run
    val free = EditJoin.selfJoin(df, "id", "name", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val guarded = EditJoin.selfJoin(df, "id", "name", 1,
        stripCommonPrefix = true, maxPairs = Some(Long.MaxValue))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(guarded == free && free.nonEmpty)

    // NB the guard prices the LONG-path candidate join (the cliff);
    // k=1 keeps the catalog remainders long enough to pigeonhole —
    // at k=2 this fixture's post-strip catalog strings fall entirely
    // into the alphabet-bounded short-value path and the long-path
    // estimate is legitimately 0
    val cat = spark.range(250L).select(col("id"),
      expr("substring(format_string('user-%08d', id), 1, 12)").as("name"))
    val err2 = intercept[IllegalArgumentException] {
      EditJoin.join(df, "id", "name", cat, "id", "name", maxDist = 1,
        stripCommonPrefix = true, maxPairs = Some(10L))
    }
    assert(err2.getMessage.contains("maxPairs=10"), err2.getMessage)
    val est = EditJoin.estimatePairs(df, "id", "name",
      cat, "id", "name", 1, stripCommonPrefix = true).head().getLong(0)
    val lookupPairs = EditJoin.join(df, "id", "name",
      cat, "id", "name", 1, stripCommonPrefix = true,
      maxPairs = Some(est)).count() // estimate itself is a valid cap
    assert(lookupPairs > 0)
    assert(est >= lookupPairs, s"est $est < actual $lookupPairs")
  }

  test("rerouteAbove: under the cap selfJoin stays the exact join; " +
      "over it the MinHash fallback runs — precision exact, family " +
      "recall complete") {
    // a clone family (mutually within 1-2 edits) + distant singletons
    val fam = (0 until 20).map(i =>
      (i.toLong, s"acme corp unit ${"%02d".format(i)}"))
    val far = (100 until 110).map(i =>
      (i.toLong, s"totally unrelated entity number $i variant"))
    val df = (fam ++ far).toDF("id", "name")
    val exact = EditJoin.selfJoin(df, "id", "name", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(exact.nonEmpty)
    // cap far above the estimate: byte-identical to the plain exact join
    val under = EditJoin.selfJoin(df, "id", "name", maxDist = 2,
        rerouteAbove = Some(Long.MaxValue))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(under == exact)
    // cap 0: every corpus reroutes. Emitted pairs must be a SUBSET of
    // the exact answer with true distances (verified candidates =
    // exact precision)...
    val rerouted = EditJoin.selfJoin(df, "id", "name", maxDist = 2,
        rerouteAbove = Some(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(rerouted.subsetOf(exact),
      s"fallback invented pairs: ${rerouted -- exact}")
    // ...and the mutually-similar family — the population the reroute
    // exists for — is fully recalled: same-family near-pairs share
    // most shingles, so they collide in many bands
    val famExact = exact.filter { case (a, b, _) => a < 100 && b < 100 }
    val famGot = rerouted.filter { case (a, b, _) => a < 100 && b < 100 }
    assert(famGot == famExact,
      s"family recall gap: ${famExact -- famGot}")
  }

  test("minHashSelfJoin is callable directly and never emits a pair " +
      "past maxDist") {
    // distinct tails survive the LCP strip with enough characters to
    // shingle (a stripped 1-char tail has no bigrams and would drop)
    val df = (0 until 30).map(i => (i.toLong, s"record ${i % 5} alpha"))
      .toDF("id", "name")
    val got = EditJoin.minHashSelfJoin(df, "id", "name", maxDist = 1)
      .collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getInt(2) <= 1))
  }

  test("maxDist=0 is rejected with a pointer to exact dedup") {
    val err = intercept[IllegalArgumentException] {
      EditJoin.selfJoin(Seq(1L -> "a").toDF("id", "s"), "id", "s", 0)
    }
    assert(err.getMessage.contains("Dedup.exact"))
  }

  test("fused probe generator equals the former expression-tree " +
      "semantics on random strings (property)") {
    // reference reimplementation of the r15 probe tree: for every
    // segment index i, assumed length l1 (optionally IN-list-pruned),
    // and window start q within ±k of the canonical position, the
    // in-bounds substring — deduped by (i, l1, seg). Code-point
    // arithmetic like Spark's substring (the gen includes a
    // multibyte char to pin that).
    def reference(s: String, k: Int,
        lens: Option[Seq[Int]]): Set[(Int, Int, String)] = {
      val cps = s.codePoints().toArray
      val l = cps.length
      val n = k + 1
      val out = scala.collection.mutable.LinkedHashSet
        .empty[(Int, Int, String)]
      for {
        i <- 0 to k
        l1 <- math.max(l - k, n) to (l + k)
        if lens.forall(_.contains(l1))
      } {
        val st = ((i.toLong * l1 + k) / n).toInt
        val st1 = (((i + 1).toLong * l1 + k) / n).toInt
        val len = st1 - st
        for (q <- (st + 1 - k) to (st + 1 + k))
          if (q >= 1 && q + len - 1 <= l)
            out += ((i, l1, new String(cps, q - 1, len)))
      }
      out.toSet
    }
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    val str = Gen.choose(0, 12).flatMap(m =>
      Gen.listOfN(m, Gen.oneOf("a", "b", "c", "é", "𝕏")).map(_.mkString))
    val prop = forAll(str, Gen.choose(1, 3),
        Gen.option(Gen.nonEmptyListOf(Gen.choose(1, 15)))) { (s, k, ls) =>
      val lens = ls.map(_.distinct.sorted)
      val got = Seq(s).toDF("__s")
        .select(graft.functions.EditProbeSegments
          .edit_probe_segments(col("__s"), k, lens))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
      // a generator row set AND no duplicate rows (the fused dedup
      // must match array_distinct exactly)
      got.toSet == reference(s, k, lens) && got.length == got.toSet.size
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(60),
      prop)
    assert(res.passed, res.status.toString)
  }

  test("the one-aggregate corpus profile equals the two-pull path on " +
      "random corpora (property)") {
    // the two pulls the profile replaced: min/max for the LCP
    // over every frame, then the build side's (first frame's) distinct
    // post-strip lengths >= k+1, kept when they fit 64
    def twoPull(dfs: Seq[DataFrame], k: Int,
        strip: Boolean): EditJoin.Profile = {
      val r = dfs.map(_.select(col("__s"))).reduce(_ unionAll _)
        .agg(min("__s"), max("__s")).head()
      val lcp =
        if (!strip || r.isNullAt(0)) 0
        else r.getString(0).codePoints().toArray
          .zip(r.getString(1).codePoints().toArray)
          .takeWhile(t => t._1 == t._2).length
      val stripped =
        if (lcp == 0) dfs.head
        else dfs.head.select(substring(col("__s"), lcp + 1, Int.MaxValue)
          .as("__s"))
      val ls = stripped.select(length(col("__s")).as("__l"))
        .filter(col("__l") >= k + 1).distinct().limit(65)
        .collect().map(_.getInt(0)).toSeq
      EditJoin.Profile(lcp, Option.when(ls.length <= 64 && ls.nonEmpty)(ls))
    }
    def sorted(p: EditJoin.Profile) =
      p.copy(buildLens = p.buildLens.map(_.sorted))
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    val tail = Gen.choose(0, 9).flatMap(m =>
      Gen.listOfN(m, Gen.oneOf("a", "b", "é", "𝕏")).map(_.mkString))
    // prefixes with supplementary-plane characters; a zero-length tail
    // makes a string equal to the LCP
    val prefix = Gen.oneOf("", "item-", "𝕏𝕏-", "é𝕏")
    val small = for {
      p <- prefix
      n <- Gen.choose(1, 12)
      ts <- Gen.listOfN(n, tail)
    } yield ts.map(p + _)
    // more than 64 distinct lengths: the profile keeps none
    val wide = prefix.map(p => (0 until 80).map(i => p + ("b" * i)))
    val corpus = Gen.frequency(5 -> small, 1 -> wide)
    def frame(ss: Seq[String]) = ss.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("__id", "__s")
    def brute(df: DataFrame, k: Int) = df.as("a").crossJoin(df.as("b"))
      .filter(col("a.__id") < col("b.__id"))
      .select(col("a.__id"), col("b.__id"),
        levenshtein(col("a.__s"), col("b.__s")).as("d"))
      .filter(col("d") <= k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    var sawNone, sawLcp = false
    val prop = forAll(corpus, corpus, Gen.choose(1, 2),
        Gen.oneOf(true, false)) { (a, b, k, strip) =>
      val (fa, fb) = (frame(a), frame(b))
      val self = EditJoin.profile(Seq(fa), k, strip)
      val cross = EditJoin.profile(Seq(fa, fb), k, strip)
      sawNone ||= self.buildLens.isEmpty && a.length >= 80
      sawLcp ||= self.lcp > 0
      val rows = EditJoin.selfJoin(fa, "__id", "__s", k, strip).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      sorted(self) == sorted(twoPull(Seq(fa), k, strip)) &&
        sorted(cross) == sorted(twoPull(Seq(fa, fb), k, strip)) &&
        rows == brute(fa, k)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(16)
        .withInitialSeed(org.scalacheck.rng.Seed(7L)),
      prop)
    assert(res.passed, res.status.toString)
    assert(sawNone && sawLcp, "generator missed the None or LCP path")
  }

  test("constructing a selfJoin starts the jobs of one query only") {
    val path = TempDirs.create("graft-editjoin").resolve("c").toString
    corpus.toDF("id", "s").write.parquet(path)
    val stored = Tables.parquet(spark, path)
    val execIds = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        execIds.synchronized {
          execIds += Option(e.properties)
            .map(_.getProperty("spark.sql.execution.id")).orNull
        }
    }
    GraftSqlShims.waitForListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      EditJoin.selfJoin(stored, "id", "s", maxDist = 1)
      GraftSqlShims.waitForListeners(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(execIds.nonEmpty, "construction pulled no corpus profile")
    assert(!execIds.contains(null), execIds)
    assert(execIds.distinct.size == 1, execIds)
  }
}
