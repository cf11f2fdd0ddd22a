package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " * 8
  // doc 2 = doc 1 with one word changed (high jaccard); doc 3 unrelated
  private lazy val docs = Seq(
    (1L, base),
    (2L, base.replaceFirst("lazy", "sleepy")),
    (3L, "completely different content about spark query engines " * 8),
    (4L, base), // exact duplicate of 1
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exactDedup keeps min id per identical text") {
    val out = Dedup.exactDedup(docs, "doc_id", Seq("text"))
    assert(out.count() == 4)
    assert(out.filter($"text" === base).select("doc_id")
      .collect().head.getLong(0) == 1L)
  }

  test("chunkDedup keeps first span occurrence and reassembles in order") {
    // 12 words → chunks of 4: three spans A B C. doc 11 repeats A as
    // its second span (self-dup); doc 12 is an exact copy of doc 10;
    // doc 13 shares only span B; doc 14 is whitespace-only
    val a = "w1 w2 w3 w4"; val b = "x1 x2 x3 x4"; val c = "y1 y2 y3 y4"
    val docs = Seq(
      (10L, s"$a $b $c"),
      (11L, s"$c $a"),          // c loses to doc 10, a loses to doc 10
      (12L, s"$a $b $c"),       // fully duplicated → vanishes
      (13L, s"z1 z2 z3 z4 $b"), // keeps z-span, loses b
      (14L, "   ")
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, "doc_id", "text", chunkWords = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2))).toMap
    assert(out.keySet == Set(10L, 13L), s"survivors: ${out.keySet}")
    // doc 10 keeps all three spans in original order
    assert(out(10L) == (s"$a $b $c", 3L))
    // doc 13 keeps only its unique leading span
    assert(out(13L) == ("z1 z2 z3 z4", 1L))
    // no span text appears twice across the whole output
    val spans = out.values.flatMap(_._1.grouped(11)).toSeq
    assert(spans.distinct.size == spans.size)
  }

  test("slidingSpanDedup removes SHIFTED repeats the fixed grid " +
      "misses, keeps canonical occurrence and short docs") {
    // the boilerplate "b1 b2 b3 b4" recurs at DIFFERENT offsets:
    // doc 20 at pos 1, doc 21 at pos 0, doc 22 at pos 2 — a fixed
    // 4-word chunk grid would key three different spans and catch
    // nothing; sliding windows catch all of them
    val docs = Seq(
      (20L, "u1 b1 b2 b3 b4 u2"),     // canonical (smallest id)
      (21L, "b1 b2 b3 b4 v1 v2"),     // loses its boilerplate
      (22L, "w1 w2 b1 b2 b3 b4"),     // loses its boilerplate
      (23L, "b1 b2 b3 b4"),           // fully covered → vanishes
      (24L, "short doc"),             // < windowWords → untouched
      (25L, "B1 b2 B3 b4 q9 q8")      // case-insensitive match, loses
    ).toDF("doc_id", "text")
    val out = Dedup.slidingSpanDedup(docs, "doc_id", "text",
        windowWords = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2))).toMap
    assert(out.keySet == Set(20L, 21L, 22L, 24L, 25L),
      s"survivors: ${out.keySet}")
    assert(out(20L) == ("u1 b1 b2 b3 b4 u2", 6L)) // canonical intact
    assert(out(21L) == ("v1 v2", 2L))
    assert(out(22L) == ("w1 w2", 2L))
    assert(out(24L) == ("short doc", 2L))
    assert(out(25L) == ("q9 q8", 2L)) // original casing gone WITH span
    // chunkDedup's fixed grid indeed misses the shifted copies (only
    // the exact-aligned doc 23 vs 21 collide) — the gap this operator
    // exists to close
    val grid = Dedup.chunkDedup(docs, "doc_id", "text", chunkWords = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(grid(20L).contains("b1 b2 b3 b4") &&
      grid(22L).contains("b1 b2"), grid.toString)
    // self-repeat within one doc: second occurrence removed
    val self = Seq((30L, "a1 a2 a3 z a1 a2 a3"))
      .toDF("doc_id", "text")
    val so = Dedup.slidingSpanDedup(self, "doc_id", "text", 3)
      .collect().map(r => (r.getString(1), r.getLong(2))).head
    assert(so == (("a1 a2 a3 z", 4L)), so.toString)
    intercept[IllegalArgumentException] {
      Dedup.slidingSpanDedup(docs, "doc_id", "text", 1)
    }
    // the production hashed-key mode returns the identical output
    // (collisions are ~2^-64/pair; on a fixture, zero)
    val hashed = Dedup.slidingSpanDedup(docs, "doc_id", "text",
        windowWords = 4, hashKeys = true)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2))).toMap
    assert(hashed == out, s"hashed-key mode diverged: $hashed")
  }

  test("slidingSpanDedup gives identical rows from one input partition " +
      "(spread over every core) and from seven") {
    // 60 docs over a 5-word vocabulary: most 3-word windows repeat
    val rnd = new scala.util.Random(7)
    val vocab = Seq("a", "b", "c", "d", "e")
    val rows = (1L to 60L).map(id => id ->
      Seq.fill(4 + rnd.nextInt(20))(vocab(rnd.nextInt(5))).mkString(" "))
    val one = rows.toDF("doc_id", "text").coalesce(1)
    val seven = rows.toDF("doc_id", "text").repartition(7)
    assert(one.rdd.getNumPartitions == 1 && seven.rdd.getNumPartitions == 7)
    for (hashKeys <- Seq(false, true)) {
      def run(df: org.apache.spark.sql.DataFrame) =
        Dedup.slidingSpanDedup(df, "doc_id", "text", windowWords = 3,
          hashKeys = hashKeys).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      val fromOne = run(one)
      assert(fromOne == run(seven), s"hashKeys=$hashKeys")
      assert(fromOne.map(_._3).sum < rows.map(_._2.split(" ").length).sum,
        "no window was removed: the corpus tests nothing")
    }
  }

  test("slidingSpanDedupIncremental equals the full-corpus op " +
      "restricted to the batch; re-ingest and param drift fail loudly") {
    val corpus = Seq(
      (1L, "c1 c2 c3 c4 tail one"),
      (2L, "c1 c2 c3 c4 other words here"),  // dup of 1's span already
      (3L, "solo words nothing shared")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "x9 c1 c2 c3 c4 x8"),      // span known to the corpus → cut
      (11L, "n1 n2 n3 n4 fresh stuff"),// novel span, first in batch
      (12L, "pad n1 n2 n3 n4 fresh"),  // hmm: only the 4-window shared
      (13L, "totally new material words")
    ).toDF("doc_id", "text")
    val idx = Dedup.buildSpanIndex(corpus, "doc_id", "text",
      windowWords = 4)
    val (cleaned, next) =
      Dedup.slidingSpanDedupIncremental(idx, batch, "doc_id", "text")
    val got = cleaned.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // ground truth: full-corpus run restricted to batch ids (batch
    // ids sort after corpus ids — the documented precondition)
    val full = Dedup.slidingSpanDedup(corpus.unionByName(batch),
        "doc_id", "text", windowWords = 4)
      .filter(col("doc_id") >= 10)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == full, s"incremental diverged:\n$got\nvs full:\n$full")
    // the corpus-known span was cut from doc 10, novel spans survive
    // their first batch occurrence
    assert(got(10L) == "x9 x8")
    assert(got(11L).startsWith("n1 n2 n3 n4"))
    // next-day index: knows batch ids and batch keys
    intercept[IllegalArgumentException] {
      Dedup.slidingSpanDedupIncremental(next, batch, "doc_id", "text")
    }
    val (cleaned2, _) = Dedup.slidingSpanDedupIncremental(next,
      Seq((20L, "n1 n2 n3 n4 repeat of batch span"))
        .toDF("doc_id", "text"), "doc_id", "text")
    assert(cleaned2.collect().head.getString(1) == "repeat of batch span")
    // parameter drift refuses
    intercept[IllegalArgumentException] {
      idx.union(Dedup.buildSpanIndex(corpus, "doc_id", "text",
        windowWords = 5))
    }
    // an id column literally named "id" must not collide with the
    // index's internal ids("id") in the re-ingest guard join
    val idxNamedId = Dedup.buildSpanIndex(
      corpus.withColumnRenamed("doc_id", "id"), "id", "text",
      windowWords = 4)
    val (cleanedId, _) = Dedup.slidingSpanDedupIncremental(idxNamedId,
      batch.withColumnRenamed("doc_id", "id"), "id", "text")
    assert(cleanedId.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == full)
  }

  /** The oracle SQL's ExactSubstr semantics, brute force: texts are
    * trimmed of spaces (`trim`), empty ones dropped, the rest split on
    * `\\s+` keeping empty tokens; every document's windows count (null
    * ids included), each duplicated window's first occurrence by
    * (id NULLS LAST, pos) is canonical, and a later occurrence's
    * tokens are removed from every document of its id — never from a
    * null-id one, whose id joins nothing. The documents of one id merge
    * into one row in (index, token) order. */
  private def spanBruteForce(docs: Seq[(Option[Long], String)],
      k: Int): Map[Option[Long], (String, Long)] = {
    val toks = docs.flatMap { case (id, t) =>
      val s = t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      if (s.isEmpty) None else Some(id -> s.split("\\s+", -1).toSeq)
    }
    val occ = for ((id, w) <- toks; pos <- 0 to w.size - k) yield
      (w.slice(pos, pos + k).mkString(" ").toLowerCase(java.util.Locale.ROOT),
        id, pos)
    val covered = occ.groupBy(_._1).values.flatMap { o =>
      o.sortBy { case (_, id, pos) => (id.isEmpty, id.getOrElse(0L), pos) }
        .drop(1).collect { case (_, Some(id), pos) =>
          (pos until pos + k).map(Option(id) -> _) }.flatten
    }.toSet
    toks.groupBy(_._1).map { case (id, ds) =>
      val kept = ds.flatMap { case (_, w) =>
        w.indices.filterNot(i => covered((id, i))).map(i => i -> w(i))
      }.sorted.map(_._2)
      id -> (kept.mkString(" "), kept.size.toLong)
    }.filter(_._2._2 > 0)
  }

  private def spanRows(df: org.apache.spark.sql.DataFrame) = {
    val rows = df.collect().map(r =>
      Option(r.get(0)).map(_.asInstanceOf[Long]) ->
        (r.getString(1), r.getLong(2)))
    assert(rows.map(_._1).distinct.length == rows.length,
      s"more than one row for an id: ${rows.toSeq}")
    rows.toMap
  }

  /** A seeded corpus with shifted repeats, documents shorter than and
    * exactly as long as the window, whitespace-only texts, non-BMP
    * characters (a Deseret capital and its lowercase among them), two
    * documents under one id and a null id. Ids are 1..n shuffled, so
    * id order is not row order. */
  private def spanCorpus(seed: Int, k: Int): Seq[(Option[Long], String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("a", "b", "c", "B", "é", "\uD801\uDC00",
      "\uD801\uDC28", "\uD83D\uDE00", "x\uD835\uDD18y")
    def words(n: Int) = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
    def text(w: Seq[String]) = (if (rnd.nextInt(4) == 0) "  " else "") +
      w.map(_ + (rnd.nextInt(6) match {
        case 0 => "  "
        case 1 => "\t"
        case _ => " "
      })).mkString.dropRight(1)
    val bodies = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    (0 until 8).foreach(_ => bodies += words(rnd.nextInt(12)))
    // shifted repeats: a span of an earlier body at another offset
    (0 until 4).foreach { _ =>
      val src = bodies(rnd.nextInt(bodies.size))
      val from = rnd.nextInt(src.size + 1)
      bodies += words(rnd.nextInt(3)) ++
        src.slice(from, from + k + rnd.nextInt(3)) ++ words(rnd.nextInt(3))
    }
    bodies += words(k - 1) // shorter than the window
    bodies += bodies.find(_.size > k).getOrElse(words(k + 2)).take(k)
    val ids = rnd.shuffle((1L to bodies.size.toLong).toVector)
    val docs = bodies.zip(ids).map { case (b, id) => Option(id) -> text(b) }
    val (dupId, dupText) = docs(rnd.nextInt(docs.size))
    docs.toSeq ++ Seq(
      Option(bodies.size + 1L) -> "   ",
      Option(bodies.size + 2L) -> "",
      Option(bodies.size + 3L) -> " \t ",
      dupId -> (if (rnd.nextBoolean()) dupText
                else dupText.split(" ").reverse.mkString(" ")),
      None -> text(bodies(rnd.nextInt(bodies.size)) ++ words(2)))
  }

  test("slidingSpanDedup, hashed and not, and the incremental op match " +
      "a brute-force replay of the oracle on 20 seeded corpora") {
    for (seed <- 1 to 20) {
      val k = 2 + seed % 3
      val rows = spanCorpus(seed, k)
      val want = spanBruteForce(rows, k)
      val docs = rows.toDF("doc_id", "text")
      for (hashKeys <- Seq(false, true))
        assert(spanRows(Dedup.slidingSpanDedup(docs, "doc_id", "text",
          windowWords = k, hashKeys = hashKeys)) == want,
          s"seed $seed hashKeys=$hashKeys")
      // batch ids sort after the corpus's; the null id stays in the corpus
      val cut = rows.flatMap(_._1).max / 2 + 1
      val isBatch = col("doc_id") >= cut
      val idx = Dedup.buildSpanIndex(docs.filter(!isBatch ||
        col("doc_id").isNull), "doc_id", "text", windowWords = k)
      val (cleaned, _) = Dedup.slidingSpanDedupIncremental(idx,
        docs.filter(isBatch), "doc_id", "text")
      assert(spanRows(cleaned) ==
        want.filter(_._1.exists(_ >= cut)), s"seed $seed incremental")
    }
  }

  test("two documents under one id lose a window they share at one " +
      "position and merge into one row") {
    // "p q r" at pos 0 and "q r s" at pos 1 occur twice under id 1:
    // the second occurrence of each cuts tokens 0..3 of BOTH documents
    // (coverage is by (id, index)); doc 2 loses its later "p q r"
    val rows: Seq[(Option[Long], String)] = Seq(
      Some(1L) -> "p q r s t", Some(1L) -> "p q r s u",
      Some(2L) -> "z p q r")
    val want = Map(Some(1L) -> (("t u", 2L)), Some(2L) -> (("z", 1L)))
    assert(spanBruteForce(rows, 3) == want)
    val docs = rows.toDF("doc_id", "text")
    assert(spanRows(Dedup.slidingSpanDedup(docs, "doc_id", "text",
      windowWords = 3)) == want)
    val idx = Dedup.buildSpanIndex(docs.filter(col("doc_id") === 2L),
      "doc_id", "text", windowWords = 3)
    assert(spanRows(Dedup.slidingSpanDedupIncremental(idx,
      docs.filter(col("doc_id") === 1L), "doc_id", "text")._1) ==
      Map(Some(1L) -> want(Some(1L))))
  }

  test("a null-id document sharing a window with real ones removes " +
      "nothing, in the full and the incremental span dedup") {
    val span = (1 to 10).map(i => s"s$i").mkString(" ")
    val solo = (1 to 10).map(i => s"n$i").mkString(" ")
    val rows: Seq[(Option[Long], String)] = Seq(
      Some(1L) -> s"$span tail",      // canonical: nulls rank last
      Some(2L) -> s"pre $span",       // loses the span to doc 1
      None -> s"x $span $solo y",     // null id: counted, never cut
      Some(3L) -> s"$solo z",         // shares only with the null doc
      Some(4L) -> "short doc")
    val want = spanBruteForce(rows, 10)
    assert(want(Some(1L)) == ((s"$span tail", 11L)))
    assert(want(Some(2L)) == (("pre", 1L)))
    assert(want(Some(3L)) == ((s"$solo z", 11L)))
    assert(want(None)._2 == 22L)
    val docs = rows.toDF("doc_id", "text")
    assert(spanRows(Dedup.slidingSpanDedup(docs, "doc_id", "text",
      windowWords = 10)) == want)
    // the null-id document sits in the indexed corpus; the batch's
    // doc 3 shares a window only with it and keeps every token
    val isBatch = col("doc_id") === 3L
    val idx = Dedup.buildSpanIndex(docs.filter(!isBatch || col("doc_id")
      .isNull), "doc_id", "text", windowWords = 10)
    val (cleaned, _) = Dedup.slidingSpanDedupIncremental(idx,
      docs.filter(isBatch), "doc_id", "text")
    assert(spanRows(cleaned) == Map(Some(3L) -> want(Some(3L))))
  }

  test("segmentDedup removes repeated lines, keeps originals in order") {
    val docs = Seq(
      (1L, "Copyright Footer\nreal content one\nMore real text"),
      (2L, "copyright footer\nsecond doc body"),   // footer loses (case-insensitive)
      (3L, "COPYRIGHT FOOTER\n\n  \nunique third line"),
      (4L, "Copyright Footer")                     // only the dup → vanishes
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L), s"survivors: ${out.keySet}")
    // doc 1 keeps all three lines, original casing and order
    assert(out(1L) ==
      ("Copyright Footer\nreal content one\nMore real text", 3L))
    // docs 2/3 lose the boilerplate line; blank lines never count
    assert(out(2L) == ("second doc body", 1L))
    assert(out(3L) == ("unique third line", 1L))
  }

  test("segmentDedup on paragraphs: blank-line delimiter") {
    val para = "shared boilerplate paragraph"
    val docs = Seq(
      (1L, s"$para\n\nfirst unique body"),
      (2L, s"$para\n\n\nsecond unique body")
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "doc_id", "text",
        splitPattern = "\\n{2,}", rejoinWith = "\n\n")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == s"$para\n\nfirst unique body")
    assert(out(2L) == "second unique body")
  }

  test("chunkDedup matches case-insensitively but keeps original text") {
    val docs = Seq(
      (1L, "Hello World One Two"),
      (2L, "hello world one two"),   // same span modulo case → loses
      (3L, "Different Words Here Now")
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, "doc_id", "text", chunkWords = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L, 3L), s"survivors: ${out.keySet}")
    // the survivor keeps its ORIGINAL casing, not the lowercased key
    assert(out(1L) == "Hello World One Two")
    assert(out(3L) == "Different Words Here Now")
  }

  test("chunkDedup matches a plain-Scala reference model (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    // the same semantics in driver-side collections: chunk, global
    // keep-first on the lowercased span (min (id, idx)), reassemble
    def reference(docs: Seq[(Long, String)],
        cw: Int): Map[Long, (String, Long)] = {
      val chunks = for {
        (id, text) <- docs
        toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
        if toks.nonEmpty
        (grp, idx) <- toks.grouped(cw).zipWithIndex.toSeq
      } yield (id, idx.toLong, grp.mkString(" "))
      val winners = chunks.groupBy(_._3.toLowerCase)
        .map { case (k, occ) => k -> occ.map(c => (c._1, c._2)).min }
      val kept = chunks.filter(c =>
        winners(c._3.toLowerCase) == ((c._1, c._2)))
      kept.groupBy(_._1).map { case (id, cs) =>
        id -> (cs.sortBy(_._2).map(_._3).mkString(" "), cs.size.toLong) }
    }
    // tiny mixed-case vocabulary so span collisions arise constantly
    val word = Gen.oneOf("aa", "Aa", "bb", "cc", "Cc", "dd")
    val doc = Gen.chooseNum(0, 10).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val prop = forAll(Gen.listOfN(6, doc), Gen.chooseNum(2, 4)) {
      (texts, cw) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Dedup.chunkDedup(docs.toDF("doc_id", "text"),
          "doc_id", "text", cw)
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getLong(2))).toMap
      got == reference(docs, cw)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("chunkDedup is a no-op on a corpus with no repeated spans") {
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "g h i j k l m")  // 7 words → chunks of 5: one full + tail
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, "doc_id", "text", chunkWords = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a b c d e f", 2L -> "g h i j k l m"))
  }

  test("shingles: word 3-grams, distinct, short-text empty") {
    val sh = Seq(("a b c d", 1)).toDF("t", "i")
      .select(Dedup.shingles($"t", 3).as("sh"))
      .collect().head.getSeq[String](0)
    assert(sh.toSet == Set("a b c", "b c d"))
    val short = Seq(("a b", 1)).toDF("t", "i")
      .select(Dedup.shingles($"t", 3).as("sh"))
      .collect().head.getSeq[String](0)
    assert(short.isEmpty)
  }

  test("jaccard of known sets") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(Dedup.jaccard($"x", $"y")).collect().head.getDouble(0)
    assert(j == 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  test("minHashPairs finds planted near-dups, not unrelated docs") {
    val pairs = Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"expected (1,2) in $pairs")
    assert(pairs.contains((1L, 4L)), "exact dup must be caught")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc must not pair")
  }

  test("minhash jaccard estimate tracks exact jaccard") {
    val exact = docs.filter($"doc_id".isin(1L, 2L))
      .select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
    val Seq(a, b) = exact.orderBy("doc_id").collect()
      .map(_.getSeq[String](1).toSet).toSeq
    val trueJ = a.intersect(b).size.toDouble / a.union(b).size
    val est = Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.1)
      .filter($"idA" === 1L && $"idB" === 2L)
      .collect().head.getDouble(2)
    assert(math.abs(est - trueJ) < 1e-9,
      "verification step reports EXACT jaccard, not the sketch estimate")
  }

  test("dedupMinHash keep-min-id drops later duplicates only") {
    val kept = Dedup.dedupMinHash(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L))
    assert(!kept.contains(2L) && !kept.contains(4L))
    assert(kept.contains(3L) && kept.contains(5L))
  }

  test("simHashPairs: identical docs at distance 0, near at small dist") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((1L, 4L)).contains(0))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("embeddingNearDupPairs finds a planted near-identical vector") {
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(64)(rnd.nextGaussian())
    val v1 = vec()
    val v2 = v1.map(_ + rnd.nextGaussian() * 0.05) // cosine ≈ 0.999
    val emb = (Seq((1L, v1), (2L, v2)) ++
      (3L to 40L).map(i => (i, vec()))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("bucketStats executes and reports band-bucket sizes") {
    // regression (ADVICE r1): bucketStats fed string shingles into the
    // array<bigint> MinHashSignature expression → ClassCastException
    val stats = Dedup.bucketStats(docs, "doc_id", "text").collect()
    assert(stats.nonEmpty)
    // 4 docs survive the empty-shingle filter ("short text" has < 3
    // words); every bucket size is within [1, 4]
    val sizes = stats.map(_.getLong(0))
    assert(sizes.forall(s => s >= 1 && s <= 4))
    // docs 1 and 4 are byte-identical → identical signatures → at least
    // one bucket holds 2+ docs across the 16 bands
    assert(sizes.exists(_ >= 2))
  }

  test("maxBucketSize skew guard bounds degenerate buckets to star pairs") {
    // 50 identical docs: every band bucket holds all 50 — over a cap of
    // 10 the guard must NOT emit 50²/2 pairs, but (since round 6) it
    // must not drop the family either: overflowed buckets star-link
    // every member against the bucket's min id
    val dup = (1L to 50L).map(i => (i, base)).toDF("doc_id", "text")
    val capped = Dedup.minHashPairs(dup, "doc_id", "text",
      threshold = 0.3, maxBucketSize = 10).collect()
    // exactly the 49 star pairs (1, i): each band bucket is the whole
    // corpus, so the representative is always doc 1
    assert(capped.length == 49)
    assert(capped.forall(r => r.getLong(0) == 1L))
    assert(capped.map(_.getLong(1)).toSet == (2L to 50L).toSet)
    // with a generous cap the same corpus yields all pairs
    val full = Dedup.minHashPairs(dup, "doc_id", "text",
      threshold = 0.3, maxBucketSize = 200)
    assert(full.count() == 50L * 49 / 2)
  }

  test("decontaminate drops any-gram overlap with the benchmark set") {
    val corpus = Seq(
      (10L, base),                                  // overlaps bench doc
      (11L, "completely different content about spark query engines " * 8),
      (12L, "tiny")                                 // too short to shingle
    ).toDF("doc_id", "text")
    val bench = Seq((1L, base)).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L), s"got $kept")
    // plan: corpus side must not shuffle (broadcast joins only)
    val plan = Dedup.decontaminate(corpus, bench, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("connectedComponents clusters transitive chains to min id") {
    // chain 1-2-3 (1~2, 2~3 but NOT 1~3) + island 7-9 + singleton edge 5-5
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("idA", "idB")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    // long chain needs multiple propagation rounds
    val chain = (1L until 20L).map(i => (i, i + 1)).toDF("idA", "idB")
    val labels = Dedup.connectedComponents(chain).collect()
      .map(_.getLong(1)).distinct
    assert(labels.toSeq == Seq(1L))
  }

  test("connectedComponents driver and distributed paths agree") {
    // random-ish graph exercising merges of established clusters
    val pairs = Seq((10L, 2L), (2L, 30L), (4L, 5L), (5L, 2L), (8L, 9L),
      (40L, 8L), (100L, 100L)).toDF("idA", "idB")
    def run(threshold: Long) =
      Dedup.connectedComponents(pairs, driverThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val driver = run(1000000L) // small-graph union-find path
    val dist = run(0L)         // force distributed label propagation
    assert(driver == dist, s"driver=$driver dist=$dist")
    assert(driver.count(_._2 == 2L) == 5) // {2,4,5,10,30}
  }

  test("keepBestPerCluster keeps the highest-quality doc per cluster") {
    // two clusters {1,2,3} (best=2 by score) and {7,9} (tie → min id 7),
    // plus unclustered 42 which must survive untouched
    val corpus = Seq((1L, 0.1, "a"), (2L, 0.9, "b"), (3L, 0.5, "c"),
      (7L, 0.4, "d"), (9L, 0.4, "e"), (42L, 0.0, "f"))
      .toDF("doc_id", "score", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("id", "cluster")
    val kept = Dedup.keepBestPerCluster(corpus, clusters, "doc_id", "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 7L, 42L))
    // a cluster whose scores are ALL null keeps one representative
    // (min id), never zero; NaN scores pick a real row, not a phantom
    val nullScores = Seq((1L, Option.empty[Double]),
      (2L, Option.empty[Double]), (5L, Some(Double.NaN)),
      (6L, Some(1.0))).toDF("doc_id", "score")
    val cl2 = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L))
      .toDF("id", "cluster")
    val kept2 = Dedup.keepBestPerCluster(nullScores, cl2, "doc_id",
      "score").select("doc_id").collect().map(_.getLong(0)).toSet
    // NaN sorts above every double in Spark's total order — 5 wins
    assert(kept2 == Set(1L, 5L), kept2.toString)
    // agrees with the window-rank formulation on a real clustering
    val pairs = Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.3)
    val cc = Dedup.connectedComponents(pairs)
    val scored = docs.withColumn("q",
      graft.text.TextAnalysis.qualityScore(col("text")))
    val viaAgg = Dedup.keepBestPerCluster(scored, cc, "doc_id", "q")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    import org.apache.spark.sql.expressions.Window
    val viaWindow = {
      val labeled = scored.join(cc,
        scored("doc_id") === cc("id"), "left")
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("q").desc, col("doc_id").asc)
      labeled.filter(col("cluster").isNull).select("doc_id")
        .union(labeled.filter(col("cluster").isNotNull)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).select("doc_id"))
        .collect().map(_.getLong(0)).toSet
    }
    assert(viaAgg == viaWindow)
    Dedup.releaseCaches()
  }

  test("candidate generation never materializes an all-pairs join") {
    val plan = Dedup.minHashPairs(docs, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Cross"), s"cartesian in plan:\n$plan")
    Dedup.releaseCaches()
  }

  test("scoped cache handles: concurrent jobs release only their own") {
    // two "jobs" build dedup plans in their own scopes; releasing job
    // A's handle must not evict job B's signature cache (the module-
    // global registry previously made any release session-wide).
    // Assertions are DELTA-based on RDD ids: the session is shared
    // across suites, so global getPersistentRDDs counts are not ours
    // to assert on
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def ours = spark.sparkContext.getPersistentRDDs.keySet -- before
    val (pairsA, handleA) = Dedup.scoped(
      Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.3))
    val (pairsB, handleB) = Dedup.scoped(
      Dedup.minHashPairs(docs.limit(100), "doc_id", "text",
        threshold = 0.3))
    assert(handleA.trackedCount > 0 && handleB.trackedCount > 0)
    // both scopes persisted something; global release touches neither
    Dedup.releaseCaches()
    val cachedBefore = ours
    assert(cachedBefore.size >= 2,
      s"expected both scopes cached: $cachedBefore")
    handleA.release()
    val afterA = ours
    assert(afterA.size < cachedBefore.size,
      s"A's release freed nothing: $afterA")
    assert(afterA.nonEmpty, "A's release evicted B's cache too")
    // B still computes correctly from its own (still-warm) cache
    assert(pairsB.count() >= 0)
    handleB.release()
    assert(ours.isEmpty, s"leaked after both releases: $ours")
    pairsA.count() // released plans still recompute fine
  }

  test("scoped handle does NOT leak into threads spawned in the scope") {
    // a thread created inside a scoped block (e.g. a pool warmed up
    // there) must not inherit the scope: its later UNSCOPED dedup work
    // belongs to the session-wide registry, releasable by
    // releaseCaches() — not pinned to a possibly-released handle
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def ours = spark.sparkContext.getPersistentRDDs.keySet -- before
    @volatile var spawned: Thread = null
    val (_, handle) = Dedup.scoped {
      spawned = new Thread(() =>
        Dedup.minHashPairs(docs.limit(50), "doc_id", "text",
          threshold = 0.3))
      Dedup.minHashPairs(docs.limit(100), "doc_id", "text",
        threshold = 0.3)
    }
    val scopedCount = handle.trackedCount
    assert(scopedCount > 0)
    spawned.start(); spawned.join()
    // the spawned thread's persists went to the global registry, not
    // onto the (now-closed) scope's handle
    assert(handle.trackedCount == scopedCount,
      "scope leaked into a thread spawned inside the block")
    assert(ours.nonEmpty)
    Dedup.releaseCaches() // global release frees the spawned thread's
    handle.release()
    assert(ours.isEmpty, s"leaked: $ours")
  }

  test("oversized LSH buckets star-link instead of dropping (recall restored)") {
    // a 100-doc family of NEAR- (not exact-) identical boilerplate:
    // each copy differs by one marker token, so exact dedup misses it
    // and every band bucket it floods blows past the cap — previously
    // the whole family escaped near-dedup (the round-5 recall hole)
    val boiler = "the quick brown fox jumps over the lazy dog"
    val family = (1 to 100).map(i => (i.toLong, s"$boiler marker$i"))
    val others = Seq(
      (900L, "completely unrelated words about spark query engines " * 4),
      (901L, "another distinct document describing parquet layouts " * 4))
    val corpus = (family ++ others).toDF("doc_id", "text")
    val cap = 20 // family is 5× the cap

    val pairs = Dedup.minHashPairs(corpus, "doc_id", "text",
      threshold = 0.5, maxBucketSize = cap).cache()
    val nPairs = pairs.count()
    assert(nPairs > 0, "fallback emitted no pairs for oversized buckets")
    // star fallback emits O(m) pairs per overflowed bucket, never the
    // m²/2 ≈ 4950 all-pairs explosion
    assert(nPairs < 1000, s"pair explosion not bounded: $nPairs")
    assert(pairs.filter($"jaccard" < 0.5).isEmpty,
      "fallback pairs skipped exact verification")

    def survivors(maxBucket: Int): Set[Long] = {
      val losers = Dedup.minHashPairs(corpus, "doc_id", "text",
          threshold = 0.5, maxBucketSize = maxBucket)
        .select($"idB".as("doc_id")).distinct()
      corpus.join(losers, Seq("doc_id"), "left_anti")
        .select("doc_id").as[Long].collect().toSet
    }
    val capped = survivors(cap)
    // the family collapses to ~1 survivor (keep-min-id) and the
    // unrelated docs are untouched
    assert(capped.contains(1L), s"min id must survive: $capped")
    assert(capped.intersect((2L to 100L).toSet).size <= 2,
      s"near-identical family escaped dedup: $capped")
    assert(capped.contains(900L) && capped.contains(901L))
    // recall parity: the capped run keeps exactly what an uncapped
    // (no-overflow) run keeps
    assert(capped == survivors(5000),
      "capped dedup outcome diverged from the uncapped one")
    pairs.unpersist()
  }

  test("mixed families in one oversized bucket keep near-full recall") {
    // Two DISTINCT near-dup families atop shared boilerplate. Bands
    // whose slice is boilerplate-determined put ALL 200 docs in ONE
    // bucket — it overflows the cap, and the star fallback links only
    // rep-similar members (cross-family rep pairs fail verification).
    // Bands with a family-determined slot give each family its own
    // healthy ≤100-doc bucket, where non-rep pairs regenerate — LSH's
    // multi-band redundancy is the recall mechanism the star-fallback
    // scaladoc claims; this measures it against the uncapped run.
    val boiler = (0 until 150).map(i => s"common$i").mkString(" ")
    val alpha = (0 until 15).map(i => s"alpha$i").mkString(" ")
    val beta = (0 until 15).map(i => s"beta$i").mkString(" ")
    val fam = ((0 until 100).map(i =>
      (i.toLong, s"$boiler $alpha variant${i % 5}")) ++
      (0 until 100).map(i =>
        (100L + i, s"$boiler $beta variant${i % 5}")))
      .toDF("doc_id", "text")
    def pairsAt(cap: Int): Set[(Long, Long)] =
      Dedup.minHashPairs(fam, "doc_id", "text", threshold = 0.9,
        maxBucketSize = cap)
        .select("idA", "idB").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairsAt(Int.MaxValue)
    val capped = pairsAt(120)
    // the scenario is real: intra-family pairs on both sides, no
    // cross-family pair survives exact-Jaccard verification
    assert(uncapped.exists { case (a, b) => a < 100 && b < 100 })
    assert(uncapped.exists { case (a, b) => a >= 100 && b >= 100 })
    assert(!uncapped.exists { case (a, b) => a < 100 && b >= 100 })
    // and at least one band bucket really exceeds the cap (the mixed
    // boilerplate bucket holding both families)
    val oversized = Dedup.bucketStats(fam, "doc_id", "text")
      .filter(col("bucket_size") > 120).count()
    assert(oversized > 0, "fixture failed to produce an oversized bucket")
    val missing = uncapped -- capped
    val recall = 1.0 - missing.size.toDouble / uncapped.size
    assert(recall >= 0.98,
      s"mixed-family recall $recall (missing ${missing.size} of ${uncapped.size})")
  }

  test("incremental minhash equals the full run's pairs touching the " +
      "batch, incl. new-new pairs and capped buckets") {
    // the star-fallback fixture: one boilerplate family across the
    // old/new boundary, plus a new-new duplicate pair disjoint from
    // the corpus
    val boiler = (0 until 150).map(i => s"tok0b$i").mkString(" ")
    val fresh = (0 until 20).map(i => s"only0new$i").mkString(" ")
    // family starts at id 1 so the capped bucket's min-rep (the star
    // hub) is an OLD doc — old-old star pairs then exist in the full
    // run and must be excluded from the incremental result
    val docs = ((1 to 40).map(i => (i.toLong, s"$boiler mark$i")) ++
      Seq((100L, fresh), (101L, fresh + " tail"))).toDF("doc_id", "text")
    def isNew(id: Long) = id % 4 == 0 || id >= 100
    val oldDocs = docs.filter(!(col("doc_id") % 4 === 0 ||
      col("doc_id") >= 100))
    val newDocs = docs.filter(col("doc_id") % 4 === 0 ||
      col("doc_id") >= 100)
    val full = Dedup.minHashPairs(docs, "doc_id", "text",
        threshold = 0.5, maxBucketSize = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx = Dedup.buildMinHashIndex(oldDocs, "doc_id", "text")
    val inc = Dedup.incrementalMinHashPairs(idx, newDocs, "doc_id",
        "text", threshold = 0.5, maxBucketSize = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter(p => isNew(p._1) || isNew(p._2))
    assert(inc == expected,
      s"missing=${expected -- inc} extra=${inc -- expected}")
    // the fixture exercised what it claims: a new-new pair exists and
    // old-old pairs were excluded
    assert(inc.contains((100L, 101L)))
    assert(full.exists(p => !isNew(p._1) && !isNew(p._2)))
    assert(!inc.exists(p => !isNew(p._1) && !isNew(p._2)))
  }

  test("incremental minhash verify prunes the corpus shingle table " +
      "through one semi-join and attaches the persisted slice") {
    val docs = (1L to 60L).map(i => (i, s"w${i % 7}a w${i % 7}b " +
      s"w${i % 7}c w${i % 7}d w${i % 7}e")).toDF("doc_id", "text")
    val idx = Dedup.buildMinHashIndex(
      docs.filter(col("doc_id") <= 40), "doc_id", "text")
    val inc = Dedup.incrementalMinHashPairs(idx,
      docs.filter(col("doc_id") > 40), "doc_id", "text", threshold = 0.5)
    val p = inc.queryExecution.executedPlan.toString
    // the corpus-side shingle table is narrowed to the ids surviving
    // pairs actually touch (broadcast semi-join), and the two attach
    // joins read that persisted slice — never an unpruned broadcast
    // of the corpus table, never a pair-side shuffle of it
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    Dedup.releaseCaches()
  }

  test("incremental minhash at-scale path (bucket prune + gated " +
      "verify broadcasts) is result-identical to the small-corpus path") {
    val docs = ((1 to 40).map(i => (i.toLong, s"w${i % 7}a w${i % 7}b " +
      s"w${i % 7}c w${i % 7}d w${i % 7}e")) ++
      Seq((100L, "z1 z2 z3 z4 z5"), (101L, "z1 z2 z3 z4 z5 z6")))
      .toDF("doc_id", "text")
    val oldDocs = docs.filter(col("doc_id") <= 30)
    val newDocs = docs.filter(col("doc_id") > 30)
    def run(): Set[(Long, Long, Double)] = {
      val idx = Dedup.buildMinHashIndex(oldDocs, "doc_id", "text")
      val out = Dedup.incrementalMinHashPairs(idx, newDocs, "doc_id",
          "text", threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      Dedup.releaseCaches()
      out
    }
    val smallCorpus = run()
    // force the at-scale branch: band-table prune engages at any size
    // AND the measured pair count exceeds the (zeroed) broadcast
    // limit, so the verify slice joins run unhinted
    val pruneKey = "spark.graft.dedup.pruneBandsMinBytes"
    val bcastKey = "spark.graft.dedup.broadcastVerifyMaxPairs"
    spark.conf.set(pruneKey, "0")
    spark.conf.set(bcastKey, "0")
    try {
      val atScale = run()
      assert(atScale == smallCorpus,
        s"at-scale path changed results: " +
          s"missing=${smallCorpus -- atScale} " +
          s"extra=${atScale -- smallCorpus}")
      assert(smallCorpus.nonEmpty)
      // and with the prune on but broadcasts still allowed (the
      // typical large-corpus daily batch), results are identical too
      spark.conf.unset(bcastKey)
      assert(run() == smallCorpus)
    } finally { spark.conf.unset(pruneKey); spark.conf.unset(bcastKey) }
  }

  test("incremental minhash fails loudly on parameter mismatch and " +
      "re-ingested ids") {
    val d = Seq((1L, "a b c d e"), (2L, "f g h i j")).toDF("doc_id", "text")
    val idx64 = Dedup.buildMinHashIndex(d, "doc_id", "text", k = 64)
    val idx32 = Dedup.buildMinHashIndex(d, "doc_id", "text", k = 32)
    intercept[IllegalArgumentException] { idx64.union(idx32) }
    // a batch containing an already-indexed id is a loud error, not
    // silent self-pairs
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalMinHashPairs(idx64,
        Seq((2L, "f g h i j"), (3L, "k l m n o")).toDF("doc_id", "text"),
        "doc_id", "text")
    }
    assert(e.getMessage.contains("already present"))
  }

  test("semanticDedup drops lower-id-dominated cluster-mates only") {
    import graft.similarity.Ivf
    // two well-separated directions in R^4; near-dups are tiny
    // perturbations (cosine ≈ 1), plus one orthogonal-ish singleton
    // per cluster that must survive any sane threshold
    def v(xs: Double*): Seq[Double] = xs
    val data = Seq(
      (1L, v(1.0, 0.02, 0.0, 0.0)),   // cluster A rep
      (2L, v(1.0, 0.01, 0.0, 0.0)),   // near-dup of 1 → dropped
      (3L, v(1.0, 0.03, 0.01, 0.0)),  // near-dup of 1 → dropped
      (4L, v(0.0, 0.0, 1.0, 0.02)),   // cluster B rep
      (5L, v(0.0, 0.0, 1.0, 0.01)),   // near-dup of 4 → dropped
      (6L, v(0.1, 0.0, 0.9, 0.0)),    // B-side but not a near-dup
      (7L, v(0.7, 0.7, 0.0, 0.0))     // A-side but not a near-dup
    ).toDF("vec_id", "embedding")
    val model = Ivf.train(data, "vec_id", "embedding", k = 2, iters = 2)
    val survivors = Dedup.semanticDedup(data, "vec_id", "embedding",
      model, threshold = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 4L, 6L, 7L))
    // threshold high enough that nothing dominates → everything stays
    val all = Dedup.semanticDedup(data, "vec_id", "embedding",
      model, threshold = 1.1)
      .select("vec_id").as[Long].collect().toSet
    assert(all == (1L to 7L).toSet)
  }
}
