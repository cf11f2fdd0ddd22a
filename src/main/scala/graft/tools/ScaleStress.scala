package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.similarity.Ivf
import graft.text.TextAnalysis
import graft.util.{Tables, Telemetry}

/** Executes the 100 TB design claims instead of only plan-auditing
  * them: deterministically synthesizes a 10–50× corpus from the sf
  * test tables and runs the dedup family, connected components, IVF
  * and the curation chain on it, measuring wall time, shuffle volume
  * and spill per operator at each scale (the layer record of
  * [[graft.util.Telemetry.measure]], building the operator's frame
  * included).
  *
  * What "passing" looks like (written to the report, pasted into
  * SCALING.md):
  *  - per-operator cost grows sub-quadratically in corpus size
  *    (bucketed candidate generation means pair work tracks the
  *    near-dup population, never n²);
  *  - the bucket cap ENGAGES at scale: the synthetic mix plants a
  *    boilerplate clone army precisely so `maxBucketSize` has
  *    something to cut, visible in [[Dedup.bucketStats]];
  *  - driver memory stays flat (nothing collected scales with the
  *    corpus).
  *
  * Usage: `sbt "runMain graft.tools.ScaleStress [multipliers]"` with
  * `SPARK_GRAFT_SF_DIR` selecting the base tables (default sf0.1) —
  * multipliers default to `1,10,50`. Synthesized parquet and the
  * report land under `target/scale-stress/`.
  */
object ScaleStress {

  /** Deterministic per-(id, replica) mix selector in [0, mod). */
  private def mix(idCol: Column, r: Column, mod: Int): Column =
    pmod(xxhash64(idCol, r), lit(mod.toLong))

  /** Replicate `documents` ×m with a seeded variation mix:
    *  - r=0 keeps the original row (the base corpus survives intact);
    *  - ~5% exact duplicates (same text, new id) — exact-dedup fodder;
    *  - ~5% NEAR-identical boilerplate clones (one shared text plus a
    *    per-copy marker token — the timestamp/URL-per-copy pattern):
    *    exact dedup cannot catch them, their normalized fingerprints
    *    all differ, and every LSH band bucket they flood overflows
    *    maxBucketSize — exercising the star-linking fallback, which
    *    must keep pairs O(family) while still collapsing the family;
    *  - ~15% near-duplicates (tiny replica-specific suffix: shingle
    *    overlap stays high, so LSH must catch them);
    *  - the rest are genuinely new documents (every token salted with
    *    the replica number — zero shingle overlap with the original).
    * New ids are doc_id*m + r: collision-free and reproducible. */
  def synthesizeDocs(spark: SparkSession, sfDir: String, m: Int,
      out: String): Long = {
    val base = Tables.parquet(spark, s"$sfDir/documents.parquet")
    val reps = base.withColumn("r",
      explode(sequence(lit(0L), lit(m - 1L))))
    val sel = mix(col("doc_id"), col("r"), 20)
    val boiler = lit(Seq.fill(40)("all work and no play makes a dull corpus")
      .mkString(" "))
    val text =
      when(col("r") === 0, col("text"))
        .when(sel === 0, col("text"))
        .when(sel === 1,
          concat(boiler, lit(" mark"), col("doc_id") * m + col("r")))
        .when(sel <= 4, concat(col("text"), lit(" variant copy "), col("r")))
        .otherwise(concat_ws(" ",
          transform(split(col("text"), " "),
            w => concat(w, lit("_"), col("r")))))
    reps.select(
        (col("doc_id") * m + col("r")).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(out)
    Tables.parquet(spark, out).count()
  }

  /** Replicate `embeddings` ×m: r=0 keeps the original vector; ~30%
    * of replicas get per-element jitter of ±0.005 (cosine ≈ 0.999 —
    * near-dup fodder); the rest get ±0.5 jitter (distinct vectors).
    * Jitter is a pure hash of (vec_id, replica, dim) — reproducible
    * on any cluster at any parallelism. */
  def synthesizeEmbeddings(spark: SparkSession, sfDir: String, m: Int,
      out: String): Long = {
    val base = Tables.parquet(spark, s"$sfDir/embeddings.parquet")
    val reps = base.withColumn("r",
      explode(sequence(lit(0L), lit(m - 1L))))
    val scale = when(col("r") === 0, lit(0.0))
      .when(mix(col("vec_id"), col("r"), 10) < 3, lit(0.005))
      .otherwise(lit(0.5))
    val jittered = zip_with(
      col("embedding").cast("array<double>"),
      sequence(lit(0), size(col("embedding")) - 1),
      (x, i) => x + scale *
        (pmod(xxhash64(col("vec_id"), col("r"), i), lit(1000L))
          .cast("double") / 1000.0 - 0.5))
    reps.select(
        (col("vec_id") * m + col("r")).as("vec_id"),
        jittered.as("embedding"), col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(out)
    Tables.parquet(spark, out).count()
  }

  /** Replicate `events` ×m into disjoint per-replica user-id spaces:
    * the user population scales with the corpus while per-user event
    * density stays constant — the realistic growth axis for an event
    * stream, under which a bounded-gap pair join's output grows
    * linearly (more users), not quadratically (denser users). A
    * deterministic ±30 min per-(event, replica) ts jitter keeps
    * replicas off the base corpus's exact time-bin layout. */
  def synthesizeEvents(spark: SparkSession, sfDir: String, m: Int,
      out: String): Long = {
    val base = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val reps = base.withColumn("r",
      explode(sequence(lit(0L), lit(m - 1L))))
    val jitterUs = pmod(xxhash64(col("event_id"), col("r")),
      lit(3600000000L)) - lit(1800000000L)
    reps.select(
        (col("event_id") * m + col("r")).as("event_id"),
        timestamp_micros(unix_micros(col("ts")) + jitterUs).as("ts"),
        (col("user_id") * m + col("r")).as("user_id"),
        col("event_type"), col("value"))
      .repartition(32)
      .write.mode("overwrite").parquet(out)
    Tables.parquet(spark, out).count()
  }

  final case class Measurement(multiplier: Int, op: String, rowsIn: Long,
      rowsOut: Long, wallSec: Double, shuffleMB: Double,
      shuffleRecords: Long, spillMB: Double, driverHeapMB: Long)

  private def usedHeapMB(): Long = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  /** Runs per op (min wall reported): a single local[32] sample is
    * hostage to GC/compilation pauses — the first published table had
    * a simhash ×10 sample EXCEED its ×50 one. Task metrics (shuffle
    * bytes/records, spill) barely move across runs; only wall time
    * needs the noise damping, and min is the right statistic for a
    * scaling curve (the noise is additive). */
  private val runsPerOp =
    sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt.max(1)

  /** Optional op filter: `SPARK_GRAFT_SCALE_OPS=exact_dedup,chunk_dedup`
    * runs only the named operators — the knob for extending the scale
    * curve (×100+) on the cheap ops without paying for the expensive
    * ones at every multiplier. Dependent ops gate on their producers
    * (connected_components on minhash_pairs, ivf_topk on ivf_train). */
  private val knownOps = Set("exact_dedup", "minhash_pairs",
    "connected_components", "simhash_pairs", "embed_near_dup",
    "ivf_train", "ivf_topk", "curation_chain", "pack_sequential",
    "bigram_commonness", "lang_rebalance", "chunk_dedup", "salted_join",
    "bucket_stats", "interval_join", "join_cardinality",
    "join_preflight_sketch",
    "stream_drain", "stream_quota",
    "pq_train", "pq_index", "pq_search", "ivfpq_index", "ivfpq_search",
    "bpe_train", "bpe_segment", "bm25", "maxsim_rerank",
    "chunk_sliding",
    "semantic_dedup", "scd2_historize", "rag_search", "funnel",
    "retention_cohorts", "minhash_incremental", "edit_join",
    "edit_join_k1", "edit_join_k2", "edit_join_lookup",
    "edit_join_preflight", "resample",
    "pagerank", "triangles", "ivf_append", "diverse_sample",
    "summary_hit", "summary_miss", "image_near_dup",
    "set_sim_join", "containment_join", "shard_balance",
    "boilerplate_strip", "kmv_distinct", "kmv_sample", "ngram_coverage",
    "sliding_dedup", "sliding_incremental", "whale_sample")
  /** dependent op → its producer: naming only the dependent used to
    * run zero measurements with no error (ADVICE r5) — auto-enable the
    * producer instead, loudly. */
  private val producers = Map(
    "bpe_segment" -> "bpe_train",
    "connected_components" -> "minhash_pairs",
    "ivf_topk" -> "ivf_train",
    "ivf_append" -> "ivf_train",
    "pq_index" -> "pq_train",
    "pq_search" -> "pq_train")
  private val opFilter: Option[Set[String]] = {
    val f = sys.env.get("SPARK_GRAFT_SCALE_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd op name would silently disable everything and burn the
    // synthesis minutes measuring nothing — fail fast instead
    f.foreach { set =>
      val unknown = set -- knownOps
      require(unknown.isEmpty,
        s"SPARK_GRAFT_SCALE_OPS: unknown ops $unknown (known: $knownOps)")
    }
    f.map { set =>
      val missing = set.flatMap(producers.get) -- set
      missing.foreach(p => println(
        s"SPARK_GRAFT_SCALE_OPS: auto-enabling '$p' (producer of a named op)"))
      set ++ missing
    }
  }
  private def opEnabled(name: String): Boolean =
    opFilter.forall(_.contains(name))
  /** Whether any enabled op consumes the given synthesized corpus —
    * gates synthesis itself so a doc-only run never pays for the
    * embedding replication (and vice versa). */
  private val docOps = Set("exact_dedup", "minhash_pairs",
    "connected_components", "simhash_pairs", "curation_chain",
    "pack_sequential", "bigram_commonness", "lang_rebalance",
    "chunk_dedup", "salted_join", "bucket_stats",
    "bpe_train", "bpe_segment", "bm25", "maxsim_rerank",
    "chunk_sliding", "rag_search",
    "minhash_incremental", "set_sim_join", "sliding_dedup",
    "sliding_incremental", "boilerplate_strip", "kmv_distinct",
    "kmv_sample", "ngram_coverage", "whale_sample")
  private val embOps = Set("embed_near_dup", "ivf_train", "ivf_topk",
    "pq_train", "pq_index", "pq_search", "ivfpq_index", "ivfpq_search",
    "semantic_dedup", "ivf_append", "diverse_sample")
  private val evtOps = Set("interval_join", "join_cardinality",
    "join_preflight_sketch", "stream_drain", "stream_quota",
    "scd2_historize", "funnel", "retention_cohorts", "resample")
  private def anyEnabled(ops: Set[String]): Boolean = ops.exists(opEnabled)

  private def measureOp(name: String, m: Int, rowsIn: Long)(
      df: => DataFrame): Measurement = {
    println(s"-- x$m $name ...")
    val qm = (1 to runsPerOp).map { _ =>
      try Telemetry.measure(df) finally Dedup.releaseCaches()
    }.minBy(_.wallS)
    val res = Measurement(m, name, rowsIn, qm.rowsOut,
      qm.wallS, qm.shuffleWriteBytes / 1048576.0,
      qm.shuffleWriteRecords, qm.spillBytes / 1048576.0, usedHeapMB())
    println(f"-- x$m $name: ${res.rowsOut} rows, ${res.wallSec}%.2f s, " +
      f"${res.shuffleMB}%.1f MB shuffled, ${res.spillMB}%.1f MB spilled")
    res
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val workRoot = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      "target/scale-stress")
    val multipliers = args.headOption.getOrElse("1,10,50")
      .split(",").map(_.trim.toInt).toSeq
    // Shuffle partitions default to the thread count but can be raised
    // independently — the documented remedy for the one matrix spill
    // (bigram ×100): more, smaller shuffle partitions fit the sorter in
    // memory without changing parallelism. On a cluster this is the
    // same knob sized to executor memory.
    val shufflePartitions = sys.env.getOrElse(
      "SPARK_GRAFT_SHUFFLE_PARTITIONS", graft.GraftSession.cpus.toString)
    // The map-side lever: smaller scan splits → more, smaller map
    // tasks → smaller per-task partial-aggregation hash maps. This is
    // the knob that actually governs map-side spill (shuffle-partition
    // count only shrinks the reduce side).
    val maxPartitionBytes =
      sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728")
    val spark = graft.GraftSession(
      "spark.sql.shuffle.partitions" -> shufflePartitions,
      "spark.sql.files.maxPartitionBytes" -> maxPartitionBytes)

    val rows = scala.collection.mutable.ArrayBuffer.empty[Measurement]
    val bucketReports = scala.collection.mutable.ArrayBuffer.empty[String]
    val quotaReports = scala.collection.mutable.ArrayBuffer.empty[String]

    for (m <- multipliers) {
      val docsPath = s"$workRoot/docs_x$m"
      val embPath = s"$workRoot/emb_x$m"
      val nDocs = if (anyEnabled(docOps))
        synthesizeDocs(spark, sfDir, m, docsPath) else 0L
      val nVecs = if (anyEnabled(embOps))
        synthesizeEmbeddings(spark, sfDir, m, embPath) else 0L
      val evtsPath = s"$workRoot/evts_x$m"
      val nEvts = if (anyEnabled(evtOps))
        synthesizeEvents(spark, sfDir, m, evtsPath) else 0L
      println(s"== x$m: $nDocs docs, $nVecs vectors, $nEvts events ==")
      def docs = Tables.parquet(spark, docsPath)
      def embs = Tables.parquet(spark, embPath)

      if (opEnabled("exact_dedup")) rows += measureOp("exact_dedup", m, nDocs) {
        Dedup.exactDedup(
          docs.withColumn("fp",
            TextAnalysis.contentFingerprint(col("text"))),
          "doc_id", Seq("fp"))
      }
      // pairs computed once, reused for CC — persisted to parquet so
      // the CC measurement isn't double-charged for pair generation
      if (opEnabled("minhash_pairs")) {
        val pairsPath = s"$workRoot/pairs_x$m"
        // SPARK_GRAFT_STAR_REPS > 1 A/Bs the multi-rep star fallback's
        // cost on the clone-army's genuinely overflowed buckets
        val starReps = sys.env.getOrElse("SPARK_GRAFT_STAR_REPS", "1").toInt
        println(s"-- x$m minhash_pairs (starReps=$starReps) ...")
        val tPairs0 = System.nanoTime()
        Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.5,
            starReps = starReps)
          .write.mode("overwrite").parquet(pairsPath)
        Dedup.releaseCaches()
        val pairsSec = (System.nanoTime() - tPairs0) / 1e9
        val nPairs = Tables.parquet(spark, pairsPath).count()
        rows += Measurement(m, "minhash_pairs", nDocs, nPairs, pairsSec,
          -1, -1, -1, usedHeapMB())
        if (opEnabled("connected_components"))
          rows += measureOp("connected_components", m, nPairs) {
            Dedup.connectedComponents(Tables.parquet(spark, pairsPath))
          }
      }
      if (opEnabled("simhash_pairs")) rows += measureOp("simhash_pairs", m, nDocs) {
        Dedup.simHashPairs(docs, "doc_id", "text")
      }
      // planes sized from the corpus count — the fixed default (4,
      // tuned for interactive scale) gives 16 buckets/table, and
      // candidate pairs per bucket grow quadratically with the corpus
      if (opEnabled("embed_near_dup")) rows += measureOp("embed_near_dup", m, nVecs) {
        Dedup.embeddingNearDupPairs(embs, "vec_id", "embedding",
          threshold = 0.99, planesPerTable = Dedup.planesFor(nVecs))
      }
      if (opEnabled("ivf_train")) {
        println(s"-- x$m ivf_train ...")
        val tTrain0 = System.nanoTime()
        val model = Ivf.train(embs, "vec_id", "embedding", k = 16, iters = 2)
        val trainSec = (System.nanoTime() - tTrain0) / 1e9
        rows += Measurement(m, "ivf_train", nVecs, model.k.toLong, trainSec,
          -1, -1, -1, usedHeapMB())
        if (opEnabled("ivf_topk")) rows += measureOp("ivf_topk", m, nVecs) {
          Ivf.ivfTopK(embs, "vec_id", "embedding",
            embs.filter(col("vec_id") % lit(nVecs / 100 max 1) === 0),
            "vec_id", "embedding", model, k = 10, nprobe = 2)
        }
        // incremental maintenance: the stored inverted file (99% of
        // the corpus) materializes OUTSIDE the timer — the claim under
        // test is that a daily 1% batch pays only its own assignment
        // plus the k-row count merge, then searches the appended index
        // through the stored path (no corpus reassignment anywhere)
        if (opEnabled("ivf_append")) {
          val baseInv = embs.filter(col("vec_id") % 100 =!= 0)
            .select(col("vec_id").as("id"),
              col("embedding").cast("array<double>").as("v"))
            .withColumn("cell", Ivf.assignCell(col("v"), model))
            .localCheckpoint(true)
          val baseCounts = baseInv.groupBy(col("cell")).count()
            .localCheckpoint(true)
          rows += measureOp("ivf_append", m, nVecs / 100 max 1) {
            val app = Ivf.appendToIndex(baseInv,
              embs.filter(col("vec_id") % 100 === 0), "vec_id",
              "embedding", model, baseCellCounts = Some(baseCounts))
            Ivf.searchIndex(app.index,
              embs.filter(col("vec_id") % lit(nVecs / 100 max 1) === 0),
              "vec_id", "embedding", model, k = 10, nprobe = 2)
          }
        }
      }
      // cluster-balanced coverage sampling in its claimed regime:
      // k ≈ √n cells (so the per-cell window sort is balanced — ~√n
      // rows across thousands of groups), trained OUTSIDE the timer
      // on a 10% sample (the documented 100 TB practice; ivfpq's
      // train-on-sample precedent). The timed claim is the
      // selection itself: one narrow assignment + centrality map,
      // then a window over (id, cell, centrality) SCALARS — wall
      // must track rows, embeddings must not cross the shuffle.
      if (opEnabled("diverse_sample")) {
        println(s"-- x$m diverse_sample (training k=sqrt(n)) ...")
        val kCells = math.max(16, math.sqrt(nVecs.toDouble).round.toInt)
        val dsModel = Ivf.train(
          embs.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
          k = kCells, iters = 2)
        rows += measureOp("diverse_sample", m, nVecs) {
          graft.operators.Sampling.diverseSample(
            embs, "vec_id", "embedding", dsModel, quota = 10)
        }
      }
      // the rollup rewrite's measured payoff: the SAME dashboard
      // aggregate (grouped sums/max/count + a distinct over a key),
      // answered by a full base scan (catalog cleared) vs routed to
      // the 50k-row summary (registered). Build + registration run
      // OUTSIDE the timers — that is the operating model: one
      // materialization, every dashboard refresh after it pays
      // summary-scan cost, not a petabyte re-scan.
      if (opEnabled("summary_hit") || opEnabled("summary_miss")) {
        val nRows = 1000000L * m
        val slices = (32 * m).max(32)
        val rbPath = s"$workRoot/rollup_base_x$m"
        val rsPath = s"$workRoot/rollup_sum_x$m"
        spark.range(0, nRows, 1, slices).select(
            concat(lit("g"), pmod(xxhash64(col("id")), lit(1000L))
              .cast("string")).as("k1"),
            pmod(xxhash64(col("id"), lit(1)), lit(50L)).cast("int")
              .as("k2"),
            (col("id") * 7 % 1000).as("m1"),
            // bounded: the summary SUMs this partial — a full-range
            // hash would overflow the ANSI long sum
            pmod(xxhash64(col("id"), lit(2)), lit(1000000L)).as("m2"))
          .write.mode("overwrite").parquet(rbPath)
        val rb = Tables.parquet(spark, rbPath)
        graft.plans.SummaryCatalog.buildSummary(rb, Seq("k1", "k2"),
            Seq("m1", "m2"))
          .write.mode("overwrite").parquet(rsPath)
        def dash(b: org.apache.spark.sql.DataFrame) = b.groupBy("k1")
          .agg(sum("m1").as("s1"), max("m2").as("x2"),
            count(lit(1)).as("n"), countDistinct(col("k2")).as("dk"))
        rows += measureOp("summary_miss", m, nRows) {
          graft.plans.SummaryCatalog.clear()
          dash(rb)
        }
        // registration (which fingerprints the file listing) runs
        // OUTSIDE the timer — summary_hit measures only the rewritten
        // dashboard read
        graft.plans.SummaryCatalog.register(rb,
          Tables.parquet(spark, rsPath), Seq("k1", "k2"), Seq("m1", "m2"))
        rows += measureOp("summary_hit", m, nRows) {
          dash(Tables.parquet(spark, rbPath))
        }
        graft.plans.SummaryCatalog.clear()
      }
      // product quantization at scale, the deployment split: TRAIN on
      // the ×1 originals only (the r=0 replicas — a fixed-size sample,
      // as a 100 TB corpus would), then ENCODE the whole replicated
      // corpus (narrow codegen map — wall must track rows) and SEARCH
      // over codes (ADC: corpus scan reads m ints/vector). Encode
      // throughput and search wall are the scale claims; training cost
      // is constant by construction.
      if (opEnabled("pq_train")) {
        println(s"-- x$m pq_train ...")
        val tTrain0 = System.nanoTime()
        val pqModel = graft.similarity.Pq.train(
          embs.filter(col("vec_id") % lit(m.toLong) === 0),
          "vec_id", "embedding")
        val trainSec = (System.nanoTime() - tTrain0) / 1e9
        rows += Measurement(m, "pq_train", nVecs / m.max(1),
          pqModel.m.toLong * pqModel.ksub, trainSec, -1, -1, -1,
          usedHeapMB())
        println(f"-- x$m pq_train: ${trainSec}%.2f s")
        if (opEnabled("pq_index")) rows += measureOp("pq_index", m, nVecs) {
          embs.select(col("vec_id"),
            graft.similarity.Pq.encode(
              col("embedding").cast("array<double>"), pqModel).as("code"))
        }
        if (opEnabled("pq_search")) rows += measureOp("pq_search", m, nVecs) {
          graft.similarity.Pq.adcTopK(embs, "vec_id", "embedding",
            embs.filter(col("vec_id") % lit(nVecs / 100 max 1) === 0),
            "vec_id", "embedding", pqModel, k = 10)
        }
      }
      // IVF-PQ at scale, same deployment split: BOTH quantizers train
      // on the ×1 originals, the full corpus is indexed to
      // (id, cell, code) in one narrow codegen map, and search joins
      // codes on the cell id (the probe side broadcast) — each query
      // reads nprobe cells' worth of codes, never the corpus
      if (opEnabled("ivfpq_index") || opEnabled("ivfpq_search")) {
        println(s"-- x$m ivfpq train (on x1 sample) ...")
        val sample = embs.filter(col("vec_id") % lit(m.toLong) === 0)
        val ivfModel = Ivf.train(sample, "vec_id", "embedding",
          k = 16, iters = 2)
        val ivfpqModel = graft.similarity.Ivfpq.trainResidualPq(
          sample, "vec_id", "embedding", ivfModel)
        if (opEnabled("ivfpq_index"))
          rows += measureOp("ivfpq_index", m, nVecs) {
            graft.similarity.Ivfpq.index(embs, "vec_id", "embedding",
              ivfModel, ivfpqModel)
          }
        if (opEnabled("ivfpq_search"))
          rows += measureOp("ivfpq_search", m, nVecs) {
            graft.similarity.Ivfpq.searchTopK(embs, "vec_id", "embedding",
              embs.filter(col("vec_id") % lit(nVecs / 100 max 1) === 0),
              "vec_id", "embedding", ivfModel, ivfpqModel,
              k = 10, nprobe = 4)
          }
      }
      // the six-stage curation chain (clean → exact dedup → near dedup
      // → decontaminate → split), same shape as q_curation_e2e
      if (opEnabled("curation_chain")) rows += measureOp("curation_chain", m, nDocs) {
        val bench = docs.filter(col("doc_id") < lit(5) * m)
        val clean = docs.filter(col("doc_id") >= lit(5) * m)
          .withColumn("text", TextAnalysis.redactPii(col("text")))
          .filter(TextAnalysis.qualityScore(col("text")) >= 0.3)
          .localCheckpoint(true)
        val exact = Dedup.exactDedup(
          clean.withColumn("fp",
            TextAnalysis.contentFingerprint(col("text"))),
          "doc_id", Seq("fp"))
          .select("doc_id").join(clean, Seq("doc_id"))
          .localCheckpoint(true)
        val near = Dedup.dedupMinHash(exact, "doc_id", "text",
          threshold = 0.5).localCheckpoint(true)
        val decon = Dedup.decontaminate(near, bench, "doc_id", "text")
        graft.operators.Sampling.splitByHash(decon, "doc_id", 90)
      }
      // text-side operators over the same corpus: packing is one
      // sharded window, bigram commonness is the two-shuffle corpus
      // n-gram statistic, rebalancing is quota-broadcast + rank window
      if (opEnabled("pack_sequential")) rows += measureOp("pack_sequential", m, nDocs) {
        graft.operators.Packing.packSequential(
          docs.select(col("doc_id"), col("source"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", capacity = 1024, shardCol = "source")
      }
      if (opEnabled("bigram_commonness")) rows += measureOp("bigram_commonness", m, nDocs) {
        TextAnalysis.bigramCommonness(docs)
      }
      // corpus-frequent-line removal. minDocs stays CONSTANT across
      // multipliers: segment document-frequency grows with corpus
      // size, so a fixed threshold keeps the frequent set non-empty
      // and GROWING (measured 30 → 52 → 8,048 segments at ×1/×10/
      // ×100) — the first attempt scaled minDocs with m and silently
      // measured an empty-frequent-set join at ×10+ (replica families
      // are size m, so no segment's df ever reaches 10·m across
      // families). Still broadcast-tiny at every multiplier.
      if (opEnabled("boilerplate_strip")) rows += measureOp("boilerplate_strip", m, nDocs) {
        graft.text.Boilerplate.stripBoilerplate(docs, "doc_id", "text",
          " the ", minDocs = 10)
      }
      if (opEnabled("kmv_distinct")) rows += measureOp("kmv_distinct", m, nDocs) {
        import graft.functions.KmvFunctions._
        docs.groupBy(col("lang")).agg(
          kmv_distinct(kmv_hash48(col("text")), 1024).as("est"))
      }
      // the order-sample sibling: bounded (hash, value) pair state,
      // so the shuffle stays O(groups x k x partitions) ROWS at any
      // multiplier while the quantile read is exact replayable
      // arithmetic over the stored sample
      if (opEnabled("kmv_sample")) rows += measureOp("kmv_sample", m, nDocs) {
        import graft.functions.KmvFunctions._
        docs.groupBy(col("lang")).agg(
          kmv_sample(kmv_hash48(col("doc_id")),
            col("n_chars").cast("double"), 1024).as("sk"))
          .select(col("lang"), kmv_sample_quantile(col("sk"), 0.5).as("p50"),
            kmv_sample_quantile(col("sk"), 0.9).as("p90"))
      }
      // soft-contamination score of the held-out tenth against the
      // rest: both gram tables shuffle once on the gram key, the
      // probe is a hinted hash join (sort-merge on the fat gram side
      // is the documented spill risk, see bigram_commonness)
      if (opEnabled("ngram_coverage")) rows += measureOp("ngram_coverage", m, nDocs) {
        TextAnalysis.ngramCoverage(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", n = 3)
      }
      if (opEnabled("lang_rebalance")) rows += measureOp("lang_rebalance", m, nDocs) {
        val quota = docs.groupBy(col("lang"))
          .agg(ceil(sqrt(count(lit(1)).cast("double")) * 5)
            .cast("long").as("quota"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        docs.withColumn("rk", row_number().over(w))
          .join(broadcast(quota), Seq("lang"))
          .filter(col("rk") <= col("quota"))
      }
      // whale-stratum sampling: 90% of the corpus forced into ONE
      // group, then an exact per-group quota — the distribution that
      // made the old Window.partitionBy(group) samplers a single-task
      // sort of most of the corpus. groupScan's two-phase rank must
      // keep wall/shuffle linear and spill at zero regardless of the
      // whale (the whale spans many balanced range slices)
      if (opEnabled("whale_sample")) rows += measureOp("whale_sample", m, nDocs) {
        val whaled = docs.withColumn("wlang",
          when(pmod(col("doc_id"), lit(10L)) < 9, lit("en"))
            .otherwise(col("lang")))
        graft.operators.Sampling
          .stratifiedSample(whaled, "wlang", "doc_id", 0.2)
      }
      // sub-document span dedup: the boilerplate clone army means the
      // shared spans collapse to one winner each — rows out should
      // grow with the UNIQUE span population, not the corpus
      if (opEnabled("chunk_dedup")) rows += measureOp("chunk_dedup", m, nDocs) {
        Dedup.chunkDedup(docs, "doc_id", "text", chunkWords = 10)
      }
      // ANY-alignment substring dedup: the window explode is the one
      // heavy shuffle (~k× token bytes). The clone army's shared
      // windows each make ONE winner row with count=F and every
      // occurrence joins that single row — work is O(occurrences),
      // never O(F²), so this op (unlike an exact similarity JOIN,
      // whose pair OUTPUT is quadratic in family size) must stay
      // linear even as the synthesized families grow with m
      if (opEnabled("sliding_dedup")) {
        rows += measureOp("sliding_dedup", m, nDocs) {
          Dedup.slidingSpanDedup(docs, "doc_id", "text",
            windowWords = 10)
        }
        // production keying: 8-byte hashed windows instead of ~70-byte
        // strings — same rows out (collisions ~2^-64/pair), the
        // measured gap IS the string-key tax
        rows += measureOp("sliding_dedup_hashed", m, nDocs) {
          Dedup.slidingSpanDedup(docs, "doc_id", "text",
            windowWords = 10, hashKeys = true)
        }
      }
      // incremental: a 5% daily batch against the stored window-key
      // index (hashed keys, materialized OUTSIDE the timer) — the
      // measured cost must track the BATCH (its own windowing + one
      // column-pruned probe of the index), not the corpus
      if (opEnabled("sliding_incremental")) {
        val newPred = col("doc_id") % 20 === 0
        println(s"-- x$m sliding_incremental (indexing corpus) ...")
        val keysPath = s"$workRoot/spanidx_keys_x$m"
        val idsPath = s"$workRoot/spanidx_ids_x$m"
        val corpusIdx = Dedup.buildSpanIndex(docs.filter(!newPred),
          "doc_id", "text", windowWords = 10, hashKeys = true)
        corpusIdx.keys.write.mode("overwrite").parquet(keysPath)
        corpusIdx.ids.write.mode("overwrite").parquet(idsPath)
        Dedup.releaseCaches()
        val stored = Dedup.SpanIndex(Tables.parquet(spark, keysPath),
          Tables.parquet(spark, idsPath), windowWords = 10,
          hashedKeys = true)
        val nNew = docs.filter(newPred).count()
        rows += measureOp("sliding_incremental", m, nNew) {
          Dedup.slidingSpanDedupIncremental(stored,
            docs.filter(newPred), "doc_id", "text")._1
        }
      }
      // exact set-similarity joins (PPJoin prefix filter). Two
      // measurements, because the synthesized corpus's near-dup
      // FAMILIES grow with m (each original gains 0.2·m close
      // replicas) and an exact join's output is quadratic in family
      // size — at large m the raw corpus benchmarks output volume,
      // not the operator:
      //  (1) the skew story, on the raw corpus: prefixBucketStats is
      //      the pre-flight that exposes the template buckets (the sf
      //      docs are themselves heavily templated — top buckets hold
      //      ~75% of the corpus and the t=0.9 join's output is ~1M
      //      TRUE pairs at m=1 — irreducible: exactness must emit
      //      every qualifying pair, no skew cap is sound). The join
      //      itself runs at m=1 only; the stats (linear) run at every
      //      m.
      //  (2) algorithmic scaling, on a FIXED-family-size fixture
      //      (groups of 4 sharing a 24-token body; one member is a
      //      pure subset, the rest carry a unique marker — the same
      //      templated-fixture approach as edit_join): families stay
      //      size-4 at every m, so candidates and output grow
      //      LINEARLY and the matrix isolates the operator's own
      //      cost. Jaccard within a family: 0.92-0.96 (caught at
      //      t=0.9); cross-family token overlap: zero.
      def famCorpus(n: Long) = spark.range(n).select(col("id"),
        concat_ws(" ",
          concat_ws(" ", transform(sequence(lit(0), lit(23)),
            j => concat(lit("t"), (col("id") / 4).cast("long"),
              lit("x"), j))),
          when(col("id") % 4 =!= 0, concat(lit("m"), col("id"))))
          .as("text"))
      val nFam = 20000L * m
      if (opEnabled("set_sim_join")) {
        rows += measureOp("set_sim_stats", m, nDocs) {
          graft.operators.SetJoin
            .prefixBucketStats(docs, "doc_id", "text", 0.9)
        }
        val top = graft.operators.SetJoin
          .prefixBucketStats(docs, "doc_id", "text", 0.9)
          .limit(3).collect()
          .map(r => s"${r.getString(0)}=${r.getLong(1)}")
        Dedup.releaseCaches()
        println(s"-- x$m top prefix buckets (raw corpus): " +
          top.mkString(", "))
        if (m == 1) rows += measureOp("set_sim_join_raw", m, nDocs) {
          graft.operators.SetJoin.jaccardJoin(docs, "doc_id", "text",
            threshold = 0.9)
        }
        rows += measureOp("set_sim_join", m, nFam) {
          graft.operators.SetJoin.jaccardJoin(famCorpus(nFam), "id",
            "text", threshold = 0.9)
        }
      }
      // containment on the same fixed-family fixture: at t=1.0 only
      // the subset member is inside its siblings (3 ordered pairs per
      // family); at t=0.8 every within-family ordered pair qualifies
      // (~13/family) and prefixes LENGTHEN from 1 to ~6 tokens — the
      // documented low-threshold cost growth, measured
      if (opEnabled("containment_join")) {
        rows += measureOp("containment_join", m, nFam) {
          graft.operators.SetJoin.containmentJoin(famCorpus(nFam),
            "id", "text", threshold = 1.0)
        }
        rows += measureOp("containment_join_t08", m, nFam) {
          graft.operators.SetJoin.containmentJoin(famCorpus(nFam),
            "id", "text", threshold = 0.8)
        }
      }
      // weight-balanced shard assignment: distributed rank (range
      // exchange + per-partition window + broadcast offsets) — wall
      // and shuffle must track rows linearly with NO single-partition
      // stage (the numPartitions-row offsets collect is constant).
      // Synthetic (id, weight) stream so ×100 ranks 10^8 rows — the
      // scale the operator exists for, where the old global window
      // was one task sorting the world
      if (opEnabled("shard_balance")) {
        val n = 1000000L * m
        rows += measureOp("shard_balance", m, n) {
          graft.operators.Sampling.assignBalancedShards(
            spark.range(n).select(col("id"),
              pmod(xxhash64(col("id")), lit(1000000L)).as("w")),
            "id", "w", nShards = 64)
        }
      }
      // skew-salted join: `source` is a natural hot key (the clone
      // army concentrates in few sources); dim = the distinct sources
      if (opEnabled("salted_join")) rows += measureOp("salted_join", m, nDocs) {
        val dim = docs.select(col("source").as("src")).distinct()
          .withColumn("src_tag", xxhash64(col("src")))
        graft.operators.Joins.saltedJoin(
          docs.select(col("doc_id"), col("source")), "source",
          dim, "src", saltBuckets = 16,
          hotThreshold = (nDocs / 50) max 100)
      }
      // BPE training at scale: the replicated corpus's replica-salted
      // tokens grow the DISTINCT-WORD table ~linearly with m — the
      // WORST case for the Heaps-law sizing claim, deliberately: per-
      // round cost must track distinct words, never raw corpus rows,
      // and the 8-round loop's per-round cache swap must keep total
      // work O(rounds), not O(rounds²)
      if (opEnabled("bpe_train")) {
        println(s"-- x$m bpe_train ...")
        val t0 = System.nanoTime()
        val bpeModel = graft.text.Bpe.learnMerges(docs, "text",
          nMerges = 8)
        val sec = (System.nanoTime() - t0) / 1e9
        rows += Measurement(m, "bpe_train", nDocs,
          bpeModel.merges.length.toLong, sec, -1, -1, -1, usedHeapMB())
        println(f"-- x$m bpe_train: ${bpeModel.merges.length} merges, " +
          f"$sec%.2f s")
        // segmentation with the just-learned table: a narrow fold map
        // + one subword-count shuffle — wall must track corpus rows
        if (opEnabled("bpe_segment"))
          rows += measureOp("bpe_segment", m, nDocs) {
            graft.text.Bpe.subwordVocab(docs, "text", bpeModel)
          }
      }
      // BM25: term filter upstream of the (doc,term) shuffle means
      // shuffle volume tracks MATCHES (only base-corpus docs carry the
      // query terms — the replica-salted tokens can't match), while
      // the scan tracks the corpus
      if (opEnabled("bm25")) rows += measureOp("bm25", m, nDocs) {
        graft.text.Retrieval.bm25(docs, "doc_id", "text",
          terms = Seq("spark", "vector", "merge"), topK = 25)
      }
      // two-stage retrieval: the rerank's token-pair stage is bounded
      // by candidates (25) x |query| x candidate-doc tokens — CONSTANT
      // in m — so the op's wall must converge to the BM25 row above
      // as m grows (the retriever is the only corpus-linear stage)
      if (opEnabled("maxsim_rerank"))
        rows += measureOp("maxsim_rerank", m, nDocs) {
          graft.text.Retrieval.maxSimRerank(docs, "doc_id", "text",
            Seq("spark", "vector", "merge"), candidates = 25, topK = 10)
        }
      // sliding chunking: shuffle-free narrow generator — wall must
      // track rows with ZERO shuffle bytes at every scale
      if (opEnabled("chunk_sliding"))
        rows += measureOp("chunk_sliding", m, nDocs) {
          graft.text.Retrieval.chunkSliding(docs, "doc_id", "text",
            size = 40, stride = 30)
        }
      // SemDeDup at scale: centroid count grows with the corpus
      // (k ≈ √n, capped) so expected cell size — hence per-cell pair
      // work — stays bounded; the claim is sub-quadratic total wall
      if (opEnabled("semantic_dedup")) {
        // k ≈ √n UNCAPPED in the working range — the first run of this
        // matrix capped k at 64 and ×100 collapsed into 3k-vector
        // cells (225 s of in-cell pairs); the NearestCentroid native
        // expression removed the plan-size ceiling that forced the cap
        val k = math.min(1024, math.max(16, math.sqrt(nVecs.toDouble).toInt))
        println(s"-- x$m semantic_dedup (k=$k) ...")
        val t0 = System.nanoTime()
        val semModel = Ivf.train(embs, "vec_id", "embedding",
          k = k, iters = 2)
        println(f"-- x$m semantic_dedup train: " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
        rows += measureOp("semantic_dedup", m, nVecs) {
          Dedup.semanticDedup(embs, "vec_id", "embedding", semModel,
            threshold = 0.99)
        }
      }
      // incremental minhash dedup: the corpus (95%) is pre-indexed
      // OUTSIDE the measured window (the once-ever cost); the
      // measured op dedupes the 5% batch against the stored index.
      // The claim: batch dedup cost tracks the BATCH + the index's
      // band triples, not the corpus text — compare with the
      // minhash_pairs row, which re-shingles everything every run
      if (opEnabled("minhash_incremental")) {
        val newPred = col("doc_id") % 20 === 0
        println(s"-- x$m minhash_incremental (indexing corpus) ...")
        val idxShPath = s"$workRoot/incidx_sh_x$m"
        val idxBdPath = s"$workRoot/incidx_bd_x$m"
        val corpusIdx = Dedup.buildMinHashIndex(
          docs.filter(!newPred), "doc_id", "text")
        corpusIdx.shingles.write.mode("overwrite").parquet(idxShPath)
        corpusIdx.bands.write.mode("overwrite").parquet(idxBdPath)
        Dedup.releaseCaches()
        val stored = Dedup.MinHashIndex(
          Tables.parquet(spark, idxShPath), Tables.parquet(spark, idxBdPath))
        val nNew = docs.filter(newPred).count()
        rows += measureOp("minhash_incremental", m, nNew) {
          Dedup.incrementalMinHashPairs(stored, docs.filter(newPred),
            "doc_id", "text", threshold = 0.5)
        }
      }
      // RAG retrieval end-to-end: chunk → hash-embed → cosine top-10
      // (the q_rag_search shape). Single-scan narrow pipeline ending
      // in TakeOrdered — ZERO shuffle at every scale; wall tracks
      // rows, only 10 rows ever leave the executors
      if (opEnabled("rag_search")) rows += measureOp("rag_search", m, nDocs) {
        import graft.text.{Retrieval, TextAnalysis => TA}
        val spark2 = docs.sparkSession
        val qv = spark2.range(1).select(Retrieval.hashEmbed(
            TA.tokens(lit("spark vector hash join table")), 64).as("v"))
          .head().getSeq[Double](0)
        Retrieval.chunkSliding(docs, "doc_id", "text", 40, 30)
          .select(col("doc_id"), col("chunk_id"),
            graft.functions.VectorFunctions.cosine_sim(
              Retrieval.hashEmbed(TA.tokens(col("chunk_text")), 64),
              typedLit(qv)).as("cosine"))
          .orderBy(col("cosine").desc, col("doc_id"), col("chunk_id"))
          .limit(10)
      }
      // ordered funnel: three conditional-min window passes over one
      // user-key shuffle — the user population scales with m, per-user
      // partitions stay constant-size
      if (opEnabled("funnel")) rows += measureOp("funnel", m, nEvts) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
        Tables.parquet(spark, evtsPath)
          .select(col("user_id"), col("ts"), col("event_type"))
          .withColumn("t1",
            min(when(col("event_type") === "view", col("ts"))).over(w))
          .withColumn("t2", min(when(col("event_type") === "click" &&
            col("ts") > col("t1"), col("ts"))).over(w))
          .withColumn("t3", min(when(col("event_type") === "purchase" &&
            col("ts") > col("t2"), col("ts"))).over(w))
          .groupBy(col("user_id"))
          .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
            max(col("t3")).as("t3"))
          .agg(count(col("t1")), count(col("t2")), count(col("t3")))
      }
      // cohort retention: distinct user-day activity, first-seen
      // cohort join, all-integer aggregation
      if (opEnabled("retention_cohorts"))
        rows += measureOp("retention_cohorts", m, nEvts) {
          val e = Tables.parquet(spark, evtsPath)
            .select(col("user_id"), to_date(col("ts")).as("day"))
            .distinct()
          val cohort = e.groupBy(col("user_id"))
            .agg(min(col("day")).as("cohort_day"))
          e.join(cohort, Seq("user_id"))
            .select(col("user_id"), col("cohort_day"),
              floor(datediff(col("day"), col("cohort_day")) / lit(7.0))
                .cast("int").as("week_offset"))
            .distinct()
            .groupBy(col("cohort_day"), col("week_offset"))
            .agg(count(lit(1)).as("n_users"))
        }
      // SCD2 historize over the replicated event log: one shuffle on
      // the user key, two shared-window passes — wall must track rows,
      // shuffle bytes must track rows, no spill (per-user partitions
      // stay small because the user population scales with m)
      if (opEnabled("scd2_historize"))
        rows += measureOp("scd2_historize", m, nEvts) {
          graft.model.Scd2.historize(
            Tables.parquet(spark, evtsPath)
              .select("user_id", "ts", "event_id", "event_type"),
            keyCols = Seq("user_id"), stateCols = Seq("event_type"),
            tsCol = "ts", tieCols = Seq("event_id"))
        }
      // bounded-gap interval join (the batch shape of the streaming
      // click→conversion join, q_stream_join/q_range_join_pairs): the
      // time-bin band-join rewrite joins only on the equi-key
      // (user, bin) — no range cross product; with the user population
      // scaling and per-user density constant, pairs must grow
      // linearly in the corpus
      if (opEnabled("interval_join")) rows += measureOp("interval_join", m, nEvts) {
        graft.operators.Temporal.boundedGapSelfJoin(
          Tables.parquet(spark, evtsPath), "user_id", "ts", "event_id",
          maxGapUs = 2L * 3600 * 1000000)
      }
      // join-cardinality pre-flight at scale: the self-join it
      // predicts is event-quadratic PER USER (constant density ->
      // linear total), but the PREDICTION costs two per-key count
      // aggregations — shuffle = distinct users, wall must track rows
      // with a far smaller constant than running any join
      if (opEnabled("join_cardinality"))
        rows += measureOp("join_cardinality", m, nEvts) {
          graft.operators.Joins.joinCardinality(
            Tables.parquet(spark, evtsPath), "user_id",
            Tables.parquet(spark, evtsPath), "user_id")
        }
      // the sketch-preflight twin of join_cardinality: price the
      // same self-join from two O(k) key-count samples. The cost is
      // ONE map-side-combined count per side + a bounded sketch agg;
      // at 100 TB the sketches persist with the table and re-pricing
      // any later join is O(k) array math with no scan at all
      if (opEnabled("join_preflight_sketch"))
        rows += measureOp("join_preflight_sketch", m, nEvts) {
          import graft.functions.KmvFunctions._
          def cnts = Tables.parquet(spark, evtsPath)
            .groupBy(col("user_id"))
            .agg(count(lit(1)).cast("double").as("c"))
            .select(kmv_hash48(col("user_id")).as("h"), col("c"))
          val sa = cnts.agg(kmv_sample(col("h"), col("c"), 1024).as("s"))
            .select(col("s").as("sa"))
          val sb = cnts.agg(kmv_sample(col("h"), col("c"), 1024).as("s"))
            .select(col("s").as("sb"))
          sa.crossJoin(sb).select(
            kmv_join_size(col("sa"), col("sb"), 1024).as("est_pairs"))
        }
      // edit-distance similarity join over templated ids — the
      // LOW-ENTROPY corpus (every string shares a prefix), i.e. the
      // hard case for segment blocking. After the LCP strip the
      // remainder's digit entropy grows with the corpus, so candidate
      // count — hence wall and shuffle — must track rows roughly
      // linearly, never quadratically.
      // the group key `edit_join` enables all three; the per-op keys
      // (edit_join_k1/_k2/_lookup) let a ×100 run take k=1 alone —
      // k=2 at ×100 is output-bound at ~15.8B true pairs and measures
      // the answer set, not the operator
      if (opEnabled("edit_join") || opEnabled("edit_join_k1") ||
          opEnabled("edit_join_k2") || opEnabled("edit_join_lookup") ||
          opEnabled("edit_join_preflight")) {
        val n = 30000L * m
        // the answer-set pre-flight at the CLIFF threshold (k=2): two
        // map-side-combined per-key counts + a distinct-key join —
        // wall must stay near-flat (input-linear scan, key-sized
        // shuffle) while the k=2 join it prices is output-bound
        if (opEnabled("edit_join") || opEnabled("edit_join_preflight"))
        rows += measureOp("edit_join_preflight", m, n) {
          graft.operators.EditJoin.estimatePairs(
            spark.range(n).select(col("id"),
              format_string("user-%08d", col("id")).as("name")),
            "id", "name", maxDist = 2)
        }
        if (opEnabled("edit_join") || opEnabled("edit_join_k1"))
        rows += measureOp("edit_join", m, n) {
          graft.operators.EditJoin.selfJoin(
            spark.range(n).select(col("id"),
              format_string("user-%08d", col("id")).as("name")),
            "id", "name", maxDist = 1)
        }
        // k=2: probe fan-out is (k+1)(2k+1)² = 75 segment lookups per
        // string vs 27 at k=1, and on 8-digit templated ids the
        // threshold admits ~2.3k true neighbors per string — the
        // OUTPUT-bound regime. The cell now exercises the
        // rerouteAbove escape hatch END TO END: at ×1 the pre-flight
        // prices ~327M candidate equi-matches (< the 1B cap) and the
        // EXACT pigeonhole join runs — still measuring the
        // first-match candidate dedup (no output-sized distinct
        // exchange, r11's 41 GB ×10 spill source); at ×10 it prices
        // ~11.8B (> cap) and selfJoin self-reroutes to MinHash
        // candidates + banded-levenshtein verify WITHOUT the caller
        // reading SCALING.md — wall then tracks the bucket-capped
        // candidate volume, not the ~158M-pair exact answer set.
        // Read the ×10 row's near-zero rows-out as the contract, not
        // a bug: precision stays exact (every emitted pair verified)
        // but on a pure digit-tail corpus maxDist=2 sits BELOW
        // jaccard resolution (2 edits in a ~6-char stripped tail
        // leave ~no shared shingles) and every bucket overflows into
        // star-links, so recall collapses — the documented boundary
        // (minHashSelfJoin scaladoc): the reroute bounds COST for
        // dedup-style callers; answer-set-complete callers must use
        // maxPairs refusal and pay the exact output-bound price.
        if (opEnabled("edit_join") || opEnabled("edit_join_k2"))
        rows += measureOp("edit_join_k2", m, n) {
          graft.operators.EditJoin.selfJoin(
            spark.range(n).select(col("id"),
              format_string("user-%08d", col("id")).as("name")),
            "id", "name", maxDist = 2,
            rerouteAbove = Some(1000000000L))
        }
        // cross-table lookup: n scraped ids against an n/2-row
        // canonical catalog whose entries drop the last character —
        // every catalog row matches its source + digit-tail
        // neighbors, so output tracks rows linearly and the wall must
        // too (same one-sided PassJoin shuffle as the self-join,
        // minus the symmetrization)
        if (opEnabled("edit_join") || opEnabled("edit_join_lookup"))
        rows += measureOp("edit_join_lookup", m, n) {
          graft.operators.EditJoin.join(
            spark.range(n).select(col("id"),
              format_string("user-%08d", col("id")).as("name")),
            "id", "name",
            spark.range(n / 2).select(col("id"),
              expr("substring(format_string('user-%08d', id), 1, 12)")
                .as("name")),
            "id", "name", maxDist = 1)
        }
      }
      // perceptual image dedup: n synthetic 9×8 PNGs — groups of 4
      // near-identical images over SCRAMBLED (hash-mixed) pixels, so
      // group hashes are uniform over the 64-bit space like a real
      // photo corpus's dHashes (the oracle query's SQL-replayable
      // LINEAR-gradient fixture is wrong here: linear patterns share
      // comparison structure, near-pairs grow superlinearly, and the
      // measurement becomes an output benchmark). REAL encode +
      // ImageIO decode + dHash + pigeonhole join at production
      // banding (maxHamming=3 → 4 chunks of 16 bits). Decode wall
      // must track rows linearly (dominant cost, embarrassingly
      // parallel); pairs out ≈ 6 per group — output-linear.
      if (opEnabled("image_near_dup")) {
        val n = 2000L * m
        rows += measureOp("image_near_dup", m, n) {
          val gen = udf { id: Long =>
            val img = new java.awt.image.BufferedImage(9, 8,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val mm = (id % 4).toInt
            val p = id / 4
            for (y <- 0 until 8; x <- 0 until 9) {
              var h = p * 0x9E3779B97F4A7C15L + x * 0xC2B2AE3D27D4EB4FL +
                y * 0x165667B19E3779F9L
              h ^= h >>> 29; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 32
              val base = ((h % 251 + 251) % 251).toInt
              val v = if (mm > 0 && x == 2 * mm && y == mm)
                (base + 128) % 251 else base
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
            }
            graft.multimodal.MediaIoDefaults.ensure()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            bos.toByteArray
          }
          val media = spark.range(n)
            .repartition(spark.sparkContext.defaultParallelism)
            .select(col("id"), gen(col("id")).as("bytes"))
          graft.multimodal.Multimodal.imageNearDup(spark, media, "id",
            "bytes", maxHamming = 3)
        }
      }
      // PageRank over a synthesized uniform random graph (100k×m
      // nodes, 1M×m edges): per iteration one rank-edge equi-join +
      // one decimal-summed aggregation — wall and shuffle must track
      // edges linearly across the matrix; the edge list materializes
      // once (not once per iteration)
      if (opEnabled("pagerank")) {
        val nNodes = 100000L * m
        val nEdges = 1000000L * m
        rows += measureOp("pagerank", m, nEdges) {
          graft.graph.Graph.pageRank(
            spark.range(nEdges).select(
              pmod(xxhash64(col("id")), lit(nNodes)).as("src"),
              pmod(xxhash64(col("id"), lit(1)), lit(nNodes)).as("dst")),
            iters = 3)
        }
      }
      // triangles + lcc over the same uniform graph PLUS a planted
      // 50k×m-degree supernode: constant average degree keeps wedges
      // m-linear, and the hub — C(50k·m, 2) ≈ 1.25e9·m² wedges if
      // naively centered — must contribute ~none (degree orientation
      // points nearly every hub edge AT the hub). Wall tracking m
      // linearly IS the hub-safety proof.
      if (opEnabled("triangles")) {
        val nNodes = 100000L * m
        val nEdges = 1000000L * m
        val nHub = 50000L * m
        // slice the synthetic range so map tasks stay ~1M rows: the
        // operator's first distinct() partially aggregates per map
        // task, and 32 giant range slices would hand each task a
        // multi-million-key hash map (the range analog of
        // maxPartitionBytes, which governs only file scans)
        val slices = (32 * m).max(32)
        rows += measureOp("triangles", m, nEdges + nHub) {
          graft.graph.Graph.triangleStats(
            spark.range(0, nEdges, 1, slices).select(
              pmod(xxhash64(col("id")), lit(nNodes)).as("src"),
              pmod(xxhash64(col("id"), lit(2)), lit(nNodes)).as("dst"))
            .unionAll(spark.range(0, nHub, 1, slices)
              .select(lit(0L).as("src"),
                pmod(xxhash64(col("id"), lit(3)), lit(nNodes))
                  .as("dst"))))
        }
      }
      // fixed-grid resample with gap fill: the synthesized user
      // population scales with m over a constant one-month span, so
      // grid rows (keys × span) and wall must track m linearly; the
      // only raw-table pass is the bucket aggregation
      if (opEnabled("resample")) rows += measureOp("resample", m, nEvts) {
        graft.operators.Temporal.resample(
          Tables.parquet(spark, evtsPath), "user_id", "ts", "hour",
          aggs = Seq(count(lit(1)).as("n0"),
            sum(col("value")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
              .cast("double").as("v")),
          fillCols = Seq("v"))
      }
      // checkpointed streaming drain: the synthesized events consumed
      // as a file STREAM and landed to a partitioned silver table
      // through the ledgered foreachBatch sink (StreamingIngest
      // .sinkToSilver — dynamic partition overwrite per batch). The
      // scale question is drain throughput: wall must track rows
      // (file discovery, state, and ledger are per-batch constants)
      if (opEnabled("stream_drain")) {
        println(s"-- x$m stream_drain ...")
        val tbl = "scale_stream_drain"
        val samples = (1 to runsPerOp).map { _ =>
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          // durable warehouse dir may hold an orphan location from a
          // previous run whose catalog entry is gone — clear it
          val loc = new org.apache.hadoop.fs.Path(
            spark.sessionState.catalog.defaultTablePath(
              spark.sessionState.sqlParser.parseTableIdentifier(tbl)))
          val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
          if (fs.exists(loc)) fs.delete(loc, true)
          val ckpt = graft.util.TempDirs.create("scale-drain-ckpt").toString
          val raw = spark.readStream
            .schema(Tables.parquetSchema(spark, evtsPath))
            .option("maxFilesPerTrigger", 1000).parquet(evtsPath)
          val evts = raw.withColumn("ingest_on", to_date(col("ts")))
          val t0 = System.nanoTime()
          graft.streaming.StreamingIngest.sinkToSilver(evts, spark, tbl, ckpt)
          (System.nanoTime() - t0) / 1e9
        }
        val rowsOut = spark.table(tbl).count()
        rows += Measurement(m, "stream_drain", nEvts, rowsOut,
          samples.min, -1, -1, -1, usedHeapMB())
        println(f"-- x$m stream_drain: $rowsOut rows, ${samples.min}%.2f s")
      }
      // transformWithState per-key quota at scale: the synthesized
      // events carry DISJOINT per-replica user spaces, so the RocksDB
      // state key population grows ×m while per-key state stays one
      // long — the scale question is whether state growth (disk +
      // memory) is linear in keys and whether per-micro-batch
      // update/commit times stay flat as the store fills.
      // maxFilesPerTrigger forces multiple micro-batches so commit
      // times are sampled against a GROWING store, not one bulk load.
      if (opEnabled("stream_quota")) {
        println(s"-- x$m stream_quota ...")
        val root = graft.util.TempDirs.create(s"scale-quota-x$m").toString
        val prev = spark.conf.getOption(
          "spark.sql.streaming.stateStore.providerClass")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider")
        try {
          import spark.implicits._
          val raw = spark.readStream
            .schema(Tables.parquetSchema(spark, evtsPath))
            .option("maxFilesPerTrigger", 4).parquet(evtsPath)
          val evts = raw.select(col("event_id"), col("user_id"))
            .as[(Long, Long)]
          val capped = graft.streaming.StatefulOps.capPerKey(
            evts, (e: (Long, Long)) => e._2, maxPerKey = 50L)
          val t0 = System.nanoTime()
          val q = capped.toDF().writeStream
            .outputMode("append").format("parquet")
            .option("path", s"$root/out")
            .option("checkpointLocation", s"$root/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          val wall = (System.nanoTime() - t0) / 1e9
          val rowsOut = Tables.parquet(spark, s"$root/out").count()
          rows += Measurement(m, "stream_quota", nEvts, rowsOut, wall,
            -1, -1, -1, usedHeapMB())
          // per-batch state metrics off the progress log: keys in
          // store at end, update/commit wall per micro-batch, and the
          // provider's own memory figure
          val progs = q.recentProgress.toSeq
            .filter(_.stateOperators.nonEmpty)
          val ops = progs.map(_.stateOperators.head)
          val keysEnd = ops.map(_.numRowsTotal).max
          val commitMs = ops.map(_.commitTimeMs)
          val updateMs = ops.map(_.allUpdatesTimeMs)
          val memMB = ops.map(_.memoryUsedBytes).max / 1048576.0
          // on-disk checkpoint state (RocksDB sst snapshots + changelog)
          val statePath = java.nio.file.Paths.get(s"$root/ckpt/state")
          val stateDiskMB =
            if (java.nio.file.Files.isDirectory(statePath)) {
              val s = java.nio.file.Files.walk(statePath)
              try s.filter(java.nio.file.Files.isRegularFile(_))
                .mapToLong(java.nio.file.Files.size(_)).sum / 1048576.0
              finally s.close()
            } else -1.0
          quotaReports += f"x$m stream_quota: $nEvts events, " +
            f"$keysEnd keys, $rowsOut admitted, $wall%.2f s wall, " +
            f"${progs.size} batches, commit ms/batch " +
            f"med=${commitMs.sorted.apply(commitMs.size / 2)} " +
            f"max=${commitMs.max}, update ms/batch " +
            f"med=${updateMs.sorted.apply(updateMs.size / 2)} " +
            f"max=${updateMs.max}, state mem $memMB%.1f MB, " +
            f"state disk $stateDiskMB%.1f MB"
          println("-- " + quotaReports.last)
        } finally prev match {
          case Some(p) => spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset(
            "spark.sql.streaming.stateStore.providerClass")
        }
      }
      // bucket-cap observability: the boilerplate clone army should
      // surface as buckets at/above the cap (star-linked by the
      // overflow fallback, no longer dropped whole)
      if (opEnabled("bucket_stats")) {
        val stats = Dedup.bucketStats(docs, "doc_id", "text")
          .orderBy(col("bucket_size").desc).limit(5).collect()
        bucketReports += s"x$m top bucket sizes: " + stats.map(r =>
          s"${r.getLong(0)}×${r.getLong(1)}").mkString(", ")
      }
    }

    val header =
      "| × | op | rows in | rows out | wall s | shuffle MB | shuffle rows | spill MB | driver heap MB |"
    val sep = "|---|---|---|---|---|---|---|---|---|"
    def fmtD(d: Double) = if (d < 0) "–" else f"$d%.2f"
    def fmtL(l: Long) = if (l < 0) "–" else l.toString
    val lines = rows.map(r =>
      s"| ${r.multiplier} | ${r.op} | ${r.rowsIn} | ${r.rowsOut} | " +
      s"${fmtD(r.wallSec)} | ${fmtD(r.shuffleMB)} | ${fmtL(r.shuffleRecords)} | " +
      s"${fmtD(r.spillMB)} | ${r.driverHeapMB} |")
    val report = (Seq(header, sep) ++ lines ++ Seq("") ++
      bucketReports.map("- " + _) ++ quotaReports.map("- " + _))
      .mkString("\n")
    println(report)
    val reportPath = java.nio.file.Paths.get(s"$workRoot/report.md")
    java.nio.file.Files.createDirectories(reportPath.getParent)
    java.nio.file.Files.write(reportPath,
      report.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
