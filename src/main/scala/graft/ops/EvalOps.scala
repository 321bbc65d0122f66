package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ranking-quality evaluation for the retrieval surfaces (BM25 lexical,
  * ANN/dense, hybrid) — the measurement half a retrieval stack ships
  * with: given a run (q_id, rank, doc_id) and a relevance set
  * (q_id, doc_id), compute MRR, average precision, precision@k and
  * recall per query plus corpus-level micro aggregates.
  *
  * Hash-oracle strategy: reciprocal ranks and precision-at-i terms are
  * rationals with denominators in 1..k. Averaged naively in double they
  * are order-dependent (float addition), so every per-query metric is
  * carried as an EXACT integer scaled by lcm(1..10) = 2520 — 2520/rank
  * and 2520·hits/i are integers for every rank, i ≤ 10 — and summaries
  * divide ONCE at the end (a single IEEE division of exact integers is
  * deterministic across engines). The same discipline as the BM25
  * micro-unit scores and the RRF lcm fusion.
  *
  * Scale shape: the run is |q|·k rows (tiny, serving output); the
  * relevance pass is ONE corpus tokenization filtered to the broadcast
  * query vocabulary BEFORE any shuffle (the BM25 plan's trick), so at
  * 100 TB evaluation costs one filtered scan plus joins on |q|·k rows.
  * No window ever sees more than k rows per query. */
object EvalOps {

  /** lcm(1..10): scaling reciprocal ranks and P@i terms by this makes
    * them exact integers for every denominator ≤ 10. */
  val RrScale = 2520L

  private val K = RetrievalOps.TopK

  /** Conjunctive relevance: a document is relevant to a query iff it
    * contains EVERY query term — the boolean-AND judgment BM25 should
    * rank highest, recomputable exactly by the DuckDB oracle. The
    * distinct (doc, term) pass filters to the broadcast query
    * vocabulary before grouping, so the corpus never shuffles full
    * token lists. */
  def conjunctiveQrels(spark: SparkSession, dir: String,
      queries: Seq[(Int, String)] = RetrievalOps.DefaultQueries): DataFrame = {
    import spark.implicits._
    val vocab = queries.flatMap(_._2.split(" ")).distinct
    val qTerms = queries
      .flatMap { case (q, s) => s.split(" ").distinct.map(t => (q, t)) }
      .toDF("q_id", "term")
    val qSize = queries
      .map { case (q, s) => (q, s.split(" ").distinct.length.toLong) }
      .toDF("q_id", "n_terms")
    val docTerms = Tables.parallel(spark, dir, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term").isin(vocab: _*))
      .distinct()
    docTerms.join(broadcast(qTerms), Seq("term"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_match"))
      .join(broadcast(qSize), Seq("q_id"))
      .filter(col("n_match") === col("n_terms"))
      .select(col("q_id"), col("doc_id"))
  }

  /** Per-query ranking metrics of a (q_id, rank, doc_id) run against a
    * (q_id, doc_id) relevance set. Exact-integer columns: rr_scaled =
    * 2520/first_rel_rank (0 when nothing relevant retrieved) and
    * ap_scaled = Σ_{rel i} 2520·hits@i / i — both divisions are exact
    * because every denominator divides 2520, so the double arithmetic
    * they pass through cannot round. precision/recall are single
    * divisions of exact integers. Queries are taken from the RUN side:
    * a query the engine returned nothing for does not appear (the
    * summary's n_queries counts the run's queries). */
  def rankingMetrics(run: DataFrame, qrels: DataFrame, k: Int = K): DataFrame = {
    require(k <= 10, s"RrScale covers denominators 1..10, got k=$k")
    val w = Window.partitionBy(col("q_id")).orderBy(col("rank"))
    val marked = run.select(col("q_id"), col("rank"), col("doc_id"))
      .filter(col("rank") <= k)
      .join(qrels.select(col("q_id"), col("doc_id"), lit(1L).as("rel")),
        Seq("q_id", "doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
      .withColumn("hits_at", sum(col("rel")).over(w))
    val nRel = qrels.groupBy(col("q_id"))
      .agg(count(lit(1)).cast(IntegerType).as("n_rel"))
    marked.groupBy(col("q_id"))
      .agg(
        sum(col("rel")).cast(IntegerType).as("n_hit"),
        coalesce(min(when(col("rel") === 1L, col("rank"))), lit(0))
          .cast(IntegerType).as("first_rel_rank"),
        // exact: first_rel_rank divides 2520, so the double quotient is
        // the integer itself
        coalesce(sum(when(col("rel") === 1L,
            (lit(RrScale) * col("hits_at") / col("rank")).cast(LongType))),
          lit(0L)).as("ap_scaled"))
      .withColumn("rr_scaled",
        when(col("first_rel_rank") > 0,
          (lit(RrScale) / col("first_rel_rank")).cast(LongType))
          .otherwise(lit(0L)))
      .join(nRel, Seq("q_id"), "left")
      .withColumn("n_rel", coalesce(col("n_rel"), lit(0)))
      .select(col("q_id"), col("n_rel"), col("n_hit"), col("first_rel_rank"),
        col("rr_scaled"), col("ap_scaled"),
        (col("n_hit").cast(DoubleType) / k).as("precision_at_k"),
        when(col("n_rel") > 0, col("n_hit").cast(DoubleType) / col("n_rel"))
          .otherwise(lit(0.0)).as("recall"))
      .orderBy("q_id")
  }

  /** One-row corpus summary. MRR and MAP fold the per-query scaled
    * integers to a COMMON denominator before summing — ap_scaled has
    * per-query denominator 2520·min(n_rel, k), and min(n_rel, k) ≤ 10
    * divides 2520, so ap_scaled·(2520/min(n_rel,k)) is exact over
    * denominator 2520² — then divide once. recall/precision are micro
    * (summed counts, one division): macro averages of arbitrary-
    * denominator rationals are not representable exactly, so they live
    * in the per-query surface instead. */
  def summaryMetrics(run: DataFrame, qrels: DataFrame, k: Int = K): DataFrame =
    rankingMetrics(run, qrels, k)
      .withColumn("m", least(col("n_rel"), lit(k)))
      .withColumn("ap2",
        when(col("m") > 0,
          (col("ap_scaled") * (lit(RrScale) / col("m")).cast(LongType)))
          .otherwise(lit(0L)))
      .agg(
        count(lit(1)).cast(IntegerType).as("n_queries"),
        sum(col("n_rel")).cast(LongType).as("n_rel_total"),
        sum(col("n_hit")).cast(LongType).as("n_hit_total"),
        sum(col("rr_scaled")).as("rr_sum"),
        sum(col("ap2")).as("ap_sum"))
      .select(col("n_queries"), col("n_rel_total"), col("n_hit_total"),
        (col("rr_sum").cast(DoubleType) / (lit(RrScale.toDouble) * col("n_queries")))
          .as("mrr"),
        (col("ap_sum").cast(DoubleType)
          / (lit(RrScale.toDouble * RrScale) * col("n_queries"))).as("map_at_k"),
        when(col("n_rel_total") > 0,
          col("n_hit_total").cast(DoubleType) / col("n_rel_total"))
          .otherwise(lit(0.0)).as("micro_recall"),
        (col("n_hit_total").cast(DoubleType) / (col("n_queries") * k))
          .as("micro_precision"))

  // ---------------------------------------------------------------- NDCG

  /** Discount weights for NDCG@10: floor(1e12 / log2(rank+1)) for ranks
    * 1..10. The ONE transcendental (log2) runs here, once, at class
    * load; both the Spark plan and the DuckDB oracle receive these as
    * the same integer LITERALS (the PrefOps static-alphabet precedent),
    * so no runtime float can diverge between engines. grade·weight sums
    * stay far inside int64 (grade ≤ |query terms| ≤ 5, weight ≤ 1e12,
    * ≤ 10 terms per query). */
  val NdcgScale = 1000000000000L
  val NdcgW: IndexedSeq[Long] =
    (1 to 10).map(r => (NdcgScale / (math.log(r + 1.0) / math.log(2.0))).toLong)

  /** Prefix sums SW(i) = Σ_{r ≤ i} NdcgW(r), SW(0) = 0 — the ideal-DCG
    * lookup: a run of `c` equal-grade documents occupying ranks
    * (a, b] contributes grade · (SW(b) − SW(a)). */
  val NdcgSW: IndexedSeq[Long] = NdcgW.scanLeft(0L)(_ + _)

  /** Graded relevance: grade = number of DISTINCT query terms the
    * document contains (1..n_terms) — the natural graded judgment over
    * the conjunctive one ([[conjunctiveQrels]] is exactly grade =
    * n_terms). Same plan shape: corpus tokens filter to the broadcast
    * query vocabulary BEFORE the distinct + group, so the corpus never
    * shuffles full token lists. */
  def gradedQrels(spark: SparkSession, dir: String,
      queries: Seq[(Int, String)] = RetrievalOps.DefaultQueries): DataFrame = {
    import spark.implicits._
    val vocab = queries.flatMap(_._2.split(" ")).distinct
    val qTerms = queries
      .flatMap { case (q, s) => s.split(" ").distinct.map(t => (q, t)) }
      .toDF("q_id", "term")
    Tables.parallel(spark, dir, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term").isin(vocab: _*))
      .distinct()
      .join(broadcast(qTerms), Seq("term"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("grade"))
  }

  /** NDCG@k of a (q_id, rank, doc_id) run against graded qrels. DCG and
    * ideal DCG are EXACT int64 (grades × literal integer weights); ndcg
    * is their single IEEE division — deterministic across engines.
    *
    * The ideal ranking never sorts documents: grades live in a tiny
    * domain (1..n_terms), so IDCG folds over the per-(query, grade)
    * COUNT table — the run of c docs at grade g fills ranks
    * (cum−c, cum] and contributes g·(SW(min(cum,k)) − SW(min(cum−c,k))).
    * The only window orders ≤ |grade domain| rows per query; the
    * grade-count table itself is a map-side-combinable aggregate, so no
    * operator ever materializes the per-document relevance list in one
    * task — the discPercentiles frequency-table argument applied to
    * ranking evaluation. */
  def ndcgMetrics(run: DataFrame, graded: DataFrame, k: Int = K): DataFrame = {
    require(k <= 10, s"NdcgW covers ranks 1..10, got k=$k")
    val wArr = typedLit[Seq[Long]](NdcgW)
    val swArr = typedLit[Seq[Long]](NdcgSW)
    def swAt(i: Column): Column =
      element_at(swArr, (least(i, lit(k.toLong)) + lit(1L)).cast(IntegerType))
    val dcg = run.select(col("q_id"), col("rank"), col("doc_id"))
      .filter(col("rank") <= k)
      .join(graded, Seq("q_id", "doc_id"), "left")
      .withColumn("grade", coalesce(col("grade"), lit(0L)))
      .groupBy(col("q_id"))
      .agg(sum(col("grade") * element_at(wArr, col("rank").cast(IntegerType)))
        .as("dcg_scaled"))
    val gradeCounts = graded.groupBy(col("q_id"), col("grade"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("grade").desc)
    val idcg = gradeCounts
      .withColumn("cum", sum(col("c")).over(w))
      .groupBy(col("q_id"))
      .agg(sum(col("grade") * (swAt(col("cum")) - swAt(col("cum") - col("c"))))
        .as("idcg_scaled"))
    dcg.join(idcg, Seq("q_id"))
      .select(col("q_id"), col("dcg_scaled"), col("idcg_scaled"),
        coalesce(col("dcg_scaled").cast(DoubleType) /
          nullif(col("idcg_scaled").cast(DoubleType), lit(0.0)), lit(0.0))
          .as("ndcg"))
      .orderBy("q_id")
  }

  /** One-row macro NDCG summary. Per-query ndcg doubles are
    * bit-identical across engines (exact ints + one division), but a
    * SUM over them is order-dependent, so the mean folds them as a
    * left-associated chain in the STATIC query order (the
    * Bradley–Terry discipline) — the oracle parenthesizes identically. */
  def ndcgSummary(run: DataFrame, graded: DataFrame,
      queries: Seq[(Int, String)] = RetrievalOps.DefaultQueries,
      k: Int = K): DataFrame = {
    val per = ndcgMetrics(run, graded, k)
    val picks = queries.map { case (q, _) =>
      coalesce(max(when(col("q_id") === q, col("ndcg"))), lit(0.0))
    }
    val chain = picks.reduceLeft(_ + _)
    // n_queries is the mean's ACTUAL denominator (the static query
    // set — absent queries count as 0); n_scored separately reports
    // how many queries produced a per-query row, so the two columns
    // can never silently disagree about what the mean divides by
    per.agg(
      lit(queries.size).cast(IntegerType).as("n_queries"),
      count(lit(1)).cast(IntegerType).as("n_scored"),
      (chain / lit(queries.size.toDouble)).as("mean_ndcg"))
  }

  // ----------------------------------------------------------------- RBO

  /** Rank-biased overlap depth (= the serving top-k). */
  val RboK = 10

  /** Entry weights for RBO@10 with persistence p = 1/2 — the dyadic
    * choice that makes the whole metric EXACT integer arithmetic: with
    * p = 1/2, RBO = (1−p)·Σ_{d=1..k} p^{d−1}·X_d/d where X_d is the
    * prefix-intersection size at depth d. A matched document entering
    * the intersection at depth m (= max of its two ranks) contributes
    * to every X_d, d ≥ m, so its total weight is
    * W(m) = Σ_{d=m..k} 2^{k−d}·(2520/d) — an integer for every d ≤ 10
    * (2520 = lcm(1..10), 2^{k−d} dyadic). Per-query scaled score
    * s = Σ_matches W(m) is one map-side-combinable int64 sum — NO
    * window, no per-depth pass — and rbo = s / (2^k·2520) is a single
    * IEEE division of exact integers. Identical runs score exactly
    * 1023/1024 (= 1 − 2^{−k}; the p-truncation mass), disjoint runs 0. */
  val RboW: IndexedSeq[Long] = {
    def term(d: Int): Long = (1L << (RboK - d)) * (RrScale / d)
    (1 to RboK).map(m => (m to RboK).map(term).sum)
  }

  /** The exact-integer denominator 2^k · 2520. */
  val RboDenom: Long = (1L << RboK) * RrScale

  /** Per-query RBO@10 between two (q_id, rank, doc_id) runs — the
    * "how much did the serving path change the ranking" readout a
    * retrieval stack reads when it flips BM25 → hybrid or adds query
    * expansion (Webber et al. 2010, truncated prefix form). Queries
    * with zero overlap report 0 (the static query list backfills, so
    * the output is total).
    *
    * Scale shape: one |q|·k ⋈ |q|·k equi join on (q_id, doc_id) —
    * serving-output sized, broadcastable — then a map-side-combinable
    * sum into |q| rows. */
  def rboPerQuery(runA: DataFrame, runB: DataFrame,
      queries: Seq[(Int, String)] = RetrievalOps.DefaultQueries): DataFrame = {
    val spark = runA.sparkSession
    import spark.implicits._
    val wArr = typedLit[Seq[Long]](RboW)
    def side(run: DataFrame, r: String) = run
      .filter(col("rank") <= RboK)
      .select(col("q_id"), col("doc_id"), col("rank").as(r))
    val perQuery = side(runA, "rank_a")
      .join(side(runB, "rank_b"), Seq("q_id", "doc_id"))
      .select(col("q_id"),
        element_at(wArr,
          greatest(col("rank_a"), col("rank_b")).cast(IntegerType)).as("w"))
      .groupBy(col("q_id"))
      .agg(sum(col("w")).as("s_scaled"))
    queries.map(_._1).toDF("q_id")
      .join(perQuery, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("s_scaled"), lit(0L)).as("s_scaled"),
        (coalesce(col("s_scaled"), lit(0L)).cast(DoubleType)
          / lit(RboDenom.toDouble)).as("rbo"))
      .orderBy("q_id")
  }

  /** The two JUDGMENT TABLES (graded / conjunctive qrels), memoized per
    * (session, data dir, kind) — the eval fixture every metric entry
    * judges against. In a real harness qrels are a bounded, pooled
    * artifact shipped once per eval set; here each of the eight qrels
    * consumers re-derived it with its own full corpus explode+distinct
    * pass (~1 s warm at sf0.1). Size is |docs matching any query term| —
    * the materialized-fixture trade [[graft.ops.GraphOps]]' shared edges
    * already make, on a far smaller relation. */
  private def sharedGradedQrels(spark: SparkSession, dir: String): DataFrame =
    SessionMemo(spark, "eval.qrels", (dir, "graded"))(
      gradedQrels(spark, dir).localCheckpoint())

  private def sharedConjunctiveQrels(spark: SparkSession, dir: String): DataFrame =
    SessionMemo(spark, "eval.qrels", (dir, "conjunctive"))(
      conjunctiveQrels(spark, dir).localCheckpoint())

  private def run(spark: SparkSession, dir: String, which: String): DataFrame =
    RetrievalOps.sharedRun(spark, dir, which)

  /** BM25 vs the RRF hybrid — how far fusion moved the served list. */
  def bm25RrfRbo(spark: SparkSession, dir: String): DataFrame =
    rboPerQuery(run(spark, dir, "bm25"), run(spark, dir, "rrf"))

  /** BM25 vs its PRF-expanded round — how far expansion moved it. */
  def bm25PrfRbo(spark: SparkSession, dir: String): DataFrame =
    rboPerQuery(run(spark, dir, "bm25"), run(spark, dir, "prf"))

  def bm25NdcgPerQuery(spark: SparkSession, dir: String): DataFrame =
    ndcgMetrics(run(spark, dir, "bm25"), sharedGradedQrels(spark, dir))

  def bm25NdcgSummary(spark: SparkSession, dir: String): DataFrame =
    ndcgSummary(run(spark, dir, "bm25"), sharedGradedQrels(spark, dir))

  /** The RRF and PRF runs under the SAME graded judgment — the NDCG leg
    * of the three-way serving-path comparison (the binary-relevance leg
    * is [[rrfEvalSummary]]/[[prfEvalSummary]]). */
  def rrfNdcgSummary(spark: SparkSession, dir: String): DataFrame =
    ndcgSummary(run(spark, dir, "rrf"), sharedGradedQrels(spark, dir))

  def prfNdcgSummary(spark: SparkSession, dir: String): DataFrame =
    ndcgSummary(run(spark, dir, "prf"), sharedGradedQrels(spark, dir))

  /** The wired surfaces: the BM25 run judged against conjunctive
    * relevance. */
  def bm25EvalPerQuery(spark: SparkSession, dir: String): DataFrame =
    rankingMetrics(run(spark, dir, "bm25"), sharedConjunctiveQrels(spark, dir))

  def bm25EvalSummary(spark: SparkSession, dir: String): DataFrame =
    summaryMetrics(run(spark, dir, "bm25"), sharedConjunctiveQrels(spark, dir))

  /** The RRF hybrid run judged by the SAME metrics and the same
    * conjunctive qrels — the comparison row a retrieval stack actually
    * reads (does fusing the dense list help or hurt against the lexical
    * judgment?), and the proof the metrics operator is run-agnostic. */
  def rrfEvalSummary(spark: SparkSession, dir: String): DataFrame =
    summaryMetrics(run(spark, dir, "rrf"), sharedConjunctiveQrels(spark, dir))

  /** The PRF run under the same judgment — completes the three-way
    * comparison table (plain BM25 / RRF fusion / expanded BM25) that a
    * retrieval stack reads when deciding which serving path to enable. */
  def prfEvalSummary(spark: SparkSession, dir: String): DataFrame =
    summaryMetrics(run(spark, dir, "prf"), sharedConjunctiveQrels(spark, dir))
}
