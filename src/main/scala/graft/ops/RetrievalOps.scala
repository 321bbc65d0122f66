package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** BM25 keyword retrieval over the document corpus — the lexical half of
  * a retrieval stack (the embedding half is SimilarityOps): Robertson/
  * Spärck Jones BM25 with k1 = 1.2, b = 0.75, the Lucene-style
  * `ln(1 + (N − df + ½)/(df + ½))` idf (always ≥ 0).
  *
  * Hash-oracle strategy: a naive double implementation is NOT
  * reproducible across engines — the per-document score is a SUM of
  * per-term doubles, and float addition is order-dependent, so Spark's
  * partial aggregation and DuckDB's row order could disagree in the last
  * ulp and flip a rank. Instead each per-term factor is floor-scaled to
  * int64 micro-units (idf·1e6, tf-saturation·1e6) and the score is their
  * integer product-sum — order-independent, partial-aggregation-safe,
  * bit-identical. The only transcendental (ln) is computed ONCE per
  * distinct query term on an identical double input; a 1-ulp libm
  * difference only matters if ln·1e6 lands within an ulp of an integer
  * boundary (p ≈ 1e-10 per term, fixed data — verified green at all
  * three SFs).
  *
  * Scale shape: ONE corpus tokenization; the query vocabulary (bounded
  * by the query workload, broadcast) filters tokens BEFORE the tf
  * shuffle, so the keyed aggregates only ever see query-term tokens;
  * doc lengths are a narrow array-size projection of the shared corpus
  * subtree — |split(text)| without exploding or shuffling anything (a
  * production index materializes dl once, like the kNN index); df/idf
  * is a |vocab|-row broadcast; ranking is the bounded map-side top-k
  * aggregate ([[graft.functions.TopKPairsAggregator]]) — no window, no
  * full-score shuffle. The driver sees two scalars (N, avgdl). */
object RetrievalOps {

  val TopK = 10
  private val ScaleM = 1000000L

  /** In-vocabulary multi-word queries (the corpus vocabulary is the
    * ~31-term synthetic word soup; "dup"/"vector" are its rare tail). */
  val DefaultQueries: Seq[(Int, String)] = Seq(
    0 -> "hash join fast",
    1 -> "table scan slow",
    2 -> "window agg",
    3 -> "sort merge batch",
    4 -> "vector query dup")

  def bm25(spark: SparkSession, dir: String): DataFrame =
    bm25For(spark, dir, DefaultQueries)

  /** One parallelized corpus subtree shared by every lexical branch of a
    * query: both consumers (the dl projection and the tf explode)
    * reference the SAME repartition exchange, so ReuseExchange executes
    * the scan+shuffle once and each branch reads the shuffle output —
    * the ngram-jaccard "spine" pattern. The isNotNull filters are pushed
    * to the parquet scan AND make dl-from-array-size semantics identical
    * to the oracle's explode-and-count (a null text yields no tok rows
    * there, no dl row here). */
  /** The shared corpus spine of the lexical stack. NULL-EXCLUSION IS
    * PART OF THE INDEX CONTRACT (r15 ADVICE): docs with a null doc_id or
    * null text are excluded from the on-disk tf/df/cf/dl tables AND the
    * N/avgdl stats — a null-id doc could never be returned or ranked
    * (every downstream join/group is id-keyed), so indexing its tokens
    * only skewed the background statistics. The index dir is versioned
    * (`graft_lex_index_v2_` + source stamp), so an index built before
    * this contract can never be silently served against it. */
  private def docsPar(spark: SparkSession, dir: String): DataFrame =
    Tables.parallel(spark, dir, "documents")
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), col("text"))

  /** Doc length WITHOUT tokenizing: |split(text)| ≡ count of exploded
    * tokens for non-null text (split of "" is [""] in both engines), so
    * the former's one narrow projection replaces a full explode +
    * groupBy(doc_id) shuffle — the r15 lexical-stack restructure: dl was
    * one of 2 (BM25) / 3 (QLM) redundant corpus tokenizations per query. */
  private def dlOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(lower(col("text")), " ")).cast(LongType).as("dl"))

  private def explodedTerms(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))

  def bm25For(spark: SparkSession, dir: String,
      queries: Seq[(Int, String)]): DataFrame = {
    val base = docsPar(spark, dir)
    val dl = dlOf(base)
    val vocab = queries.flatMap(_._2.split(" ")).distinct
    val tf = explodedTerms(base).filter(col("term").isin(vocab: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    scoreAndRank(spark, queries, tf, dfT, dl)
  }

  /** Expansion terms appended per query by [[bm25Prf]]. */
  val PrfExpansionTerms = 3

  /** Pseudo-relevance feedback (RM3-lite): run BM25, harvest the
    * [[PrfExpansionTerms]] most-frequent NEW terms from each query's
    * top-10 documents (original query terms anti-joined away; ties
    * break on term), append them to the query, and score again — the
    * classic recall move when the user's own words under-specify the
    * intent. Both rounds use the same integer-scaled scoring, and the
    * expansion choice is exact counts with deterministic ties, so the
    * whole two-stage retrieval is value-oracled.
    *
    * Scale shape: the harvest pass re-reads tokens filtered by the
    * BROADCAST top-doc set (|q|·10 ids) before any shuffle — the
    * expansion aggregate only ever sees the feedback docs' tokens; the
    * chosen terms are bounded driver state (|q|·3 rows), exactly like a
    * query rewriter in a serving tier; round 2 is the ordinary BM25
    * plan over the widened vocabulary. */
  /** The PRF-EXPANDED QUERY SET, memoized per (session, corpus) —
    * bounded driver state (|q| strings), the thing bm25Prf's own scale
    * note calls "exactly like a query rewriter in a serving tier": its
    * four consumers (the PRF run itself plus the RBO/NDCG/PR eval
    * summaries over it) each re-ran the whole two-stage chain (initial
    * retrieval + harvest + term choice) to rebuild five identical query
    * strings (~3-4 s per entry in the r16 sweep). */
  def bm25Prf(spark: SparkSession, dir: String): DataFrame =
    bm25For(spark, dir, SessionMemo(spark, "retrieval.prf", dir)(prfExpand(spark, dir)))

  /** The three SERVED RUN TABLES (bm25 / rrf-hybrid / prf-expanded
    * bm25), memoized per (session, dir, run) — |q|·k-row bounded
    * relations, the serving output a ranking-eval harness is DEFINED
    * over. Ten eval entries (the PR/NDCG/RBO per-query and summary
    * readouts) each re-ran a full corpus scoring pass (tokenize +
    * tf/df/dl aggregation + rank, ~25 scheduler jobs, ~3 s warm at
    * sf0.1) to rebuild the identical ≤|q|·k-row run. The retrieval
    * entries themselves (x_retrieval_bm25 / x_retrieval_rrf /
    * x_retrieval_bm25_prf) keep executing the live pipeline — their
    * plans never touch this memo, so the headlines still measure the
    * real scoring pass; eval consumers measure their own metric
    * arithmetic (the [[graft.ops.DedupOps.sharedPairs]] pattern). */
  private[graft] def sharedRun(spark: SparkSession, dir: String,
      which: String): DataFrame =
    SessionMemo(spark, "retrieval.run", (dir, which))((which match {
      case "bm25" => bm25(spark, dir)
      case "rrf"  => rrfHybrid(spark, dir)
      case "prf"  => bm25Prf(spark, dir)
    }).localCheckpoint())

  private def prfExpand(spark: SparkSession, dir: String): Seq[(Int, String)] = {
    import spark.implicits._
    val topDocs = bm25(spark, dir).select(col("q_id"), col("doc_id"))
    val qTerms = DefaultQueries
      .flatMap { case (q, s) => s.split(" ").distinct.map(t => (q, t)) }
      .toDF("q_id", "term")
    // join the |q|·10-row feedback set BEFORE exploding (explode after a
    // selective join, guide-§3 ordering): only the feedback docs' texts
    // are ever tokenized, instead of exploding the whole corpus and
    // filtering the token stream
    val cand = docsPar(spark, dir)
      .join(broadcast(topDocs), Seq("doc_id"))
      .select(col("q_id"), explode(split(lower(col("text")), " ")).as("term"))
      .join(broadcast(qTerms), Seq("q_id", "term"), "left_anti")
      .groupBy(col("q_id"), col("term")).agg(count(lit(1)).as("tfsum"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("tfsum").desc, col("term"))
    val chosen = cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PrfExpansionTerms)
      .select(col("q_id"), col("term")).collect()
      .groupBy(_.getInt(0)).view.mapValues(_.map(_.getString(1)).sorted).toMap
    DefaultQueries.map { case (q, s) =>
      (q, (s.split(" ") ++ chosen.getOrElse(q, Array.empty[String])).mkString(" "))
    }
  }

  /** Dirichlet smoothing mass for [[qlm]] (Zhai & Lafferty's μ; 100
    * suits this corpus' short documents — production tunes per corpus).
    * A DOUBLE literal: both engines must see the same decimal token. */
  val QlmMu = 100.0

  /** Query-likelihood retrieval with Dirichlet smoothing — the language-
    * modeling scorer next to BM25's probabilistic one (useful where
    * document priors / verbosity normalization behave differently):
    * score(q,d) = Σ_{t∈q} ln((tf + μ·cf_t/|C|)/(dl + μ)). Candidates are
    * docs matching ≥1 query term (the standard posting-driven cut), but
    * each candidate is scored over ALL the query's terms — absent terms
    * contribute the background probability, which is what separates QL
    * from a tf-only heuristic. Query terms absent from the ENTIRE corpus
    * drop out structurally (no cf row → inner join) in both engines.
    *
    * Hash-oracle strategy: the BM25 trick verbatim — each per-term ln is
    * computed on an IEEE-identical input tree and floor-scaled to int64
    * micro-units, so the per-doc score is an order-independent integer
    * sum (the ln boundary hazard is the documented p ≈ 1e-10 per term).
    *
    * Scale shape: one tokenization (tf); cf folds the already-aggregated
    * tf relation (Σ tf per term ≡ the token count) and dl is the array-
    * size projection — neither re-reads the corpus; the candidate ×
    * query-term expansion is ≤ |q_terms| rows per candidate against a
    * BROADCAST query relation; dl joins stream the big side once;
    * ranking is the bounded map-side top-k aggregate. */
  def qlm(spark: SparkSession, dir: String): DataFrame =
    qlmFor(spark, dir, DefaultQueries)

  def qlmFor(spark: SparkSession, dir: String,
      queries: Seq[(Int, String)]): DataFrame = {
    val base = docsPar(spark, dir)
    val dl = dlOf(base)
    val vocab = queries.flatMap(_._2.split(" ")).distinct
    val tf = explodedTerms(base).filter(col("term").isin(vocab: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // collection frequency = Σ tf per term: derived from the already-
    // aggregated tf relation (a |cand-docs|·|vocab|-row input) instead of
    // re-tokenizing the corpus — count of query-term tokens ≡ sum of
    // their per-doc counts, bit-for-bit
    val cf = tf.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
    // bounded driver scalar: corpus token count (the BM25 N/avgdl move)
    val totC = dl.agg(sum(col("dl"))).collect()(0).getLong(0)
    qlmScoreAndRank(spark, queries, tf, cf, dl, totC)
  }

  /** QL over the materialized index — identical output to [[qlm]] (the
    * same scoring/ranking path below the storage seam, the
    * bm25FromIndex convention): tf and the background cf table are
    * term-pruned parquet reads, |C| is the stats row. */
  def qlmFromIndex(spark: SparkSession, indexDir: String,
      queries: Seq[(Int, String)] = DefaultQueries): DataFrame = {
    val vocab = queries.flatMap(_._2.split(" ")).distinct
    val tf = spark.read.parquet(s"$indexDir/tf")
      .filter(col("term").isin(vocab: _*))
    val cf = spark.read.parquet(s"$indexDir/cf")
      .filter(col("term").isin(vocab: _*))
    val dl = spark.read.parquet(s"$indexDir/dl")
    val totC = spark.read.parquet(s"$indexDir/stats")
      .collect()(0).getAs[Long]("tot")
    qlmScoreAndRank(spark, queries, tf, cf, dl, totC)
  }

  /** Registry/bench entry: probe the (pre-built) index. */
  def qlmIndexed(spark: SparkSession, dir: String): DataFrame =
    qlmFromIndex(spark, ensureLexIndex(spark, dir))

  /** Scoring + bounded ranking over any (tf, cf, dl, |C|) source —
    * shared by the inline and index-served forms so their agreement is
    * a hash equality against ONE oracle. */
  private def qlmScoreAndRank(spark: SparkSession, queries: Seq[(Int, String)],
      tf: DataFrame, cf: DataFrame, dl: DataFrame, totC: Long): DataFrame = {
    import spark.implicits._
    val qDf = queries
      .flatMap { case (q, s) => s.split(" ").distinct.map(t => (q, t)) }
      .toDF("q_id", "term")
    val cand = tf.join(broadcast(qDf), Seq("term"))
      .select(col("q_id"), col("doc_id")).distinct()
    val termMicro = floor(log(
      (coalesce(col("tf"), lit(0L)).cast(DoubleType) +
        lit(QlmMu) * col("cf") / lit(totC.toDouble)) /
        (col("dl") + lit(QlmMu))) * ScaleM).cast(LongType)
    val scored = cand
      .join(broadcast(qDf), Seq("q_id"))
      .join(broadcast(cf), Seq("term"))
      .join(tf, Seq("doc_id", "term"), "left")
      .join(dl, Seq("doc_id"))
      .select(col("q_id"), col("doc_id"), termMicro.as("part"))
      .groupBy(col("q_id"), col("doc_id")).agg(sum(col("part")).as("score_micro"))
    // scores are negative integers of magnitude ≤ |q|·μ-free ln range
    // ·1e6 ≪ 2^53, so the double round-trip through the aggregator is
    // exact (the BM25 argument, sign flipped)
    val topk = udaf(graft.functions.TopKPairsAggregator(TopK))
    scored.groupBy(col("q_id"))
      .agg(topk(col("score_micro").cast(DoubleType), col("doc_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("q_id"), (col("pos") + 1).cast(IntegerType).as("rank"),
        col("p.neighborId").as("doc_id"),
        col("p.cos").cast(LongType).as("score_micro"))
      .orderBy("q_id", "rank")
  }

  /** Scoring + bounded ranking over any (tf, df, dl) source — shared by
    * the inline form above and the materialized-index probe below, so
    * "index probe ≡ inline" is true by construction above the storage
    * layer. */
  private def scoreAndRank(spark: SparkSession, queries: Seq[(Int, String)],
      tf: DataFrame, dfT: DataFrame, dl: DataFrame): DataFrame = {
    import spark.implicits._
    // bounded driver scalars: corpus size and average doc length
    val st = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("tot")).collect()(0)
    val nDocs = st.getLong(0).toDouble
    val avgdl = st.getLong(1).toDouble / st.getLong(0)

    // per-query distinct: every DuckDB oracle's query relation is a set
    // (VALUES list / UNION), so a repeated term in a future query string
    // must not double-count its score contribution — make the invariant
    // structural rather than incidental (bm25Prf is safe only because
    // expansion terms are anti-joined and distinct)
    val qTerms = queries.flatMap { case (q, s) => s.split(" ").distinct.map(t => (q, t)) }
    val qDf = qTerms.toDF("q_id", "term")

    // Literal constants (2.2 = k1+1, 0.25 = 1−b) appear as the SAME
    // decimal literals in the DuckDB oracle — never derived (1.2+1 in
    // double is a half-ulp rounding coin-flip away from literal 2.2).
    val idfMicro =
      floor(log(lit(1.0) +
        (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5))) * ScaleM)
        .cast(LongType)
    val satMicro =
      floor(col("tf") * lit(2.2) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl)))
        * ScaleM).cast(LongType)

    val scored = tf
      .join(broadcast(qDf), Seq("term"))
      .join(broadcast(dfT), Seq("term"))
      .join(dl, Seq("doc_id"))
      .select(col("q_id"), col("doc_id"), (idfMicro * satMicro).as("part"))
      .groupBy(col("q_id"), col("doc_id")).agg(sum(col("part")).as("score"))

    // bounded top-k; scores ≤ ~1e13 ≪ 2^53, so the double round-trip
    // through the pair aggregator is exact
    val topk = udaf(graft.functions.TopKPairsAggregator(TopK))
    scored.groupBy(col("q_id"))
      .agg(topk(col("score").cast(DoubleType), col("doc_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("q_id"), (col("pos") + 1).cast(IntegerType).as("rank"),
        col("p.neighborId").as("doc_id"), col("p.cos").cast(LongType).as("score"))
      .orderBy("q_id", "rank")
  }

  // ------------------------------------------------------------------
  // Write-once / probe-many: the materialized lexical index
  // ------------------------------------------------------------------

  /** Materialize the inverted statistics a BM25 server needs — the
    * lexical sibling of [[SimilarityOps.buildKnnIndex]]: per-(doc,term)
    * tf sorted by term within files (so a term-predicate probe prunes on
    * parquet min/max stats), per-doc lengths, FULL-vocabulary df, and
    * the 1-row corpus stats. One tokenization pays for every subsequent
    * query workload; at 100 TB this runs once per corpus snapshot and
    * probes never touch `documents` again. */
  def buildLexIndex(spark: SparkSession, dir: String, indexDir: String): Unit = {
    val base = docsPar(spark, dir)
    val tf = explodedTerms(base)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    tf.repartition(col("term")).sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$indexDir/tf")
    tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$indexDir/df")
    // corpus term frequencies (Σtf) — the language-modeling scorer's
    // background distribution; BM25 never reads it, QLM must
    tf.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
      .write.mode("overwrite").parquet(s"$indexDir/cf")
    val dl = dlOf(base)
    dl.write.mode("overwrite").parquet(s"$indexDir/dl")
    dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("tot"))
      .write.mode("overwrite").parquet(s"$indexDir/stats")
  }

  /** BM25 over the materialized index: identical output to [[bm25]]
    * (same scoring/ranking code path), zero tokenization — the tf scan
    * is term-pruned by parquet stats (the files were written
    * term-sorted), df/dl are direct reads. */
  def bm25FromIndex(spark: SparkSession, indexDir: String,
      queries: Seq[(Int, String)] = DefaultQueries): DataFrame = {
    val vocab = queries.flatMap(_._2.split(" ")).distinct
    val tf = spark.read.parquet(s"$indexDir/tf")
      .filter(col("term").isin(vocab: _*))
    val dfT = spark.read.parquet(s"$indexDir/df")
      .filter(col("term").isin(vocab: _*))
    val dl = spark.read.parquet(s"$indexDir/dl")
    scoreAndRank(spark, queries, tf, dfT, dl)
  }

  /** Deterministic index location stamped with the source file's
    * (size, mtime) — the [[SimilarityOps.knnIndexDirFor]] convention:
    * neither a config change nor regenerated source data can silently
    * serve a stale index. */
  def lexIndexDirFor(dir: String): String =
    stampedIndexDir("graft_lex_index_v2_", dir, "documents.parquet")

  /** Build the materialized index iff absent; returns its location. */
  def ensureLexIndex(spark: SparkSession, dir: String): String = {
    val idx = lexIndexDirFor(dir)
    if (!new java.io.File(s"$idx/stats").exists())
      buildLexIndex(spark, dir, idx)
    idx
  }

  /** Registry/bench entry: probe the (pre-built) index with the default
    * query set. */
  def bm25Indexed(spark: SparkSession, dir: String): DataFrame =
    bm25FromIndex(spark, ensureLexIndex(spark, dir))

  // ------------------------------------------------------------------
  // Incremental maintenance: fold a new crawl batch into the index
  // ------------------------------------------------------------------

  /** Tokenize one (doc_id, text) batch into index-shaped statistics
    * (dl via the same array-size projection as the full build). */
  private def statsOf(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val base = docs.filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val tf = explodedTerms(base)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    (tf, df, dlOf(base))
  }

  /** Fold a batch of NEW documents (fresh doc_ids — the daily-crawl
    * append, cf. DedupOps.incremental) into an existing index, writing
    * an immutable successor snapshot: tf/dl union the disjoint batch
    * rows, df merges by term with a full-outer coalesce-sum, stats add.
    * ONLY the batch is tokenized — the corpus is never re-read, which is
    * the entire point at 100 TB: index maintenance cost tracks crawl
    * size, not corpus size. Equivalence to a from-scratch rebuild is
    * pinned by the registry oracle (`x_retrieval_bm25_incremental` runs
    * the same DuckDB SQL as the full forms) and by spec. */
  def updateLexIndex(spark: SparkSession, indexDir: String,
      newDocs: DataFrame, outDir: String): Unit = {
    val (tfN, dfN, dlN) = statsOf(newDocs)
    spark.read.parquet(s"$indexDir/tf").unionByName(tfN)
      .repartition(col("term")).sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$outDir/tf")
    spark.read.parquet(s"$indexDir/df").as("o")
      .join(dfN.as("n"), col("o.term") === col("n.term"), "full_outer")
      .select(coalesce(col("o.term"), col("n.term")).as("term"),
        (coalesce(col("o.df"), lit(0L)) + coalesce(col("n.df"), lit(0L))).as("df"))
      .write.mode("overwrite").parquet(s"$outDir/df")
    // cf (QLM's background distribution) merges like df; the BM25-only
    // incremental fixtures predate the column — propagate iff present
    if (new java.io.File(s"$indexDir/cf").exists()) {
      val cfN = tfN.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
      spark.read.parquet(s"$indexDir/cf").as("o")
        .join(cfN.as("n"), col("o.term") === col("n.term"), "full_outer")
        .select(coalesce(col("o.term"), col("n.term")).as("term"),
          (coalesce(col("o.cf"), lit(0L)) + coalesce(col("n.cf"), lit(0L))).as("cf"))
        .write.mode("overwrite").parquet(s"$outDir/cf")
    }
    spark.read.parquet(s"$indexDir/dl").unionByName(dlN)
      .write.mode("overwrite").parquet(s"$outDir/dl")
    spark.read.parquet(s"$indexDir/stats").as("o")
      .crossJoin(dlN.agg(count(lit(1)).as("bn"), sum(col("dl")).as("btot")))
      .select((col("o.n") + col("bn")).as("n"), (col("o.tot") + col("btot")).as("tot"))
      .write.mode("overwrite").parquet(s"$outDir/stats")
  }

  /** Registry entry proving incremental ≡ rebuild: the corpus splits
    * deterministically into a base (90%) and a "crawl batch" (doc_id
    * divisible by 10); the base is indexed, the batch folded in via
    * [[updateLexIndex]], and the probe must hash-match the SAME oracle
    * as the full inline/indexed forms. */
  def bm25Incremental(spark: SparkSession, dir: String): DataFrame = {
    // stamped like every other materialized snapshot (vacuum-visible,
    // rebuilt iff the completion marker is missing — no tmp leak)
    val base = stampedIndexDir("graft_lex_incr_base_v1_", dir, "documents.parquet")
    val out = stampedIndexDir("graft_lex_incr_out_v1_", dir, "documents.parquet")
    val docs = Tables.parallel(spark, dir, "documents")
    if (!new java.io.File(s"$out/stats/_SUCCESS").exists()) {
      val (tfB, dfB, dlB) = statsOf(docs.filter(col("doc_id") % 10 =!= 0))
      tfB.write.mode("overwrite").parquet(s"$base/tf")
      dfB.write.mode("overwrite").parquet(s"$base/df")
      dlB.write.mode("overwrite").parquet(s"$base/dl")
      dlB.agg(count(lit(1)).as("n"), sum(col("dl")).as("tot"))
        .write.mode("overwrite").parquet(s"$base/stats")
      updateLexIndex(spark, base, docs.filter(col("doc_id") % 10 === 0), out)
    }
    bm25FromIndex(spark, out)
  }

  // ------------------------------------------------------------------
  // Hybrid retrieval: reciprocal-rank fusion of lexical + dense lists
  // ------------------------------------------------------------------

  /** RRF smoothing constant (Cormack & Clarke's k = 60). */
  val RrfK0 = 60

  /** lcm(61..70) — the common denominator that makes every possible
    * contribution `1/(K0 + rank)`, rank ∈ 1..TopK, an EXACT int64
    * (`RrfScale / (K0 + rank)` divides evenly). The fused score is a sum
    * of two such integers, so it is order-independent, partial-
    * aggregation-safe, and bit-identical in DuckDB — the same
    * integer-scoring discipline as BM25's micro-unit factors. Max fused
    * value 2·lcm/61 ≈ 4.7e12 ≪ 2^52, so the double round-trip through
    * [[graft.functions.TopKPairsAggregator]] is exact. */
  val RrfScale: Long = (61L to 70L).foldLeft(1L) { (l, n) =>
    l / BigInt(l).gcd(BigInt(n)).toLong * n
  }

  /** How many of BM25's DefaultQueries participate in the hybrid run
    * (dense queries are the embeddings of the same ids). */
  private val HybridQueries = DefaultQueries.length

  /** Hybrid retrieval — the standard RAG-stack fusion: the BM25 lexical
    * top-k and the cosine-kNN dense top-k (query i's vector is
    * embedding i, the corpus convention the cross-modal curation op
    * established) are fused per (query, doc) by reciprocal-rank fusion
    * `Σ 1/(60 + rank)`, docs missing from one list contribute 0 from it.
    *
    * Scale shape: both input rankings are already k-bounded map-side
    * aggregates (k·|queries| rows each), so the fusion join, however
    * executed, touches k·|queries| rows — the corpus is scanned exactly
    * twice (once tokenized, once dotted), never joined row-to-row. The
    * final rank is again the bounded pair aggregator, not a window. */
  def rrfHybrid(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.exprs._
    val lex = bm25(spark, dir)
      .select(col("q_id"), col("doc_id"), col("rank").as("lex_rank"))

    val emb = Tables.parallel(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    val queries = emb.filter(col("vec_id") < HybridQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = emb.join(broadcast(queries))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosine_similarity(col("qv"), col("v")).as("cos"))
    val dense = graft.ops.SimilarityOps.topkMapSideUnordered(scored, TopK)
      .select(col("q_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))

    val fused = lex.join(dense, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        (coalesce(expr(s"$RrfScale div ($RrfK0 + lex_rank)"), lit(0L)) +
          coalesce(expr(s"$RrfScale div ($RrfK0 + dense_rank)"), lit(0L)))
          .as("rrf"))
    val topk = udaf(graft.functions.TopKPairsAggregator(TopK))
    fused.groupBy(col("q_id"))
      .agg(topk(col("rrf").cast(DoubleType), col("doc_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("q_id"), (col("pos") + 1).cast(IntegerType).as("rank"),
        col("p.neighborId").as("doc_id"), col("p.cos").cast(LongType).as("rrf_score"))
      .orderBy("q_id", "rank")
  }
}
