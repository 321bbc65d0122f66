package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines, at four levels of
  * fuzziness: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (the whole point — 100 TB of documents):
  *  - exact: one hash-shuffle on the text (or a digest of it), |groups|
  *    output — the optimal distributed plan.
  *  - n-gram Jaccard: inverted-index self-join (explode shingles → join on
  *    shingle → count per pair). Only pairs sharing ≥1 shingle are ever
  *    materialized. Hot shingles are the skew risk: the `MaxBucket` df-cap
  *    drops shingles with df > cap (they carry no discriminating signal)
  *    and bounds any task; AQE skew-split covers the rest.
  *  - MinHash LSH: constant work per doc (N hashes over its shingle set),
  *    then candidates only within LSH band buckets — the standard
  *    near-linear near-dup pipeline (Broder '97).
  *  - SimHash: 64-bit signature per doc; 4×16-bit pigeonhole banding finds
  *    all pairs within Hamming distance 3 without O(n²).
  */
object DedupOps {

  /** Exact dedup via hash group-by: survivor id + multiplicity per
    * distinct text. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy("keep_id")

  /** 128-bit content digest: two xxhash64 passes over the value as a
    * 16-byte struct key. The second pass PREPENDS a distinct constant
    * child — `xxhash64(lit(0x5EED), c)` — which re-seeds the hash chain
    * before `c` is folded in, so h2 is a hash of `c` under a different
    * effective seed and is independent of h1. (The tempting
    * `xxhash64(c, lit(0x5EED))` is NOT independent: Spark folds children
    * sequentially, making that form a deterministic function of h1 and
    * silently collapsing the key back to 64 bits.) */
  def digest128(c: Column): Column = struct(
    xxhash64(c).as("h1"), xxhash64(lit(0x5EED), c).as("h2"))

  /** Exact dedup, scale form: group on a 128-bit digest of the text (two
    * independently-seeded 64-bit hashes as a struct key, [[digest128]])
    * so the shuffle carries 16 bytes per row instead of the document
    * body. Same result as `exact` barring a collision (~n²/2¹²⁹ —
    * negligible at any corpus size; a 64-bit key would start colliding
    * around 2³² docs). Shares the text-grouped oracle. */
  def exactDigest(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(digest128(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy("keep_id")

  /** Normalized dedup with QUALITY survivorship: duplicates under a
    * CASE-INSENSITIVE key (lower(text)) collapse to the copy with the
    * lowest stopword ratio (tiebreak: min doc_id) — the realistic
    * collapse rule when near-identical copies differ in formatting and
    * the pipeline wants the best-scored witness, not an arbitrary id.
    * The quality currency is `TextOps.stopRatio` (one shared definition
    * with the quality filters; its stopword match is case-sensitive, so
    * case variants genuinely score differently).
    *
    * Plan: the survivor is a `min(struct(score, id))` aggregate —
    * partial-aggregatable, so map-side combine collapses duplicates
    * before the one hash shuffle (same optimal shape as `exact`; a
    * window/rank formulation would sort whole groups instead). The
    * group key here is the normalized text; at corpus scale swap it for
    * a 128-bit digest of it exactly as in `exactDigest`. */
  def qualitySurvivor(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        graft.ops.TextOps.stopRatio(col("text")).as("sr"),
        lower(col("text")).as("key"))
      .groupBy(col("key"))
      .agg(min(struct(col("sr"), col("doc_id"))).as("w"),
        count(lit(1)).as("n_copies"))
      .select(col("w.doc_id").as("keep_id"), col("w.sr").as("stop_ratio"),
        col("n_copies"))
      .orderBy("keep_id")

  /** Incremental (new-batch vs corpus) exact dedup — the production
    * pattern: a daily crawl is deduplicated against the existing corpus
    * WITHOUT re-deduplicating the corpus itself. The batch (source
    * `src0` stands in for today's arrivals) anti-joins the corpus on a
    * 128-bit text digest, then collapses within-batch duplicates; output
    * is the surviving new documents.
    *
    * Scale shape: the corpus side of the anti join carries ONLY the
    * 16-byte digest (never the text — |corpus| × 16 B shuffle, and on a
    * digest-bucketed corpus table the exchange disappears entirely); the
    * batch, typically orders of magnitude smaller, shuffles once on the
    * same key and the within-batch group-by reuses that partitioning.
    * Value-oracled via text equality (digest ≡ text modulo ~2⁻¹²⁹
    * collisions, same argument as `exactDigest`). */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    def digest(c: Column): Column = digest128(c)
    val docs = Tables(spark, dir, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
      .select(digest(col("text")).as("d"))
    val batch = docs.filter(col("source") === "src0")
      .select(col("doc_id"), digest(col("text")).as("d"))
    batch.join(corpus, Seq("d"), "left_anti")
      .groupBy(col("d"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy("keep_id")
  }

  /** Exact n-gram (3-token shingle) Jaccard near-dup pairs, threshold 0.5,
    * via a PPJoin-style PREFIX-FILTERED inverted index (Xiao et al.,
    * "Efficient Similarity Joins for Near Duplicate Detection", WWW'08):
    *
    *  1. prefix index: each doc indexes only its ⌊n/2⌋+1 SMALLEST shingle
    *     hashes (the set is already hash-sorted — that is the global
    *     order). For Jaccard ≥ 1/2, any qualifying pair's smallest common
    *     shingle provably lies in BOTH prefixes, so candidate recall is
    *     exact while the index holds ~half the entries and — because
    *     pair expansion is quadratic in posting-list length — generates
    *     ~4× fewer candidate pairs per shingle.
    *  2. candidate generation: posting lists (capped, see below) expand
    *     locally via the PostingListPairs kernel; a PPJoin length filter
    *     (|A| ≥ |B|/2, or Jaccard < 1/2 is impossible) prunes before the
    *     distinct-pairs shuffle.
    *  3. verification: the candidate spine appears ONCE in the plan and
    *     joins against the materialized hash spine keyed by doc id; AQE
    *     broadcasts the small candidate side, so verification adds NO
    *     extra shuffle and NO corpus re-scan (see `spine` below). Each
    *     pair is verified once with the SortedJaccard merge kernel.
    *     Integer threshold test (2·common ≥ union) — no float boundary.
    *     (A semi-join that prunes hashing to candidate docs was measured
    *     slower here: it references the spine three times, and the
    *     `observe` metric node blocks AQE exchange reuse, so the whole
    *     candidate pipeline re-executed per reference.)
    *
    * Internally shingles are 64-bit hashes (ShingleHashes kernel —
    * strings never materialize); corpus-wide collision odds are
    * ~|shingles|²/2⁶⁵, far below the oracle's resolution.
    * Skew note: a shingle with prefix document frequency d yields
    * d(d-1)/2 candidates; the `MaxBucket` df-cap on non-discriminating
    * hot shingles bounds this (set above the synthetic corpus's max df,
    * so the oracle rows are exact; dropped-key count observable as metric
    * `ngram_df_cap`). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccard(spark, dir, MaxBucket)

  /** The verified near-dup DECISION PAIRS, memoized per (session, data
    * dir) — the input fixture of a whole consumer family (the pair eval
    * metrics BLEU/ROUGE/chrF/token-F1, the split-leakage and
    * cluster-split gates, near-dup clustering and survivorship, the
    * source pair profile, the assembly pipeline's near-dup stage). Each
    * of those entries is DEFINED over this pair set, and before r16
    * each re-ran the full PPJoin pipeline (~2.5 s warm at sf0.1) to
    * obtain a ≤|pairs|-row table.
    * `x_dedup_ngram_jaccard` itself keeps executing the live pipeline
    * (its plan never touches this memo): the headline measures the
    * real near-dup pass; consumers measure their own arithmetic. */
  private[graft] def sharedPairs(spark: SparkSession, dir: String): DataFrame =
    SessionMemo(spark, "dedup.pairs", dir)(ngramJaccard(spark, dir).localCheckpoint())

  def ngramJaccard(spark: SparkSession, dir: String, dfCap: Int): DataFrame =
    ngramJaccardOf(Tables.parallel(spark, dir, "documents"), dfCap)

  /** The composable form over any (doc_id, text) document set — the
    * corpus-assembly pipeline feeds its shared spine through this so the
    * near-dup stage rides the SAME scan/exchange subtree as every other
    * stage instead of re-reading the table. */
  private[graft] def ngramJaccardOf(docsIn: DataFrame, dfCap: Int = MaxBucket): DataFrame = {
    import graft.functions.exprs._
    val spark = docsIn.sparkSession
    // Hashed spine (doc_id, shingle-hash set), terminated by its OWN
    // round-robin exchange: all three references below (prefix index, both
    // verification probes) canonicalize to the same exchange subtree, so
    // ReuseExchange materializes the scanned+hashed corpus ONCE and every
    // branch reads the shuffle output — the corpus is scanned and hashed
    // exactly once per query (rounds 3–4 flagged verification as a double
    // scan + re-hash). The caller-side Tables.parallel repartition
    // parallelizes the hash kernel (test files are single-row-group → one
    // scan task); the outer repartition makes the HASHED rows the
    // reusable payload. The observe metric sits above this exchange, so
    // it does not block reuse (CollectMetrics only pins subtrees it
    // contains).
    val spine = docsIn
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingle_hashes(split(lower(col("text")), " "), 3).as("hs"))
      .repartition(spark.sparkContext.defaultParallelism)
    val docs = spine.withColumn("n", size(col("hs")))
    // prefix = first ⌊n/2⌋+1 elements of the hash-sorted set; posexplode
    // carries each shingle's 1-based position so the PPJoin positional
    // bound can prune inside the expansion kernel
    val pre = docs.select(col("doc_id"), col("n"),
      posexplode(slice(col("hs"), lit(1), (col("n") / lit(2)).cast(IntegerType) + lit(1))).as(Seq("p0", "sh")))
    val posting = pre.groupBy(col("sh"))
      .agg(collect_list(struct(
        col("doc_id"), col("n"),
        (col("p0") + lit(1)).cast(IntegerType).as("pos"))).as("ds"))
      .observe("ngram_df_cap",
        sum(when(size(col("ds")) > dfCap, 1).otherwise(0)).as("dropped_hot_shingles"))
      .filter(size(col("ds")).between(2, dfCap))
    // length filter + positional overlap bound applied IN the kernel loop:
    // pruned pairs are never materialized, so the distinct shuffle only
    // carries candidates that could actually reach Jaccard ≥ 1/2
    val cands = posting.select(explode(prefix_candidate_pairs(col("ds"), 1, 2)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
    cands
      .join(spine.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
      .join(spine.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), sorted_jaccard(col("hs_a"), col("hs_b")).as("j"))
      .filter(lit(2) * col("j.n_common") >= col("j.n_union"))
      .select(col("doc_a"), col("doc_b"),
        (col("j.n_common").cast(DoubleType) / col("j.n_union")).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Deletion-request rule for [[forgetReadmit]]: source = 'src0' stands
    * in for "the provider whose documents must be forgotten" (an opt-out
    * or takedown). Shared with the oracle SQL so the rule cannot drift. */
  val ForgetSource = "src0"

  /** Right-to-be-forgotten over the DEDUPLICATED corpus — the subtle
    * half of a deletion request: dropping the requested rows is easy,
    * but if a deleted document was the SURVIVOR of an exact-dup group,
    * its non-deleted duplicates were suppressed on its behalf and must
    * be RE-ADMITTED (next-best member becomes the keeper), or the
    * corpus silently loses content nobody asked to remove. Per affected
    * group (≥1 member deleted): the old keeper, whether the deletion
    * takes the keeper itself, the re-admitted new keeper (null when the
    * whole group is forgotten), and the deleted/remaining member split.
    *
    * Scale shape: ONE text-keyed hash aggregation (the exact-dedup
    * shuffle) with every answer derived from conditional aggregates in
    * the same pass — old keeper = min(id), new keeper = min(id over
    * non-deleted), keeper_deleted ⇔ the two differ. No joins, no
    * second scan; at 100 TB the key swaps to the 16-byte digest like
    * [[exactDigest]]. */
  def forgetReadmit(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(col("text"))
      .agg(
        min(col("doc_id")).as("old_keep_id"),
        min(when(col("source") =!= ForgetSource, col("doc_id"))).as("new_keep_id"),
        sum(when(col("source") === ForgetSource, 1L).otherwise(0L))
          .cast(IntegerType).as("n_deleted"),
        sum(when(col("source") =!= ForgetSource, 1L).otherwise(0L))
          .cast(IntegerType).as("n_remaining"))
      .filter(col("n_deleted") > 0)
      .select(col("old_keep_id"),
        (col("new_keep_id").isNull || col("new_keep_id") =!= col("old_keep_id"))
          .as("keeper_deleted"),
        col("new_keep_id"), col("n_deleted"), col("n_remaining"))
      .orderBy("old_keep_id")

  /** Containment threshold |A∩B|/|A| ≥ 4/5 for [[containmentPairs]]. */
  val ContainNum = 4
  val ContainDen = 5

  /** ASYMMETRIC containment near-dup pairs: directional (contained,
    * container) pairs with |A∩B| / |A| ≥ [[ContainNum]]/[[ContainDen]]
    * over the trigram shingle sets — the subset-duplicate relation that
    * symmetric Jaccard misses. A short document quoted whole inside a
    * much longer one (syndicated snippets, quoted posts, document
    * revisions that only append) has Jaccard ≈ n_a/n_b → 0 as the
    * container grows, but containment ≈ 1; a training-data dedup pass
    * that only runs Jaccard keeps every such embedded copy.
    *
    * Plan shape (mirrors [[ngramJaccard]]'s single-scan discipline): one
    * hashed spine terminated by its own exchange (ReuseExchange
    * materializes the scanned+hashed corpus once for the index and both
    * verification probes); the FULL posting list per shingle (containment
    * has no symmetric prefix index — the container side must be fully
    * posted), df-capped with the observed `containment_df_cap` metric;
    * the ContainmentCandidatePairs kernel applies the contained-side
    * prefix filter, the length filter and the positional bound INSIDE
    * the expansion loop (see its doc for the exactness argument), so
    * only viable directional candidates reach the distinct shuffle; each
    * survivor is verified once with the SortedJaccard merge kernel under
    * the integer test den·common ≥ num·n_a — no float boundary. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(spark, dir, MaxBucket)

  def containmentPairs(spark: SparkSession, dir: String, dfCap: Int): DataFrame = {
    import graft.functions.exprs._
    val spine = Tables.parallel(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingle_hashes(split(lower(col("text")), " "), 3).as("hs"))
      .repartition(spark.sparkContext.defaultParallelism)
    val docs = spine.withColumn("n", size(col("hs")))
    val posting = docs
      .select(col("doc_id"), col("n"), posexplode(col("hs")).as(Seq("p0", "sh")))
      .groupBy(col("sh"))
      .agg(collect_list(struct(
        col("doc_id"), col("n"),
        (col("p0") + lit(1)).cast(IntegerType).as("pos"))).as("ds"))
      .observe("containment_df_cap",
        sum(when(size(col("ds")) > dfCap, 1).otherwise(0)).as("dropped_hot_shingles"))
      .filter(size(col("ds")).between(2, dfCap))
    val cands = posting
      .select(explode(containment_candidate_pairs(col("ds"), ContainNum, ContainDen)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
    cands
      .join(spine.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
      .join(spine.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        sorted_jaccard(col("hs_a"), col("hs_b")).as("j"), size(col("hs_a")).as("n_a"))
      .filter(lit(ContainDen) * col("j.n_common") >= lit(ContainNum) * col("n_a"))
      .select(col("doc_a"), col("doc_b"), col("j.n_common").as("n_common"),
        (col("j.n_common").cast(DoubleType) / col("n_a")).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash signature length / LSH band layout: 64 hashes = 16 bands × 4
    * rows → S-curve threshold ≈ (1/16)^(1/4) ≈ 0.5. */
  private val NumHashes = 64
  private val Bands = 16
  private val Rows = NumHashes / Bands

  /** Document-frequency / bucket-size cap for the near-dup pipelines. A key
    * (shingle, LSH band hash, SimHash chunk) with d member docs expands to
    * d(d−1)/2 pairs IN ONE TASK — unbounded d is the skew path to OOM on a
    * real corpus (boilerplate headers, empty-ish docs). A key this hot is
    * shared by so many documents that it carries no discriminating signal,
    * so dropping it is the standard df-cap approximation (cf. suffix-array
    * and MinHash dedup pipelines on web corpora); the cap bounds any task
    * at ~Cap²/2 merge steps. Set far above the synthetic corpus's max
    * (≤ ~60 at sf0.1) so every oracle row is unchanged; dropped-key counts
    * are published as a named observed metric on the query (visible to any
    * QueryExecutionListener / Observation). */
  val MaxBucket = 2048

  /** MinHash + LSH near-dup pairs, verified with exact Jaccard ≥ 0.5 on
    * the shingle-hash sets. All hashing runs through the custom Catalyst
    * kernels in graft.functions (one tight-loop eval per document instead
    * of ~64×|shingles| interpreted lambda calls). Deterministic seeded
    * hash family; engine-internal hashes → rows-only oracle. */
  /** Shingle + signature rows shared by the full-corpus pipeline, the
    * materialized index build, and probe batches — ONE definition so the
    * signature currency cannot drift between writer and prober. */
  private def signedRowsOf(docs: DataFrame): DataFrame = {
    import graft.functions.exprs._
    docs.filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        shingle_hashes(split(lower(col("text")), " "), 3).as("hs"))
      .select(col("doc_id"), col("hs"),
        chunk_hashes(minhash_signature(col("hs"), NumHashes), Rows).as("bhs"))
  }

  /** Materialize the corpus's MinHash posting rows (doc_id, hs, bhs,
    * band, bh), band/bucket-clustered — the write-once half of the
    * daily-crawl dedup serving path: signatures are computed ONCE per
    * corpus snapshot; every incoming batch probes parquet instead of
    * re-hashing 100 TB. */
  def buildMinhashIndex(spark: SparkSession, dir: String, indexDir: String): Unit =
    buildMinhashIndexOf(Tables.parallel(spark, dir, "documents"), indexDir)

  def buildMinhashIndexOf(docs: DataFrame, indexDir: String): Unit =
    signedRowsOf(docs)
      .select(col("doc_id"), col("hs"), col("bhs"),
        posexplode(col("bhs")).as(Seq("band", "bh")))
      .repartition(col("band"), col("bh"))
      .sortWithinPartitions(col("band"), col("bh"))
      .write.mode("overwrite").parquet(indexDir)

  /** Probe a crawl batch against the materialized index: the batch is
    * signature-hashed in one narrow pass, meets the index on (band, bh)
    * — AQE broadcasts the small batch side, the index read prunes on the
    * band/bucket clustering — pair ownership is the FIRST band where the
    * two band-hash vectors agree (locally decidable from the carried
    * `bhs`, the MinHashBucketPairs rule, so cross-bucket duplicates
    * never need a dedup exchange), and exact Jaccard ≥ [[threshold]]
    * verifies in-kernel on the carried shingle sets. Emits
    * (batch_doc, corpus_doc, jaccard) — the "which incoming docs are
    * near-dups of the corpus" decision a daily ingest gate runs. */
  def probeMinhashIndex(spark: SparkSession, indexDir: String,
      batch: DataFrame, thresholdNum: Int = 1, thresholdDen: Int = 2): DataFrame = {
    import graft.functions.exprs._
    val idx = spark.read.parquet(indexDir)
    val q = signedRowsOf(batch)
      .select(col("doc_id").as("q_id"), col("hs").as("qhs"),
        col("bhs").as("qbhs"), posexplode(col("bhs")).as(Seq("band", "bh")))
    val firstAgree = array_position(
      zip_with(col("qbhs"), col("bhs"), (a, b) => a === b), true) - 1
    idx.join(q, Seq("band", "bh"))
      .filter(col("q_id") =!= col("doc_id"))
      .filter(col("band") === firstAgree)
      .withColumn("jc", sorted_jaccard(col("qhs"), col("hs")))
      // exact rational threshold (common/union >= num/den), the same
      // cross-multiplied form minhash_bucket_pairs applies in-kernel
      .filter(col("jc.n_common") * thresholdDen >= col("jc.n_union") * thresholdNum)
      .select(col("q_id").as("batch_doc"), col("doc_id").as("corpus_doc"),
        (col("jc.n_common").cast(DoubleType) / col("jc.n_union")).as("jaccard"))
  }

  /** Registry form: deterministic 90/10 corpus/batch split, stamped
    * index built iff absent (the lexIndexDirFor convention), batch
    * probed — the cross-split slice of the full minhashLsh pair set,
    * equality pinned by spec. Rows-only (engine-internal hashes). */
  def minhashProbe(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.parallel(spark, dir, "documents")
    val idx = stampedIndexDir("graft_minhash_index_v1_", dir, "documents.parquet")
    // completion marker, not bare existence: a crashed build's partial
    // directory must be rebuilt, not served (the ensureKnnIndex rule)
    if (!new java.io.File(idx, "_SUCCESS").exists())
      buildMinhashIndexOf(all.filter(col("doc_id") % 10 =!= 0), idx)
    probeMinhashIndex(spark, idx, all.filter(col("doc_id") % 10 === 0))
      .orderBy("batch_doc", "corpus_doc")
  }

  /** Cross-source duplication matrix — WHERE the near-duplication comes
    * from: verified n-gram near-dup pairs rolled up by their endpoints'
    * (source, source) cell, symmetric cells normalized (lexicographic
    * min first) so each unordered source pair reports once. Diagonal
    * cells are within-source duplication (fix: dedup the source);
    * off-diagonal cells are cross-source mirroring (fix: pick a
    * canonical source) — the triage table a crawl operator reads before
    * spending a dedup pass.
    *
    * Scale shape: the pair set is a vanishing fraction of the corpus;
    * two broadcast-able joins attach endpoint sources, then one tiny
    * |sources|² rollup. */
  def sourcePairProfile(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables(spark, dir, "documents").select(col("doc_id"), col("source"))
    sharedPairs(spark, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), Seq("doc_b"))
      .groupBy(
        least(col("src_a"), col("src_b")).as("source_lo"),
        greatest(col("src_a"), col("src_b")).as("source_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("within_source", col("source_lo") === col("source_hi"))
      .orderBy("source_lo", "source_hi")
  }

  /** Direct per-round gate for the probe path — [[minhashProbe]] is the
    * one near-dup entry whose correctness otherwise rides solely on a
    * spec: the probe result must EQUAL the inline [[minhashLsh]] pair
    * set restricted to cross-split pairs (batch side ≡ 0 mod 10,
    * reoriented batch-first), jaccard bit-identical (both sides divide
    * the SAME (n_common, n_union) integers). Signatures are
    * engine-internal, so the oracle pins the batch-doc count anchor
    * plus literal mismatches = 0 / passes = true — the
    * simhashVerifyGate convention. */
  def minhashProbeGate(spark: SparkSession, dir: String): DataFrame = {
    val probe = minhashProbe(spark, dir)
      .select(col("batch_doc"), col("corpus_doc"), col("jaccard").as("j_probe"))
    val isBatchA = col("doc_a") % 10 === 0
    val inline = minhashLsh(spark, dir)
      .filter(isBatchA =!= (col("doc_b") % 10 === 0))
      .select(
        when(isBatchA, col("doc_a")).otherwise(col("doc_b")).as("batch_doc"),
        when(isBatchA, col("doc_b")).otherwise(col("doc_a")).as("corpus_doc"),
        col("jaccard").as("j_inline"))
    val anchor = Tables.parallel(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .agg(count(lit(1)).as("n_batch_docs"))
    probeGateOf(probe, inline, anchor)
  }

  /** The comparison core, separated so the negative-control spec can
    * feed a doctored probe side and prove the gate actually reds. */
  private[ops] def probeGateOf(probe: DataFrame, inline: DataFrame,
      anchor: DataFrame): DataFrame =
    probe.join(inline, Seq("batch_doc", "corpus_doc"), "full_outer")
      .agg(coalesce(sum(when(col("j_probe").isNull || col("j_inline").isNull ||
          col("j_probe") =!= col("j_inline"), 1L).otherwise(0L)), lit(0L))
        .as("mismatches"))
      .crossJoin(broadcast(anchor))
      .select(col("n_batch_docs"), col("mismatches"),
        (col("mismatches") === 0L).as("passes"))

  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLsh(spark, dir, MaxBucket)

  def minhashLsh(spark: SparkSession, dir: String, bucketCap: Int): DataFrame = {
    import graft.functions.exprs._
    val docs = Tables.parallel(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      // shingle-hash set: verification currency, cheaper to carry than text
      .select(col("doc_id"),
        shingle_hashes(split(lower(col("text")), " "), 3).as("hs"))
    val signed = docs.select(col("doc_id"), col("hs"),
      chunk_hashes(minhash_signature(col("hs"), NumHashes), Rows).as("bhs"))
    // one shuffle: bucket by (band, bandhash); the signature pipeline runs
    // once (a self-join would compute it twice). Posting lists carry the
    // shingle-hash sets (verification needs no join back) AND the full
    // band-hash vector (first-agreeing-band ownership is locally
    // decidable — see MinHashBucketPairs).
    val buckets = signed
      .select(col("doc_id"), col("hs"), col("bhs"),
        posexplode(col("bhs")).as(Seq("band", "bh")))
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(struct(col("doc_id"), col("hs"), col("bhs"))).as("ms"))
      .observe("lsh_bucket_cap",
        sum(when(size(col("ms")) > bucketCap, 1).otherwise(0)).as("dropped_hot_buckets"))
      .filter(size(col("ms")).between(2, bucketCap))
    // expand AND verify inside one kernel eval (MinHashBucketPairs: pair
    // loop + sorted-merge Jaccard over the hash sets read in place), so
    // only passing pairs are ever materialized and the downstream shuffle
    // carries id pairs + jaccard — never the hash arrays. Each pair is
    // emitted only by its FIRST agreeing band (ownership decided in the
    // kernel from the band-hash vectors), so pairs arrive globally unique
    // and verify exactly once: no cross-bucket dropDuplicates exchange.
    // Cap caveat: a pair whose first agreeing band was cap-dropped is
    // lost even if a later band survives (recall loss possible only when
    // the lsh_bucket_cap metric > 0 — see kernel doc).
    buckets
      .select(explode(minhash_bucket_pairs(col("ms"), col("band"), 1, 2)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.jaccard").as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** 64-bit SimHash per document + all pairs within Hamming distance ≤ 3,
    * found by 4×16-bit chunk pigeonhole banding (a pair at distance ≤3
    * must agree on ≥1 of 4 chunks). Signature via the custom SimHash64
    * kernel (one pass over distinct token hashes). Rows-only oracle. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhash(spark, dir, MaxBucket)

  def simhash(spark: SparkSession, dir: String, bucketCap: Int): DataFrame = {
    import graft.functions.exprs._
    val sigs = Tables.parallel(spark, dir, "documents")
      .select(col("doc_id"),
        simhash64(token_hashes(split(lower(col("text")), " "))).as("simhash"))
    // bucket by 16-bit chunk (one shuffle, signatures computed once),
    // expand pairs locally, verify Hamming distance on the full signature
    val buckets = sigs.select(
      col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          (shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))).as("cv"))): _*)).as("ck"))
      .groupBy(col("ck.chunk"), col("ck.cv"))
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ms"))
      .observe("simhash_bucket_cap",
        sum(when(size(col("ms")) > bucketCap, 1).otherwise(0)).as("dropped_hot_buckets"))
      .filter(size(col("ms")).between(2, bucketCap))
    // each pair is emitted only by its first agreeing chunk's bucket
    // (decided inside the kernel), so pairs arrive globally unique and no
    // cross-bucket dropDuplicates shuffle exists in this plan.
    // Cap caveat: ownership is decided from the signatures alone, so a
    // pair whose FIRST agreeing chunk's bucket was cap-dropped is lost
    // even when a later agreeing chunk's bucket survives — recall loss
    // beyond the df-cap itself is possible only when the
    // simhash_bucket_cap metric > 0 (see MinHashBucketPairs doc for the
    // shared rationale)
    buckets.select(explode(simhash_pairs(col("ms"), col("chunk"), 3)).as("p"))
      .select(
        col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.hamming").as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Recall floor (percent) for [[minhashVerifyGate]]: the banded
    * pipeline must recover at least this share of the exact
    * Jaccard-threshold pair set. Banding is the only lossy step (its
    * S-curve at j = 0.5 admits ~64% per pair, rising steeply above);
    * the seeded hash family makes the realized recall deterministic per
    * corpus, and on the synthetic corpora it is 100% — the floor exists
    * so the gate states the contract, not to absorb flakiness. */
  val LshRecallFloorPct = 95L

  /** End-to-end equivalence gate for the MinHash+LSH pipeline (the
    * x_sim_knn_recall_gate pattern, closing round-9's top verification
    * gap): at oracle scale DuckDB can compute the EXACT n-gram
    * Jaccard ≥ 1/2 pair set, and because LSH banding only FILTERS
    * candidates (verification is exact, in-kernel, on the same shingle
    * sets), the banded output must be a SUBSET of the exact set with
    * identical jaccard values — zero false positives — and recall at or
    * above [[LshRecallFloorPct]]. The oracle recomputes |exact| in SQL
    * and pins false_pos = 0, passes = true; a banding bug that invents,
    * corrupts, or over-drops pairs turns the row red. */
  def minhashVerifyGate(spark: SparkSession, dir: String): DataFrame = {
    val exact = sharedPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard").as("j_exact"))
    val lsh = minhashLsh(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard").as("j_lsh"))
    // j_exact === j_lsh is exact, not tolerance-based: both sides divide
    // the SAME integer (n_common, n_union) pair from the same shingle
    // sets, so the doubles are bit-identical by construction
    exact.join(lsh, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(when(col("j_exact").isNotNull, 1L).otherwise(0L)).as("ne"),
        sum(when(col("j_lsh").isNotNull &&
          (col("j_exact").isNull || col("j_exact") =!= col("j_lsh")), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("j_exact").isNotNull && col("j_exact") === col("j_lsh"), 1L)
          .otherwise(0L)).as("hits"))
      .select(
        coalesce(col("ne"), lit(0L)).as("n_exact"),
        coalesce(col("fp"), lit(0L)).as("false_pos"),
        (coalesce(col("fp"), lit(0L)) === 0L &&
          coalesce(col("hits"), lit(0L)) * 100L >=
            coalesce(col("ne"), lit(0L)) * LshRecallFloorPct).as("passes"))
  }

  /** End-to-end equivalence gate for the SimHash pipeline: 4×16-bit
    * pigeonhole banding is EXHAUSTIVE for Hamming ≤ 3 (a pair within
    * distance 3 agrees on ≥ 1 of 4 chunks by pigeonhole), so unlike
    * MinHash the banded pair set must EQUAL the brute-force all-pairs
    * set — same pairs, same distances, no recall floor. The brute-force
    * side is the size-guarded validation anchor (the embedCosine rule:
    * n² compares is a gate tool, never a production plan); signatures
    * are engine-internal, so the oracle pins |docs| plus the literal
    * passes = true. */
  def simhashVerifyGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.exprs._
    val sigs = Tables.parallel(spark, dir, "documents")
      .select(col("doc_id"),
        simhash64(token_hashes(split(lower(col("text")), " "))).as("simhash"))
    val n = sigs.count()
    require(n <= ExactAllPairsMaxRows,
      s"simhashVerifyGate is the exact all-pairs validation anchor (n=$n > " +
        s"$ExactAllPairsMaxRows); the production path is the banded simhash()")
    val exact = sigs.as("a")
      .join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("h_exact"))
      .filter(col("h_exact") <= 3)
    val banded = simhash(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("hamming").as("h_band"))
    exact.join(banded, Seq("doc_a", "doc_b"), "full_outer")
      .agg(sum(when(col("h_exact").isNull || col("h_band").isNull ||
        col("h_exact") =!= col("h_band"), 1L).otherwise(0L)).as("mismatch"))
      .select(lit(n).as("n_docs"),
        (coalesce(col("mismatch"), lit(0L)) === 0L).as("passes"))
  }

  /** Hard ceiling for the exact all-pairs cosine path: n² pair evals is a
    * cartesian — a validation tool, never a production plan. */
  val ExactAllPairsMaxRows: Long = 1000000L

  /** Embedding-cosine near-dup pairs (cos ≥ 0.5 — the synthetic corpus's
    * max pairwise cosine is ~0.51, so the threshold is set where signal
    * exists), exact all-pairs with id_a < id_b. VALIDATION-ONLY: this is
    * the exact O(n²) oracle/correctness anchor, size-guarded to refuse
    * inputs past `ExactAllPairsMaxRows` (at which point it is a cartesian
    * join no cluster survives); the production near-dup path is
    * SimilarityOps.annLsh / annLshMultiProbe bucketing. */
  def embedCosine(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.exprs._
    val emb = Tables.parallel(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    val n = emb.count()
    require(n <= ExactAllPairsMaxRows,
      s"embedCosine is the exact all-pairs validation anchor (n=$n > $ExactAllPairsMaxRows); " +
        "use SimilarityOps.annLsh for near-dup at scale")
    emb.as("a")
      .join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine_similarity(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= 0.5)
      .orderBy("vec_a", "vec_b")
  }

  /** Edit-distance ≤ 1 entity-resolution pairs over the customer-name
    * column via WILDCARD (deletion-neighborhood) HASHING — the FastSS
    * family (Bocek et al. 2007): each name emits one variant per
    * position with that position blanked; two equal-length names are
    * within one substitution iff they share a variant. Candidates
    * therefore form inside variant buckets whose size is bounded by the
    * ALPHABET (≤ 10 digit choices here), never by data volume — unlike
    * prefix blocking, which collapses under low-entropy prefixes
    * (sequential IDs all share "000…"), this cannot skew: bucket size
    * is ≤ |Σ| by construction at ANY corpus size. One explode (10×
    * emission on just the 9-digit tail), one shuffle on the variant,
    * ≤ |Σ|²/2 pair evals per bucket, then the exact levenshtein filter.
    * Names are fixed-length, so levenshtein ≤ 1 ⇔ hamming ≤ 1 and the
    * neighborhood is provably complete — the brute-force oracle agrees
    * exactly. */
  def editDistPairs(spark: SparkSession, dir: String): DataFrame = {
    val named = Tables.parallel(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"),
        substring(col("c_name"), 10, 9).as("digits"))
    // the variant relation ends in its OWN keyed exchange with an
    // explicit (never-coalesced) partition count: both self-join sides
    // reference the identical subtree, so ReuseExchange materializes the
    // exploded variants once AND the bucket join + levenshtein
    // verification run on defaultParallelism tasks — left to AQE the
    // whole 10×-exploded join coalesced to ONE task at test SFs (the
    // relation is a few MB; measured 6 stages / 9 tasks / 4.2 s warm)
    val variants = named.select(col("c_custkey"), col("c_name"),
      explode(sequence(lit(1), lit(9))).as("pos"))
      .select(col("c_custkey"), col("c_name"),
        concat(col("pos").cast(StringType), lit(":"),
          expr("overlay(substring(c_name, 10, 9) PLACING '_' FROM pos FOR 1)"))
          .as("variant"))
      .repartition(spark.sparkContext.defaultParallelism, col("variant"))
    variants.as("a")
      .join(variants.as("b"),
        col("a.variant") === col("b.variant") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .select(col("a.c_custkey").as("key_a"), col("b.c_custkey").as("key_b"),
        levenshtein(col("a.c_name"), col("b.c_name")).as("dist"))
      .distinct() // two names CAN share several variants only if equal — keep the guard anyway
      .filter(col("dist") <= 1)
      .orderBy("key_a", "key_b")
  }
}
