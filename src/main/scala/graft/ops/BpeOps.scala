package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed BPE tokenizer-training primitives: word-frequency
  * collapse, symbol-pair statistics, iterative merge learning, and merge
  * application — the Sennrich et al. byte-pair-encoding algorithm in its
  * production shape (HF `tokenizers`, SentencePiece): the corpus is
  * scanned ONCE into a word-frequency table, and every training
  * iteration runs on that |vocab|-bounded table, never the corpus.
  *
  * Scale design: |vocab| follows Heaps' law (≪ corpus tokens); at 100 TB
  * the word table is additionally cf-capped to its top terms with the
  * same bounded-top-k mechanism `TextOps.unigramNll` uses (rare-word
  * tails contribute no merges — real trainers cap identically via
  * min_frequency). Each merge selection is a full aggregation to ONE row
  * (freq desc, pair asc tie-break — deterministic); merge application is
  * an `aggregate` fold over each word's symbol array in the SQL
  * expression layer — narrow, no shuffle, no UDF, no driver loop over
  * rows.
  */
object BpeOps {

  /** Number of merges the registry entries train. Real vocabularies are
    * 32k-100k merges; 12 keeps the iterative plan shape (N chained
    * per-vocab aggregations) at test cost. */
  val NumMerges = 12

  /** Word-frequency cap: training keeps the top `VocabCap` words by
    * corpus frequency (count desc, word asc) — the min_frequency /
    * max-vocab bound every real trainer applies, and the reason the
    * iterative table is provably bounded at any corpus size. */
  val VocabCap = 1 << 16

  /** ONE corpus scan → (word, freq): the table all BPE training
    * iterates on. Pre-tokenization is the shared `TextOps.BpeTokenRe`
    * currency (same segmentation the token counter and sequence packer
    * use, so the trained tokenizer consumes exactly what they count). */
  def wordFreqs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(explode(regexp_extract_all(col("text"),
        lit(TextOps.BpeTokenRe), lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** The [[VocabCap]]-bounded word table as char-symbol arrays — the
    * BPE training state at merge 0. */
  private def initialSymbols(spark: SparkSession, dir: String): DataFrame =
    wordFreqs(spark, dir)
      .orderBy(col("freq").desc, col("word"))
      .limit(VocabCap)
      .select(col("word"), col("freq"),
        regexp_extract_all(col("word"), lit("."), lit(0)).as("syms"))

  /** Adjacent-pair frequencies of a (freq, syms) symbol table: every
    * neighboring symbol pair, weighted by word frequency — the quantity
    * BPE maximizes each merge. */
  private def pairFreqs(symbols: DataFrame): DataFrame =
    symbols
      .filter(size(col("syms")) >= 2)
      .select(col("freq"),
        explode(transform(sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("pair_freq"))

  /** Character-pair statistics of the corpus (merge-0 pair table):
    * fully value-oracled — the one BPE-training quantity DuckDB can
    * reproduce (the merge LOOP needs iteration SQL has no clean form
    * for). One corpus scan + two bounded aggregations. */
  def pairStats(spark: SparkSession, dir: String): DataFrame =
    pairFreqs(
      wordFreqs(spark, dir)
        .select(col("word"), col("freq"),
          regexp_extract_all(col("word"), lit("."), lit(0)).as("syms")))
      .select(col("l"), col("r"), col("pair_freq").cast(LongType).as("pair_freq"))
      .orderBy("l", "r")

  /** Greedy left-to-right application of ONE merge (l, r) → l+r to a
    * symbol array: an `aggregate` fold — if the accumulated tail is `l`
    * and the next symbol is `r`, the tail becomes the merged symbol (the
    * merged token can never re-trigger the same rule as `l` since it
    * strictly extends it — the fold ≡ the scan-and-skip form). */
  private def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast(ArrayType(StringType)),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === l && x === r,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** One learned merge. */
  final case class Merge(rank: Int, l: String, r: String, pairFreq: Long)

  /** Train [[NumMerges]] BPE merges: each iteration aggregates the
    * |vocab|-bounded symbol table to pair frequencies, takes the argmax
    * (freq desc, (l, r) asc — fully deterministic), and folds the merge
    * into the table. The only driver traffic is ONE row per merge. */
  def trainMerges(spark: SparkSession, dir: String,
      nMerges: Int = NumMerges): Seq[Merge] = {
    var symbols = initialSymbols(spark, dir).cache()
    // the parent table is released one iteration LATE: the child's cache
    // fills lazily during the next iteration's argmax job (which reads
    // the parent's blocks), so no extra materialization action is needed
    // — one job per merge instead of the old argmax+count pair
    var prev: Option[DataFrame] = None
    val merges = Seq.newBuilder[Merge]
    var dry = false
    for (rank <- 1 to nMerges if !dry) {
      val top = pairFreqs(symbols)
        .orderBy(col("pair_freq").desc, col("l"), col("r"))
        .limit(1).collect()
      prev.foreach(_.unpersist()); prev = None
      if (top.isEmpty) dry = true // no pairs left: every further job is a no-op
      else {
        val (l, r, f) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(rank, l, r, f)
        val next = symbols
          .withColumn("syms", applyMerge(col("syms"), l, r)).cache()
        prev = Some(symbols)
        symbols = next
      }
    }
    symbols.unpersist()
    prev.foreach(_.unpersist())
    merges.result()
  }

  /** Training is deterministic per corpus SNAPSHOT, so the three
    * registry surfaces over the same training run (merge table, encode,
    * gate) share one memoized result instead of re-iterating. The memo
    * key carries the source file's (size, mtime) — the stamped-index
    * staleness rule — so a regenerated corpus in the same session
    * retrains instead of serving stale merges. */
  def trainedMerges(spark: SparkSession, dir: String): Seq[Merge] = {
    val src = new java.io.File(s"$dir/documents.parquet")
    SessionMemo(spark, "bpe.merges", s"$dir@${src.length()}_${src.lastModified()}")(
      trainMerges(spark, dir))
  }

  /** The trained merge table as a DataFrame (rank, l, r, pair_freq) —
    * deterministic for a given corpus, but the training loop has no SQL
    * form → rows-only oracle; the spec pins the exact merge sequence on
    * a planted corpus. */
  def merges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedMerges(spark, dir)
      .map(m => (m.rank, m.l, m.r, m.pairFreq))
      .toDF("rank", "l", "r", "pair_freq")
      .orderBy("rank")
  }

  /** Encode the corpus with a trained merge list: per document, the
    * BPE token count after applying every merge in rank order (the
    * chained fold composes into ONE projection — narrow, no shuffle, no
    * UDF; the merge list is plan-time constant exactly like a deployed
    * tokenizer). Also reports the char-symbol baseline — merges can
    * only shrink it. */
  def encodeCounts(spark: SparkSession, dir: String,
      merges: Seq[Merge]): DataFrame = {
    // encode each DISTINCT word once and broadcast the result back onto
    // the occurrence stream: the 12-merge chained fold is an interpreted
    // (non-codegen) higher-order expression, and running it per word
    // OCCURRENCE cost 17 s at sf0.1 versus a Heaps-law-bounded distinct
    // vocabulary — the same token-currency move every real tokenizer
    // makes (encode the vocab, stream the text). Values are identical:
    // n_chars/n_bpe are functions of the word alone.
    val occ = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"),
          lit(TextOps.BpeTokenRe), lit(0))).as("word"))
    val encoded = merges.sortBy(_.rank)
      .foldLeft(col("syms")) { (c, m) => applyMerge(c, m.l, m.r) }
    val enc = occ.select(col("word")).distinct()
      .select(col("word"), regexp_extract_all(col("word"), lit("."), lit(0)).as("syms"))
      .select(col("word"), size(col("syms")).as("n_chars"), size(encoded).as("n_bpe"))
    // NO broadcast hint (r15 ADVICE): unlike the retrieval paths (vocab
    // bounded by the query workload), the distinct-word relation grows
    // with the corpus — Heaps law reaches 1e8-1e9 words at the 100 TB
    // design point, past the 8 GB broadcast cap and the driver. AQE
    // still picks broadcast-hash at test SFs where the vocab measures
    // tiny, and degrades to a shuffle join on `word` when it doesn't —
    // exactly the strategy choice the hint was overriding.
    occ.join(enc, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_chars")).cast(LongType).as("n_char_tokens"),
        sum(col("n_bpe")).cast(LongType).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Corpus encode with the corpus-trained merges. */
  def encode(spark: SparkSession, dir: String): DataFrame =
    encodeCounts(spark, dir, trainedMerges(spark, dir))

  /** Value-checked compression gate (the recall-gate pattern): training
    * merges must strictly compress the corpus — total BPE tokens below
    * the char-symbol baseline, and no document grows. The oracle expects
    * the literal passes=true row, making tokenizer-training quality a
    * per-round CORRECTNESS signal even though the loop itself has no SQL
    * form. */
  /** Value-checked gate for the merge TABLE itself (compressionGate
    * covers the encode side): ranks are contiguous from 1, every merge
    * was chosen off a positive pair frequency, no (l, r) pair is merged
    * twice, and training never exceeds its [[NumMerges]] budget. The
    * oracle pins the budget constant and expects passes = true, so a
    * broken training loop (duplicate merges, rank gaps, zero-frequency
    * picks) turns a CORRECTNESS row red. */
  def mergesGate(spark: SparkSession, dir: String): DataFrame = {
    merges(spark, dir).agg(
      count(lit(1)).as("n"),
      coalesce(min(col("rank")), lit(0)).as("min_rank"),
      coalesce(max(col("rank")), lit(0)).as("max_rank"),
      countDistinct(col("rank")).as("n_ranks"),
      countDistinct(struct(col("l"), col("r"))).as("n_pairs"),
      sum(when(col("pair_freq") <= 0L, 1L).otherwise(0L)).as("bad"))
      .select(lit(NumMerges).as("max_merges"),
        (col("n") > 0L && col("n") <= NumMerges &&
          col("min_rank") === 1 && col("max_rank") === col("n") &&
          col("n_ranks") === col("n") && col("n_pairs") === col("n") &&
          col("bad") === 0L).as("passes"))
  }

  /** Round-trip gate for the ENCODER itself (compressionGate only pins
    * aggregate counts; round 9 flagged the encoder as indirectly gated):
    * BPE merges concatenate adjacent symbols and nothing else, so
    * re-joining each word's encoded symbols must reproduce the word
    * BYTE-IDENTICALLY, no word's symbol count may grow, and no word may
    * encode to zero symbols. One corpus scan, one global aggregate; the
    * oracle recomputes the word count with the same regex and expects
    * passes = true — a merge-application bug that drops, duplicates, or
    * reorders characters turns the row red. */
  def encodeGate(spark: SparkSession, dir: String): DataFrame = {
    val encoded = trainedMerges(spark, dir).sortBy(_.rank)
      .foldLeft(col("syms")) { (c, m) => applyMerge(c, m.l, m.r) }
    // the decode/monotonicity checks are word-functions: evaluate the
    // interpreted merge fold once per DISTINCT word and weight each
    // verdict by the word's occurrence count — identical sums to the
    // old per-occurrence pass (the encodeCounts vocabulary move)
    Tables(spark, dir, "documents")
      .select(explode(regexp_extract_all(col("text"),
        lit(TextOps.BpeTokenRe), lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"),
        regexp_extract_all(col("word"), lit("."), lit(0)).as("syms"))
      .select(col("word"), col("cnt"), col("syms"), encoded.as("enc"))
      .agg(
        coalesce(sum(col("cnt")), lit(0L)).as("n_words"),
        sum(when(array_join(col("enc"), "") =!= col("word"), col("cnt"))
          .otherwise(0L)).as("bad_decode"),
        sum(when(size(col("enc")) > size(col("syms")), col("cnt"))
          .otherwise(0L)).as("grown"),
        sum(when(size(col("enc")) < 1, col("cnt")).otherwise(0L)).as("vanished"))
      .select(col("n_words"),
        (coalesce(col("bad_decode"), lit(0L)) === 0L &&
          coalesce(col("grown"), lit(0L)) === 0L &&
          coalesce(col("vanished"), lit(0L)) === 0L).as("passes"))
  }

  def compressionGate(spark: SparkSession, dir: String): DataFrame = {
    val e = encode(spark, dir)
    e.agg(
      sum(col("n_char_tokens")).as("char_tokens"),
      sum(col("n_bpe_tokens")).as("bpe_tokens"),
      sum(when(col("n_bpe_tokens") > col("n_char_tokens"), 1L)
        .otherwise(0L)).as("docs_grown"))
      .select(col("char_tokens"),
        (col("bpe_tokens") < col("char_tokens") &&
          col("docs_grown") === 0L).as("passes"))
  }
}
