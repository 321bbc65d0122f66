package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BM25 semantics on a planted corpus where the right ranking is known
  * by construction, plus invariants on the real store. The Registry hash
  * oracle pins the exact integer scores; these specs pin WHY they rank
  * the way they do. */
class RetrievalOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val plantedDir: String = {
    // doc 0: 'hash' twice in a short doc  -> highest tf saturation
    // doc 1: 'hash' once                  -> lower
    // doc 2: no query terms               -> absent from results
    // doc 3: 'hash' once in a LONG doc    -> length-penalized below doc 1
    val docs = Seq(
      (0L, "hash hash join", "en", "w", 3L),
      (1L, "hash table scan", "en", "w", 3L),
      (2L, "sort merge batch", "en", "w", 3L),
      (3L, "hash " + Seq.fill(40)("value").mkString(" "), "en", "w", 41L))
    val dir = tempDir("bm25_planted")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("bm25: planted tf and length effects rank as BM25 must") {
    val r = RetrievalOps.bm25For(spark, plantedDir, Seq(0 -> "hash")).collect()
    val ranked = r.map(x => x.getAs[Long]("doc_id"))
    assert(ranked.toSeq == Seq(0L, 1L, 3L)) // tf=2 first, short tf=1, long tf=1
    assert(!ranked.contains(2L))            // no query term -> never scored
    val scores = r.map(_.getAs[Long]("score"))
    assert(scores.toSeq == scores.sortBy(-_).toSeq && scores.forall(_ > 0))
  }

  test("bm25: rarer terms out-rank common ones at equal tf") {
    // 'dup' appears in one doc, 'table' in three -> idf(dup) > idf(table)
    val docs = Seq(
      (0L, "dup line", "en", "w", 2L),
      (1L, "table line", "en", "w", 2L),
      (2L, "table row", "en", "w", 2L),
      (3L, "table key", "en", "w", 2L))
    val dir = tempDir("bm25_idf")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = RetrievalOps.bm25For(spark, dir, Seq(0 -> "dup table")).collect()
    val byDoc = r.map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("score")).toMap
    assert(byDoc(0L) > byDoc(1L)) // same tf=1, same dl -> idf decides
  }

  test("bm25: real store — returned docs contain a query term, scores descend, deterministic") {
    val rows = RetrievalOps.bm25(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getAs[Int]("q_id"))
    byQ.foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getAs[Int]("rank"))
      val scores = ordered.map(_.getAs[Long]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    // membership: every returned doc really contains >= 1 term of its query
    val terms = RetrievalOps.DefaultQueries.toMap
    val docs = Tables(spark, Sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ").toSet).toMap
    rows.foreach { r =>
      val qset = terms(r.getAs[Int]("q_id")).split(" ").toSet
      assert((docs(r.getAs[Long]("doc_id")) & qset).nonEmpty)
    }
    assert(RetrievalOps.bm25(spark, Sf0001).collect().toSeq == rows.toSeq)
  }

  test("bm25 index probe: identical rows to inline, term filter pushed to parquet") {
    val idx = tempDir("lex_index")
    RetrievalOps.buildLexIndex(spark, Sf0001, idx)
    val probe = RetrievalOps.bm25FromIndex(spark, idx)
    assert(probe.collect().toSeq == RetrievalOps.bm25(spark, Sf0001).collect().toSeq)
    // the probe's tf scan must push the term predicate into the scan
    val tfScan = spark.read.parquet(s"$idx/tf").filter(col("term") === "hash")
    val plan = tfScan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("term"))
    // a non-default query workload works against the same index
    val custom = RetrievalOps.bm25FromIndex(spark, idx, Seq(7 -> "vector stream"))
    custom.collect().foreach(r => assert(r.getAs[Int]("q_id") == 7))
  }

  test("incremental index update: equals rebuild, serves batch-only terms") {
    val baseDocs = Seq(
      (0L, "hash join table", "en", "w", 3L),
      (1L, "scan filter row", "en", "w", 3L))
    val batchDocs = Seq(
      (10L, "hash zzznew zzznew", "en", "w", 3L),  // new doc, brand-new term
      (11L, "join scan", "en", "w", 2L))
    val all = baseDocs ++ batchDocs
    def writeDocs(rows: Seq[(Long, String, String, String, Long)]): String = {
      val d = tempDir("incr_docs")
      rows.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(2)
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      d
    }
    val baseIdx = tempDir("incr_base"); val outIdx = tempDir("incr_out")
    RetrievalOps.buildLexIndex(spark, writeDocs(baseDocs), baseIdx)
    val batchDf = batchDocs.toDF("doc_id", "text", "lang", "source", "n_chars")
    RetrievalOps.updateLexIndex(spark, baseIdx, batchDf, outIdx)
    val rebuilt = tempDir("incr_full")
    RetrievalOps.buildLexIndex(spark, writeDocs(all), rebuilt)
    val qs = Seq(0 -> "hash join", 1 -> "zzznew")
    val inc = RetrievalOps.bm25FromIndex(spark, outIdx, qs).collect().toSeq
    val full = RetrievalOps.bm25FromIndex(spark, rebuilt, qs).collect().toSeq
    assert(inc == full, "incremental update must equal a from-scratch rebuild")
    // the batch-only term resolves and points at the batch doc
    val zzz = inc.filter(_.getAs[Int]("q_id") == 1)
    assert(zzz.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L))
  }

  test("rrf scale constant: every possible contribution is an exact integer") {
    for (r <- 1 to RetrievalOps.TopK)
      assert(RetrievalOps.RrfScale % (RetrievalOps.RrfK0 + r) == 0,
        s"lcm must divide evenly at rank $r")
    // the double round-trip through the pair aggregator stays exact
    assert(2 * (RetrievalOps.RrfScale / 61).toDouble < math.pow(2, 52))
  }

  test("rrf hybrid: equals an independent driver-side fusion of the two lists") {
    val got = RetrievalOps.rrfHybrid(spark, Sf0001).collect()
      .map(r => (r.getAs[Int]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_score"))).toSeq

    // independent reference: collect both component rankings and fuse in
    // plain Scala (no Spark arithmetic shared with the operator)
    val lex = RetrievalOps.bm25(spark, Sf0001).collect()
      .map(r => ((r.getAs[Int]("q_id"), r.getAs[Long]("doc_id")), r.getAs[Int]("rank"))).toMap
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val dense = (0 until 5).flatMap { q =>
      emb.toSeq.map { case (id, v) => (q.toLong, id, cos(emb(q.toLong), v)) }
        .sortBy { case (_, id, c) => (-c, id) }.take(10).zipWithIndex
        .map { case ((qq, id, _), i) => ((qq.toInt, id), i + 1) }
    }.toMap
    val L = RetrievalOps.RrfScale
    val want = (0 until 5).flatMap { q =>
      val docs = (lex.keySet ++ dense.keySet).filter(_._1 == q)
      docs.toSeq.map { k =>
        val s = lex.get(k).map(r => L / (60 + r)).getOrElse(0L) +
          dense.get(k).map(r => L / (60 + r)).getOrElse(0L)
        (q, k._2, s)
      }.sortBy { case (_, id, s) => (-s, id) }.take(10).zipWithIndex
        .map { case ((qq, id, s), i) => (qq, i + 1, id, s) }
    }
    assert(got == want, "operator fusion must equal the reference fusion")
    // a doc present in BOTH lists at decent ranks beats any single-list doc
    // whose one rank is no better than either of its ranks (monotonicity)
    assert(got.forall(_._4 > 0))
  }

  test("prf: expansion re-ranks against the base run, stays valid and deterministic") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Int]("q_id"), r.getAs[Int]("rank"), r.getAs[Long]("doc_id")))
    val base = rows(RetrievalOps.bm25(spark, Sf0001))
    val prf = rows(RetrievalOps.bm25Prf(spark, Sf0001))
    assert(prf.length == base.length)
    // every query still returns a full, 1..10-ranked list
    prf.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).sorted.sameElements(1 to g.length))
    }
    // the harvested terms must actually move the ranking somewhere
    // (measured: 43/50 positions differ at sf0.001)
    assert(prf.toSet != base.toSet, "expansion had no effect anywhere")
    assert(rows(RetrievalOps.bm25Prf(spark, Sf0001)).toSeq == prf.toSeq)
  }

  // --------------------------------------------------------- ranking metrics

  test("ranking metrics: hand-computed values on a planted run") {
    import spark.implicits._
    // q1: rel {1,2,3}, hits at ranks 2 and 4; q2: rel {9}, no hits;
    // q3: no relevant docs at all
    val run = Seq(
      (1, 1, 7L), (1, 2, 2L), (1, 3, 8L), (1, 4, 3L), (1, 5, 9L),
      (2, 1, 4L), (2, 2, 5L), (2, 3, 6L),
      (3, 1, 1L)).toDF("q_id", "rank", "doc_id")
    val qrels = Seq((1, 1L), (1, 2L), (1, 3L), (2, 9L)).toDF("q_id", "doc_id")
    val per = EvalOps.rankingMetrics(run, qrels).collect()
      .map(r => r.getAs[Int]("q_id") -> r).toMap
    assert(per.keySet == Set(1, 2, 3))
    val p1 = per(1)
    assert(p1.getAs[Int]("n_rel") == 3 && p1.getAs[Int]("n_hit") == 2)
    assert(p1.getAs[Int]("first_rel_rank") == 2)
    assert(p1.getAs[Long]("rr_scaled") == 1260L) // 2520/2
    // AP terms: rank 2 → 2520·1/2 = 1260; rank 4 → 2520·2/4 = 1260
    assert(p1.getAs[Long]("ap_scaled") == 2520L)
    assert(p1.getAs[Double]("precision_at_k") == 0.2)
    assert(p1.getAs[Double]("recall") == 2.0 / 3)
    val p2 = per(2)
    assert(p2.getAs[Int]("n_hit") == 0 && p2.getAs[Long]("rr_scaled") == 0L)
    assert(p2.getAs[Int]("n_rel") == 1 && p2.getAs[Double]("recall") == 0.0)
    val p3 = per(3)
    assert(p3.getAs[Int]("n_rel") == 0 && p3.getAs[Double]("recall") == 0.0)
    val s = EvalOps.summaryMetrics(run, qrels).collect()(0)
    assert(s.getAs[Int]("n_queries") == 3)
    assert(s.getAs[Long]("n_rel_total") == 4L && s.getAs[Long]("n_hit_total") == 2L)
    assert(s.getAs[Double]("mrr") == 1260.0 / (2520.0 * 3)) // = 1/6
    // MAP: only q1 contributes — 2520 · (2520/3) over 2520²·3 = 1/9
    assert(s.getAs[Double]("map_at_k") == 2116800.0 / (2520.0 * 2520 * 3))
    assert(s.getAs[Double]("micro_recall") == 0.5)
    assert(s.getAs[Double]("micro_precision") == 2.0 / 30)
  }

  test("ndcg: hand-computed exact integers on a planted graded run") {
    import spark.implicits._
    val W = EvalOps.NdcgW // 1-based discount weights (literal int64)
    val SW = EvalOps.NdcgSW // prefix sums, SW(0) = 0
    // q1 retrieved doc2 (grade 1) at rank 1 and doc1 (grade 2) at rank 2;
    // doc3 (grade 2) exists but was NOT retrieved — it still shapes IDCG.
    val run = Seq((1, 1, 2L), (1, 2, 1L)).toDF("q_id", "rank", "doc_id")
    val graded = Seq((1, 1L, 2L), (1, 2L, 1L), (1, 3L, 2L))
      .toDF("q_id", "doc_id", "grade")
    val r = EvalOps.ndcgMetrics(run, graded).collect()(0)
    val dcg = 1L * W(0) + 2L * W(1)
    // ideal grades desc = [2, 2, 1]: two grade-2 docs fill ranks 1-2,
    // the grade-1 doc fills rank 3
    val idcg = 2L * (SW(2) - SW(0)) + 1L * (SW(3) - SW(2))
    assert(r.getAs[Long]("dcg_scaled") == dcg)
    assert(r.getAs[Long]("idcg_scaled") == idcg)
    assert(r.getAs[Double]("ndcg") == dcg.toDouble / idcg.toDouble)
  }

  test("ndcg: the ideal-ordered run scores exactly 1.0; real corpus in [0,1]") {
    import spark.implicits._
    val graded = EvalOps.gradedQrels(spark, Sf0001)
    // build the ideal run: per query, top 10 docs by (grade desc, doc_id)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("grade").desc, col("doc_id"))
    val ideal = graded
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("doc_id"))
    val rows = EvalOps.ndcgMetrics(ideal, graded).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("ndcg") == 1.0,
        s"ideal run must score exactly 1.0, got $r")
    }
    // the real BM25 run: ndcg in [0, 1], dcg <= idcg
    val real = EvalOps.bm25NdcgPerQuery(spark, Sf0001).collect()
    assert(real.length == RetrievalOps.DefaultQueries.size)
    real.foreach { r =>
      assert(r.getAs[Long]("dcg_scaled") <= r.getAs[Long]("idcg_scaled"))
      val n = r.getAs[Double]("ndcg")
      assert(n >= 0.0 && n <= 1.0)
    }
    val sum = EvalOps.bm25NdcgSummary(spark, Sf0001).collect()(0)
    // n_queries is the mean's static denominator; n_scored counts
    // queries that produced a per-query row (equal on this corpus)
    assert(sum.getAs[Int]("n_queries") == RetrievalOps.DefaultQueries.size)
    assert(sum.getAs[Int]("n_scored") == real.length)
    val m = sum.getAs[Double]("mean_ndcg")
    assert(m > 0.0 && m <= 1.0)
  }

  test("rbo: identity scores exactly 1023/1024, disjoint 0, one-swap hand-computed") {
    import spark.implicits._
    def run(rows: Seq[(Int, Int, Long)]) =
      rows.toDF("q_id", "rank", "doc_id")
    val ids = (1 to 10).map(r => (0, r, (100 + r).toLong))
    val idsB = (1 to 10).map(r => (0, r, (200 + r).toLong))
    def rboOf(a: Seq[(Int, Int, Long)], b: Seq[(Int, Int, Long)]): Double =
      EvalOps.rboPerQuery(run(a), run(b), Seq(0 -> "x"))
        .collect()(0).getAs[Double]("rbo")
    // identical runs: every doc enters at its own rank → s = 2520·(2^10−1)
    assert(rboOf(ids, ids) == 1023.0 / 1024.0)
    assert(rboOf(ids, idsB) == 0.0)
    // swap ranks 1↔2 in run B: both swapped docs now enter at depth 2
    // (their max rank), so identity's W(1) + W(2) becomes 2·W(2) —
    // s drops by exactly W(1) − W(2) (the depth-1 term, 2^9·2520)
    val swapped = ids.map {
      case (q, 1, d) => (q, 2, d)
      case (q, 2, d) => (q, 1, d)
      case r => r
    }
    val sIdent = EvalOps.RboW.sum // Σ_m W(m) — identity's scaled score
    val sSwap = sIdent - (EvalOps.RboW(0) - EvalOps.RboW(1))
    assert(rboOf(ids, swapped) == sSwap.toDouble / EvalOps.RboDenom)
    // real runs: bounded, total over the query set, self-identity = max
    val real = EvalOps.bm25RrfRbo(spark, Sf0001).collect()
    assert(real.length == RetrievalOps.DefaultQueries.size)
    real.foreach { r =>
      val v = r.getAs[Double]("rbo")
      assert(v >= 0.0 && v <= 1023.0 / 1024.0, s"rbo out of range: $r")
    }
  }

  test("bm25 eval: per-query metrics are internally consistent on real data") {
    val rows = EvalOps.bm25EvalPerQuery(spark, Sf0001).collect()
    assert(rows.length == 5) // one row per default query
    rows.foreach { r =>
      val (nRel, nHit) = (r.getAs[Int]("n_rel"), r.getAs[Int]("n_hit"))
      val first = r.getAs[Int]("first_rel_rank")
      assert(nHit >= 0 && nHit <= 10 && nHit <= math.max(nRel, 0))
      // reciprocal-rank scaling is exactly invertible
      if (first > 0) assert(r.getAs[Long]("rr_scaled") * first == 2520L)
      else assert(r.getAs[Long]("rr_scaled") == 0L && nHit == 0)
      assert(r.getAs[Double]("precision_at_k") == nHit / 10.0)
    }
  }

  // -------------------------------------------------- query likelihood

  test("qlm: planted corpus replays the Dirichlet formula exactly") {
    import spark.implicits._
    val docs = Seq(
      (0L, "hash join hash", "en", "w", 3L),
      (1L, "join scan", "en", "w", 2L),
      (2L, "other words here", "en", "w", 3L))
    val dir = tempDir("qlm_planted")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = RetrievalOps.qlmFor(spark, dir, Seq(0 -> "hash join")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro")))
    // driver replay of the exact IEEE tree: cf(hash)=2, cf(join)=2,
    // |C|=8, dl(d0)=3, dl(d1)=2; d2 matches no term → absent
    def term(tf: Long, cf: Long, dl: Long): Long =
      math.floor(math.log((tf.toDouble + 100.0 * cf / 8.0) / (dl + 100.0))
        * 1000000L).toLong
    val d0 = term(2, 2, 3) + term(1, 2, 3)
    val d1 = term(0, 2, 2) + term(1, 2, 2)
    val want = Seq((0L, d0), (1L, d1)).sortBy(p => (-p._2, p._1))
    assert(got.toSeq == want, s"got ${got.toSeq}, want $want")
    assert(!got.map(_._1).contains(2L))
  }

  test("qlm: absent query terms still contribute background mass") {
    import spark.implicits._
    // both docs contain 'join' once and have EQUAL length; d0 also
    // contains 'hash'. Under tf-only scoring d0 and d1 tie on 'join' and
    // d1 never pays for missing 'hash'; under QL d1 is penalized by the
    // background probability, so d0 must rank strictly first
    val docs = Seq(
      (0L, "hash join pad", "en", "w", 3L),
      (1L, "scan join pad", "en", "w", 3L))
    val dir = tempDir("qlm_bg")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = RetrievalOps.qlmFor(spark, dir, Seq(0 -> "hash join")).collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSeq == Seq(0L, 1L))
    assert(got(0).getAs[Long]("score_micro") > got(1).getAs[Long]("score_micro"))
  }

  test("qlm index probe: identical rows to inline; cf merges through an incremental fold") {
    import spark.implicits._
    val idx = tempDir("qlm_idx")
    RetrievalOps.buildLexIndex(spark, Sf0001, idx)
    assert(RetrievalOps.qlmFromIndex(spark, idx).collect().toSeq ==
      RetrievalOps.qlm(spark, Sf0001).collect().toSeq)
    // folding a crawl batch must merge the background distribution:
    // touched terms gain exactly the batch occurrences, others are unchanged
    val out = tempDir("qlm_idx_out")
    RetrievalOps.updateLexIndex(spark, idx,
      Seq((9000001L, "hash join hash")).toDF("doc_id", "text"), out)
    val before = spark.read.parquet(s"$idx/cf").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = spark.read.parquet(s"$out/cf").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("hash") == before.getOrElse("hash", 0L) + 2L)
    assert(after("join") == before.getOrElse("join", 0L) + 1L)
    assert((after - "hash" - "join") == (before - "hash" - "join"))
  }

  test("qlm plan: no cartesian/nested-loop anywhere; query relation broadcasts") {
    // the candidate × query-term expansion and every stats join must be
    // keyed: a relation this small tempts the planner into a nested
    // loop only if a join lost its equi-condition
    val plan = RetrievalOps.qlm(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"query/cf relations must broadcast:\n$plan")
  }

  test("qlm: real store — candidates carry a query term, scores descend, deterministic") {
    val rows = RetrievalOps.qlm(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getAs[Int]("q_id"))
    byQ.foreach { case (_, rs) =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.length))
      val scores = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("score_micro"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(scores.forall(_ < 0L)) // log-probabilities are negative
    }
    val vocab = RetrievalOps.DefaultQueries.flatMap(_._2.split(" ")).toSet
    val docTerms = Tables(spark, Sf0001, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").toLowerCase.split(" ").toSet).toMap
    rows.foreach { r =>
      val qt = RetrievalOps.DefaultQueries(r.getAs[Int]("q_id"))._2.split(" ").toSet
      assert(docTerms(r.getAs[Long]("doc_id")).exists(qt.contains),
        "candidate must match at least one query term")
    }
    assert(vocab.nonEmpty)
    assert(RetrievalOps.qlm(spark, Sf0001).collect().toSeq == rows.toSeq)
  }

  test("sharedRun: cached run tables row-identical to the live pipelines; rebuild after release") {
    SessionMemo.releaseAll()
    val before = persistentRddIds()
    for (which <- Seq("bm25", "rrf", "prf")) {
      val live = (which match {
        case "bm25" => RetrievalOps.bm25(spark, Sf0001)
        case "rrf"  => RetrievalOps.rrfHybrid(spark, Sf0001)
        case "prf"  => RetrievalOps.bm25Prf(spark, Sf0001)
      }).collect().toSeq
      assert(live.nonEmpty, which)
      assert(RetrievalOps.sharedRun(spark, Sf0001, which).collect().toSeq == live,
        s"cached $which run diverged from the live pipeline")
    }
    // release path: the checkpointed runs leave executor storage and the
    // next consumer rebuilds from the live pipeline
    val built = persistentRddIds() -- before
    assert(built.nonEmpty, "the run memo must hold checkpointed RDDs")
    SessionMemo.releaseAll()
    assert(persistentRddIds().intersect(built).isEmpty,
      "releaseAll must free the checkpointed run RDDs")
    assert(RetrievalOps.sharedRun(spark, Sf0001, "bm25").collect().toSeq ==
      RetrievalOps.bm25(spark, Sf0001).collect().toSeq)
  }

  test("eval consumers: identical rows across a run/qrels cache release") {
    SessionMemo.releaseAll()
    val before = persistentRddIds()
    val summary = EvalOps.bm25EvalSummary(spark, Sf0001).collect().toSeq
    val perQ = EvalOps.bm25NdcgPerQuery(spark, Sf0001).collect().toSeq
    val built = persistentRddIds() -- before
    assert(built.nonEmpty, "the run and qrels memos must hold checkpointed RDDs")
    SessionMemo.releaseAll()
    assert(persistentRddIds().intersect(built).isEmpty,
      "releaseAll must free the checkpointed run and qrels RDDs")
    assert(EvalOps.bm25EvalSummary(spark, Sf0001).collect().toSeq == summary)
    assert(EvalOps.bm25NdcgPerQuery(spark, Sf0001).collect().toSeq == perQ)
  }
}
