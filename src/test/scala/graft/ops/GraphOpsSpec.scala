package graft.ops

import graft.SparkSpec

/** PageRank semantics on planted graphs where the stationary structure
  * is known, plus conservation/determinism invariants. The Registry hash
  * oracle pins the exact integer arithmetic; these pin WHY. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ranksOf(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val sym = pairs ++ pairs.map(_.swap)
    GraphOps.pageRankOf(sym.distinct.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("star graph: the hub dominates, leaves tie exactly") {
    val star = (1L to 8L).map(l => (0L, l))
    val r = ranksOf(star)
    val leaves = (1L to 8L).map(r)
    assert(leaves.distinct.size == 1, "leaves must be symmetric-identical")
    assert(r(0L) > leaves.head * 3, s"hub ${r(0L)} must dominate leaf ${leaves.head}")
  }

  test("regular ring: perfect symmetry, ranks all equal, mass conserved") {
    val n = 10L
    val ring = (0L until n).map(i => (i, (i + 1) % n))
    val r = ranksOf(ring)
    assert(r.values.toSeq.distinct.size == 1, "regular graph must be uniform")
    val total = r.values.sum
    // floor losses: <= 1 unit per node and per edge per iteration
    val slack = GraphOps.Iters * (n + 2 * n) + n
    assert(total <= GraphOps.RankScale && total >= GraphOps.RankScale - slack,
      s"mass $total strayed from ${GraphOps.RankScale}")
  }

  test("two disconnected components: per-component mass tracks component size") {
    // K3 (nodes 0-2) plus an isolated edge pair (10-11)
    val g = Seq((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L))
    val r = ranksOf(g)
    val k3 = Seq(0L, 1L, 2L).map(r).sum
    val pair = Seq(10L, 11L).map(r).sum
    // 3/5 vs 2/5 of the mass, up to floor slack
    assert(math.abs(k3 - GraphOps.RankScale * 3 / 5) < 1000)
    assert(math.abs(pair - GraphOps.RankScale * 2 / 5) < 1000)
  }

  test("label propagation: blob structure recovers labels from 20% seeds") {
    def unit(axis: Int, jitter: Float, j2: Int): Array[Float] = {
      val v = Array.fill(64)(0.0f); v(axis) = 1.0f; v(j2 % 64) = jitter; v
    }
    // blob A: ids 0-9 (seeds 0,5 -> label 0); blob B: 100-109 (seeds 100,105 -> label 1)
    val rows =
      (0L to 9L).map(i => (i, unit(0, 0.01f * (i % 4), 1 + (i % 4).toInt), 0)) ++
        (100L to 109L).map(i => (i, unit(30, 0.01f * (i % 4), 31 + (i % 4).toInt), 1))
    val dir = tempDir("lp_blobs")
    rows.toDF("vec_id", "embedding", "label").repartition(3)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pred = GraphOps.labelProp(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pred.size == 20)
    (0L to 9L).foreach(i => assert(pred(i) == 0, s"vec $i got ${pred(i)}"))
    (100L to 109L).foreach(i => assert(pred(i) == 1, s"vec $i got ${pred(i)}"))
  }

  test("label propagation: seeds clamp to truth, predictions stay in the label domain") {
    val emb = graft.ops.Tables(spark, Sf0001, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pred = GraphOps.labelProp(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pred.size == emb.size)
    val domain = emb.values.toSet + (-1)
    pred.foreach { case (id, p) =>
      assert(domain.contains(p))
      if (id % 5 == 0) assert(p == emb(id), s"seed $id drifted to $p")
    }
  }

  test("skew armor: salted hub ranks are bit-identical to the unsalted plan") {
    import org.apache.spark.sql.functions.col
    // hub 0 with 40 leaves (symmetrized out-degree 40) plus a cold tail;
    // hotDegree=8 forces the hub's edges through the salted join path
    // while leaves stay on salt 0 — the planted power-law shape
    val pairs = (1L to 40L).map(l => (0L, l)) ++ Seq((41L, 42L), (42L, 43L))
    val sym = (pairs ++ pairs.map(_.swap)).distinct.toDF("src", "dst")
    val unsalted = GraphOps.pageRankOf(sym).collect().toSeq
    val salted = GraphOps.pageRankOf(sym, hotDegree = 8L).collect().toSeq
    // integer sums are order-independent: identical rows, not just close
    assert(salted == unsalted)
    // and the armor actually engaged: the hub's edges carry >1 salt value
    val degs = sym.groupBy(col("src")).count()
    assert(degs.filter(col("count") >= 8).count() >= 1)
  }

  test("rank lineage is truncated per iteration: final plan is O(1) in Iters") {
    // each round ends in localCheckpoint, so the returned frame's plan is
    // a sort over the checkpointed RDD — no nested per-iteration joins.
    // Without the checkpoint this plan would hold Iters join+agg layers.
    val ranks = GraphOps.pageRankOf(
      Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L)).toDF("src", "dst"))
    val plan = ranks.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      s"expected checkpointed scan:\n$plan")
    assert(!plan.contains("Join"), s"lineage not truncated:\n$plan")
  }

  test("real purchase graph: deterministic, node ids partition by parity") {
    val a = GraphOps.pageRank(spark, Sf0001).collect()
    val b = GraphOps.pageRank(spark, Sf0001).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
    val (supp, cust) = a.partition(_.getLong(0) % 2 == 0)
    assert(supp.nonEmpty && cust.nonEmpty)
  }

  test("ppr: uniform seed set reproduces plain pagerank bit-for-bit") {
    import spark.implicits._
    val e0 = Seq((2L, 3L), (2L, 5L), (4L, 3L), (4L, 7L), (6L, 7L))
    val sym = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val plain = GraphOps.pageRankOf(sym).collect().toSeq
    val ppr = GraphOps.pageRankCore(sym, GraphOps.HotDegree,
      Some(org.apache.spark.sql.functions.lit(true))).collect().toSeq
    assert(ppr == plain)
  }

  test("ppr: teleport mass restarts only at the seeds") {
    val rows = GraphOps.personalizedPageRank(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val ranks = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seeds = ranks.keys.filter(_ % 10 == 0)
    assert(seeds.nonEmpty)
    // node set identical to the uniform walk's (same graph, same spine)
    val uni = GraphOps.pageRank(spark, Sf0001).collect().map(_.getLong(0)).toSet
    assert(ranks.keySet == uni)
    // every rank non-negative; every seed holds at least its teleport
    // share (the 15% restart never leaves the seed set)
    val base = GraphOps.RankScale * 15 / 100 / seeds.size
    assert(ranks.values.forall(_ >= 0L))
    seeds.foreach(s => assert(ranks(s) >= base))
    // total mass is bounded by the injected mass (floor losses only
    // shrink it): initial RankScale decays ×0.85/round plus 3 teleports
    val total = ranks.values.sum
    assert(total <= GraphOps.RankScale * 2)
    assert(total > 0L)
  }

  test("hits: a supplier covering every customer is the top hub; roles partition by parity") {
    import spark.implicits._
    val fix = tempDir("hits_fix")
    // supplier 1 sells to all 6 customers; suppliers 2..4 to one each
    val li = (1L to 6L).map(c => (c, 1L)) ++ Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val ord = (1L to 6L).map(o => (o, o)) // order o belongs to customer o
    li.toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$fix/lineitem.parquet")
    ord.toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$fix/orders.parquet")
    val rows = GraphOps.hits(spark, fix).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val hubs = rows.filter(_._2 == "hub")
    val auths = rows.filter(_._2 == "authority")
    // bipartite reading is exact: hubs even (suppliers), auths odd
    assert(hubs.nonEmpty && hubs.forall(_._1 % 2 == 0))
    assert(auths.nonEmpty && auths.forall(_._1 % 2 == 1))
    // the all-customer supplier (node 2) strictly dominates every other hub
    val top = hubs.maxBy(_._3)
    assert(top._1 == 2L, s"top hub ${top._1}")
    assert(hubs.filter(_._1 != 2L).forall(_._3 < top._3))
    // two-supplier customers (1,2,3 → nodes 3,5,7) tie as top
    // authorities by symmetry; single-supplier customers rank strictly
    // below them
    val aScore = auths.map(r => r._1 -> r._3).toMap
    val twoSupp = Seq(3L, 5L, 7L).map(aScore)
    val oneSupp = Seq(9L, 11L, 13L).map(aScore)
    assert(twoSupp.distinct.size == 1)
    assert(oneSupp.forall(_ < twoSupp.head))
    // determinism
    assert(GraphOps.hits(spark, fix).collect().toSeq ==
      GraphOps.hits(spark, fix).collect().toSeq)
  }

  test("triangles: planted triangle counted once per vertex, 4-cycle and weak edges excluded") {
    import spark.implicits._
    // orders as baskets; an edge needs co-purchase support >= 2:
    //  - parts 1,2,3 pairwise co-bought twice        → one triangle
    //  - parts 11..14 form a 4-cycle (support 2 each) → chordless, none
    //  - parts 1,99 co-bought ONCE                    → below threshold
    val baskets = Seq(
      100L -> Seq(1L, 2L, 3L), 101L -> Seq(1L, 2L, 3L),
      110L -> Seq(11L, 12L), 111L -> Seq(11L, 12L),
      112L -> Seq(12L, 13L), 113L -> Seq(12L, 13L),
      114L -> Seq(13L, 14L), 115L -> Seq(13L, 14L),
      116L -> Seq(14L, 11L), 117L -> Seq(14L, 11L),
      120L -> Seq(1L, 99L))
    val rows = baskets.flatMap { case (o, ps) => ps.map(p => (o, p)) }
    val fix = tempDir("tri")
    rows.toDF("l_orderkey", "l_partkey").repartition(3)
      .write.mode("overwrite").parquet(s"$fix/lineitem.parquet")
    val got = GraphOps.triangleCounts(spark, fix).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  private def symEdges(pairs: Seq[(Long, Long)]) =
    (pairs ++ pairs.map(_.swap)).distinct.toDF("src", "dst")

  test("k-core: tail peels layer by layer, the cycle survives as the 2-core") {
    // 5-cycle (0-4) with a 3-node tail 4-5-6-7: node 7 falls in round 1,
    // 6 in round 2, 5 in round 3 — a cascade DEEPER than the corpus
    // oracle's fixpoint, proving the loop iterates to convergence rather
    // than stopping at a fixed round count
    val g = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L),
      (4L, 5L), (5L, 6L), (6L, 7L))
    val core = GraphOps.kcoreOf(symEdges(g), 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == (0L to 4L).map(_ -> 2L).toMap,
      s"2-core must be exactly the cycle at degree 2, got $core")
  }

  test("k-core: a path has no 2-core — the cascade empties the graph") {
    val path = (0L until 5L).map(i => (i, i + 1))
    assert(GraphOps.kcoreOf(symEdges(path), 2).collect().isEmpty)
  }

  test("degree histogram: log2 buckets split star hub from leaves exactly") {
    // star: hub 0 with 8 leaves (deg 8 → bucket 3), leaves deg 1 → bucket 0,
    // plus a 4-cycle (deg 2 → bucket 1)
    val g = (1L to 8L).map(l => (0L, l)) ++
      Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L))
    val h = GraphOps.degreeHistogramOf(symEdges(g)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(h == Map(
      0L -> ((8L, 1L, 1L, 8L)),   // 8 leaves, deg 1
      1L -> ((4L, 2L, 2L, 8L)),   // cycle nodes, deg 2
      3L -> ((1L, 8L, 8L, 8L)))) // the hub, deg 8
  }

  test("modularity: two triangles with a bridge — hand-computed Q = 5/14") {
    // triangles {1,2,3} (community 0) and {4,5,6} (community 1), bridge 3-4:
    // m = 7, m2 = 14, per community e_in = 3, deg_sum = 7 →
    // qn = 6·14 − 49 = 35, q_contrib = 35/196, Q = 70/196 = 5/14
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val labels = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L), (6L, 1L))
      .toDF("node", "community")
    val rows = GraphOps.modularityOf(symEdges(g), labels).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_nodes") == 3 && r.getAs[Long]("deg_sum") == 7
        && r.getAs[Long]("e_in") == 3)
      assert(r.getAs[Double]("q_contrib") == 35.0 / 196.0)
      assert(r.getAs[Double]("q_total") == 70.0 / 196.0)
    }
  }

  test("assortativity: star is exactly −1, regular ring is NULL, real graph in band") {
    // star: endpoint-degree pairs are (n,1) and (1,n) — algebra gives
    // num = −n²(n−1)², den = n²(n−1)² → r = −1 exactly
    val star = symEdges((1L to 8L).map(l => (0L, l)))
    val s = GraphOps.assortativityOf(star).collect()(0)
    assert(s.getAs[Long]("n_edges_sym") == 16 && s.getAs[Long]("n_nodes") == 9)
    assert(s.getAs[Double]("assortativity") == -1.0)
    // degree-regular graph: zero variance → NULL, never a blowup
    val ring = symEdges((0L until 6L).map(i => (i, (i + 1) % 6)))
    val rr = GraphOps.assortativityOf(ring).collect()(0)
    assert(rr.isNullAt(rr.fieldIndex("assortativity")))
    // the real purchase graph: defined and inside the Pearson band
    val real = GraphOps.degreeAssortativity(spark, Sf0001).collect()(0)
    val r = real.getAs[Double]("assortativity")
    assert(r > -1.0 && r < 1.0)
  }

  test("rich-club: clique is exactly 1, two-hub bridge is 1 above leaf degree, star is NULL") {
    // K4: every degree is 3 > 1,2 → all 12 symmetrized rows qualify and
    // φ = 12/(4·3) = 1 exactly; no degree exceeds 4 → NULL from k=4 up
    val k4 = symEdges(for { i <- 0L to 3L; j <- (i + 1) to 3L } yield (i, j))
    val cl = GraphOps.richClubOf(k4).collect()
      .map(r => r.getAs[Long]("k") ->
        (if (r.isNullAt(r.fieldIndex("phi"))) None
         else Some(r.getAs[Double]("phi")))).toMap
    assert(cl(1L).contains(1.0) && cl(2L).contains(1.0))
    assert(cl(4L).isEmpty && cl(32L).isEmpty)
    // two hubs (deg 4 each: the bridge + 3 leaves) joined by one edge:
    // above leaf degree the club is {A, B} with the bridge between them
    // → φ(1) = 2/(2·1) = 1; at k=4 nobody qualifies → NULL
    val hubs = symEdges(Seq((0L, 100L)) ++
      (1L to 3L).map(l => (0L, l)) ++ (101L to 103L).map(l => (100L, l)))
    val hb = GraphOps.richClubOf(hubs).collect()
      .map(r => r.getAs[Long]("k") ->
        (if (r.isNullAt(r.fieldIndex("phi"))) None
         else Some(r.getAs[Double]("phi")))).toMap
    assert(hb(1L).contains(1.0) && hb(4L).isEmpty)
    // star: only the hub clears deg > 1, and a 1-node club has no
    // possible edges → NULL at every threshold (the n(n−1) guard)
    val star = symEdges((1L to 8L).map(l => (0L, l)))
    val st = GraphOps.richClubOf(star).collect()
    assert(st.forall(r => r.isNullAt(r.fieldIndex("phi"))))
    // real purchase graph: bounded 6-row curve, φ ∈ [0, 1] wherever the
    // club has ≥ 2 members, and club size shrinks monotonically in k
    val real = GraphOps.richClub(spark, Sf0001).collect()
    assert(real.length == GraphOps.RichClubKs.length)
    val sizes = real.map(_.getAs[Long]("n_rich"))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a >= b })
    real.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("phi"))) {
        val p = r.getAs[Double]("phi")
        assert(p >= 0.0 && p <= 1.0, s"phi $p out of band at k=${r.getAs[Long]("k")}")
      }
    }
  }

  test("k-hop reach: chain walks one hop at a time; star saturates; islands stay out") {
    // chain 0-1-2-3-4-5: max degree is 2, ties break to node 1 → BFS
    // from 1: frontiers {1},{0,2},{3},{4}; reach 1,3,4,5
    val chain = symEdges((0L to 4L).map(i => (i, i + 1)))
    val ch = GraphOps.khopOf(chain).collect()
      .map(r => r.getAs[Long]("hop") ->
        ((r.getAs[Long]("frontier_size"), r.getAs[Long]("reach_size")))).toMap
    assert(ch(0L) == ((1L, 1L)) && ch(1L) == ((2L, 3L)))
    assert(ch(2L) == ((1L, 4L)) && ch(3L) == ((1L, 5L)))
    // star: the hub IS the seed; hop 1 grabs every leaf, then nothing
    val star = symEdges((1L to 8L).map(l => (0L, l)))
    val st = GraphOps.khopOf(star).collect()
      .map(r => r.getAs[Long]("hop") ->
        ((r.getAs[Long]("frontier_size"), r.getAs[Long]("reach_size")))).toMap
    assert(st(0L) == ((1L, 1L)) && st(1L) == ((8L, 9L)))
    assert(st(2L) == ((0L, 9L)) && st(3L) == ((0L, 9L)))
    // disconnected island: never reached, whatever the hop budget
    val split = symEdges(Seq((0L, 1L), (0L, 2L), (10L, 11L)))
    val sp = GraphOps.khopOf(split).collect()
    assert(sp.map(_.getAs[Long]("reach_size")).max == 3L)
    // real purchase graph: reach is nondecreasing and bounded by the
    // node count; frontier 0 ⇒ reach frozen thereafter. Bracketed by a
    // storage-release check (r14 ADVICE): a call may grow the session's
    // persistent-RDD set by AT MOST its own bounded (Hops+1)-row
    // readout — all 9 frontier/visited layers must be explicitly
    // unpersisted, or sweep JVMs bleed headroom call over call (delta,
    // not absolute: other tests' checkpoints are theirs). The shared
    // session edge memo is pre-warmed OUTSIDE the bracket — it outlives
    // the call by design and is freed by SessionMemo.releaseAll.
    GraphOps.sharedEdges(spark, Sf0001).count()
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val real = GraphOps.khopReach(spark, Sf0001).collect()
    val cachedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(cachedAfter - cachedBefore <= 1,
      s"khopOf leaked cached RDDs: $cachedBefore -> $cachedAfter across one call")
    val reach = real.map(_.getAs[Long]("reach_size"))
    assert(reach.zip(reach.tail).forall { case (a, b) => b >= a })
  }

  test("modularity: single community is exactly zero; nation partition conserves mass") {
    import org.apache.spark.sql.functions.{col, lit}
    // everything in one community: Σd_c = m2 and all edges intra ⇒ Q = 0
    // exactly (qn = m2·m2 − m2²) — the identity anchor
    val tri = symEdges(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    val one = GraphOps.modularityOf(tri, tri.select(col("src").as("node"))
      .distinct().withColumn("community", lit(9L))).collect()(0)
    assert(one.getAs[Double]("q_contrib") == 0.0 && one.getAs[Double]("q_total") == 0.0)
    // real purchase graph: every endpoint is labeled, so degree mass
    // partitions exactly across communities (Σ deg_sum = m2 = 2·Σe_in
    // + inter-edge count) and Q sits in the defined band
    val real = GraphOps.nationModularity(spark, Sf0001).collect()
    assert(real.nonEmpty)
    val m2 = real.map(r => r.getAs[Long]("deg_sum")).sum
    val intra2 = real.map(r => 2 * r.getAs[Long]("e_in")).sum
    assert(intra2 <= m2)
    val q = real.head.getAs[Double]("q_total")
    assert(real.forall(_.getAs[Double]("q_total") == q))
    assert(q > -1.0 && q < 1.0)
  }

  test("modularity: a PARTIAL labeling is scored against the true graph mass") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // two triangles + bridge (m2 = 14), but only triangle {1,2,3} is
    // labeled: 2m must still be the FULL edge count — deriving it as
    // Σ deg_sum over the community table (= 7 here) would silently
    // shrink the graph to the labeled subgraph and inflate Q.
    // Community 0: e_in2 = 6, deg_sum = 7 → qn = 6·14 − 49 = 35,
    // Q = 35/196 (exactly half the total-labeling 70/196)
    val g = symEdges(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)))
    val partial = Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("node", "community")
    val r = GraphOps.modularityOf(g, partial).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("deg_sum") == 7 && r.head.getAs[Long]("e_in") == 3)
    assert(r.head.getAs[Double]("q_contrib") == 35.0 / 196.0)
    assert(r.head.getAs[Double]("q_total") == 35.0 / 196.0)
    // and the nation labeling really is total (the oracle-alignment
    // precondition the registry entry relies on): every edge endpoint
    // is a labeled supplier or customer node
    val e = GraphOps.edgesOf(spark, Sf0001)
    val lab = Tables(spark, Sf0001, "supplier")
      .select((col("s_suppkey") * 2).as("node"))
      .union(Tables(spark, Sf0001, "customer")
        .select((col("c_custkey") * 2 + 1).as("node")))
    assert(e.select(col("src").as("node")).except(lab).count() == 0)
  }

  test("transitivity: planted graphs hand-compute; real graph reconciles with triangles") {
    import spark.implicits._
    def cOf(pairs: Seq[(Long, Long)]) = {
      val r = GraphOps.transitivityOf(pairs.toDF("pa", "pb")).collect()(0)
      (r.getAs[Long]("n_edges"), r.getAs[Long]("n_triangles"),
        if (r.isNullAt(r.fieldIndex("transitivity"))) Double.NaN
        else r.getAs[Double]("transitivity"))
    }
    // a triangle: T = 1, wedges Σd(d−1)/2 = 3 → C = 1 exactly
    assert(cOf(Seq((1L, 2L), (1L, 3L), (2L, 3L))) == ((3L, 1L, 1.0)))
    // a star: 3 wedges through the hub, zero closed → C = 0 exactly
    assert(cOf(Seq((0L, 1L), (0L, 2L), (0L, 3L))) == ((3L, 0L, 0.0)))
    // a single edge: no wedge exists → NULL, never a zero division
    assert(cOf(Seq((1L, 2L)))._3.isNaN)
    // real co-purchase graph: the global readout must reconcile with
    // the per-part participation view (each triangle counted at its
    // three corners), and C is a closed-fraction in [0, 1]
    val g = GraphOps.globalTransitivity(spark, Sf0001).collect()(0)
    val partSum = GraphOps.triangleCounts(spark, Sf0001).collect()
      .map(_.getAs[Long]("n_triangles")).sum
    assert(3L * g.getAs[Long]("n_triangles") == partSum)
    val c = g.getAs[Double]("transitivity")
    assert(c >= 0.0 && c <= 1.0)
  }
}
