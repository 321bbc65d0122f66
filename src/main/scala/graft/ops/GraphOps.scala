package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** PageRank over the supplier↔customer purchase graph — "which entities
  * anchor the trade network": nodes are suppliers (even ids, 2k) and
  * customers (odd ids, 2k+1) that co-occur on an order line; edges are
  * the distinct (supplier, customer) pairs, symmetrized so the walk has
  * no dangling nodes. Reference analogue: none — this is the engine's
  * iterative-graph-analytics surface next to ClusterOps' connected
  * components.
  *
  * Determinism (same playbook as [[KmeansOps]]): ranks live in scaled
  * int64 units (1e12 total mass), every step is integer floor division
  * and integer sums — `rank div deg` per edge, `(85·Σ) div 100` damping,
  * `((1e12·15) div 100) div N` teleport — so three iterations of an
  * iterative algorithm are reproduced bit-for-bit by an unrolled DuckDB
  * CTE and the final ranks hash-match. Floor loss per step is ≤ 1 unit
  * per edge/node on a 1e12 scale — irrelevant analytically, identical
  * in both engines.
  *
  * Scale shape per iteration: one keyed join (edges ⋈ ranks on src —
  * both sides hash-partitioned on the same key, AQE reuses the
  * exchange) and one map-side-combined sum on dst; nothing ever reaches
  * the driver but the node count (one scalar). Edge degrees ride ON the
  * edge rows (joined once up front), so the per-iteration join is
  * binary. At 100 TB the edge list persists once
  * (MEMORY_AND_DISK — the ClusterOps pattern); at test scale the 3×
  * rescan is cheaper than the cache churn, and the plan is otherwise
  * identical. */
object GraphOps {

  /** Total rank mass in scaled units (1e12: floor losses are 1-unit). */
  val RankScale = 1000000000000L
  val Iters = 3

  /** Lineage-truncation cadence: checkpoint every 3rd iteration (and the
    * final one). Plan depth between checkpoints stays ≤ 3 join+agg
    * layers — O(1) in Iters — while the eager |V|-row materializations
    * drop from one-per-iteration to one-per-three (the round-9 bench
    * flag: per-iteration checkpointing serialized 3 materializations
    * that one execution of the 3-layer plan does in a single job). */
  val CheckpointEvery = 3

  /** Out-degree at which a node's edges get salted across [[Salts]]
    * sub-keys in the per-iteration rank join. A hub with out-degree d
    * puts all d of its edge rows in ONE task of the hash join on src —
    * the classic power-law hot key. Below the threshold nothing changes
    * (every salt is 0 and the replica spine is exactly the node list);
    * the default only trips on genuine hubs, far above any key in the
    * synthetic graphs, so the oracle plans and rows are untouched. The
    * downstream groupBy(dst) contribution sum needs no armor of its own:
    * it is already two-phase (map-side partial sums bound the reduce
    * side to one row per task per key). */
  val HotDegree = 1L << 20
  val Salts = 16

  /** Symmetrized distinct purchase edges (spec-visible so the
    * nation-labeling totality precondition can be asserted). The half
    * list is CANONICALIZED (src < dst via least/greatest) BEFORE the
    * distinct, so a consumer that reduces back to the half —
    * modularityOf's src < dst filter — keeps one union branch whole
    * and empties the other while BOTH branches reference the identical
    * half subtree: single execution of the fact join + distinct is
    * then guaranteed BY CONSTRUCTION, not by whether the optimizer
    * declines to push the filter into the two branches asymmetrically
    * (measured: records identical pre/post at sf0.1 and sf1 — today's
    * Spark already kept one subtree; this pins it against planner
    * drift). The pair {2s, 2c+1} is unique per (supplier, customer),
    * so canonicalizing cannot merge rows and the symmetric set is
    * unchanged. */
  private[ops] def edgesOf(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val s = col("l_suppkey") * 2
    val c = col("o_custkey") * 2 + 1
    val half = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(least(s, c).as("src"), greatest(s, c).as("dst"))
      .distinct()
    half.union(half.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Run `body` (plan CONSTRUCTION and the eager actions inside it)
    * with AQE off, restoring the ambient setting after. Why the
    * iterative cores (pageRank, HITS) want static planning: their
    * pinned caches are deliberately laid out on the iteration join key,
    * but an AQE-compiled cached plan is wrapped in an AdaptiveSparkPlan
    * whose output partitioning stays opaque until execution, so every
    * consumer query RE-EXCHANGES the pinned rows the layout already
    * placed (measured: pagerank re-shuffled its 550 K-row annotated
    * edge cache once per execution, HITS its 275 K-row directed half
    * once per half-step ACTION — ReuseExchange cannot dedup across the
    * eager checkpoints). Compiled statically, the cache scan REPORTS
    * hashpartitioning(key, n) and the hinted shuffle-hash joins plan
    * exchange-free on the edge side. These loop queries are fixed-shape
    * (pinned join strategies, fixed partition counts, |V|-scale
    * shuffles), so none of AQE's runtime decisions are needed inside;
    * everything around them keeps the ambient AQE. */
  private def withAqeOff[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** Pin `df` for a multi-scan core UNLESS the caller already handed in
    * pinned storage (the [[sharedEdges]] path): the cores persist their
    * input because they traverse it several times, but double-pinning a
    * shared cache would hold a second |E|-row copy per call. Returns the
    * frame plus whether THIS call owns (and must release) the pin. */
  private def pinned(df: DataFrame): (DataFrame, Boolean) =
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) (df, false)
    else (df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), true)

  /** ONE pinned copy of the symmetrized purchase-edge list per
    * (session, data dir) — the shared spine of the whole graph family.
    * Before this memo every one-shot entry (assortativity, rich club,
    * k-hop, k-core, modularity, pagerank, ppr) re-ran the fact join +
    * distinct + symmetrize from parquet (4–6.5 s each in the r15 sf0.1
    * sweep); the rest now read executor storage. Bounded: one |E|-row
    * copy per distinct data dir. */
  private[ops] def sharedEdges(spark: SparkSession, dir: String): DataFrame =
    SessionMemo(spark, "graph.sym", dir)(edgesOf(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The co-purchase analogue of [[sharedEdges]] for the triangle /
    * transitivity pair (a DIFFERENT graph: support-filtered part
    * co-occurrence, see [[coEdges]]). */
  private[ops] def sharedCoEdges(spark: SparkSession, dir: String): DataFrame =
    SessionMemo(spark, "graph.co", dir)(coEdges(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The DIRECTED supplier→customer half for [[hits]] — derived from
    * [[sharedEdges]] (supplier nodes are even, so filtering the
    * symmetrized list to even src yields each distinct pair exactly once
    * in supplier→customer orientation), pinned TWICE: once
    * hash-partitioned on `src` (the authority half-step probes src) and
    * once on `dst` (the hub half-step probes dst), so every half-step
    * join resolves to an exchange-free zip over co-partitioned storage —
    * the pageRankCore pattern. Before the keyed pins, AQE broadcast the
    * EDGE relation into every half-step (the cached side carries
    * accurate ~4 MB stats at sf0.1 while the checkpointed |V|-row score
    * side carries none): four 64-task driver collects of the edge list
    * per warm call, ~40 s of task time for ~1 s of real work — and the
    * backwards shape at 100 TB, where |E| breaks the 8 GB broadcast cap
    * long before |V| scores stress a shuffle-hash build side. */
  private[ops] def sharedDirectedEdgesBy(spark: SparkSession, dir: String,
      key: String): DataFrame =
    SessionMemo(spark, "graph.directed", (key, dir)) {
      val df = sharedEdges(spark, dir)
        .filter(col("src") % 2 === 0)
        .repartition(col(key))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // materialize NOW: an unmaterialized cached plan is AQE-wrapped
      // with isFinalPlan false and reports no output partitioning, so a
      // consumer planned against it re-exchanges the edge rows the
      // repartition above already placed; once the final plan exists the
      // keyed layout is visible and every half-step join plans
      // exchange-free.
      df.count()
      df
    }

  def pageRank(spark: SparkSession, dir: String): DataFrame =
    pageRankOf(sharedEdges(spark, dir))

  def pageRankOf(rawEdges: DataFrame): DataFrame =
    pageRankOf(rawEdges, HotDegree)

  /** Personalized PageRank (random walk with restart): identical integer
    * trajectory to [[pageRank]], except teleport mass restarts ONLY at
    * the seed set — the "importance relative to these nodes" ranking
    * behind graph-based curation (expand a trusted seed corpus along
    * co-occurrence edges) and related-item serving. Seeds here: supplier
    * nodes whose suppkey is divisible by 5 (node % 10 == 0 under the
    * even/odd encoding) — a deterministic, oracle-replayable slice.
    * Initial mass sits entirely on the seeds, so round r ranks are
    * exactly "restart-discounted r-step walk mass from the seed set". */
  def personalizedPageRank(spark: SparkSession, dir: String): DataFrame =
    pageRankCore(sharedEdges(spark, dir), HotDegree, Some(col("node") % 10 === 0))

  /** Core loop over any symmetric (src, dst) edge pair set: attaches
    * out-degrees, then runs [[Iters]] integer-exact rank rounds.
    * `hotDegree` gates the skew armor (see [[HotDegree]]): edges whose
    * src out-degree reaches it are salted by hash(dst) into [[Salts]]
    * sub-keys and the rank side is replicated per salt, so a hub's edge
    * rows spread over Salts join tasks instead of one. Integer sums are
    * order-independent, so the salted and unsalted plans produce
    * bit-identical ranks (pinned by spec). */
  def pageRankOf(rawEdges: DataFrame, hotDegree: Long): DataFrame =
    pageRankCore(rawEdges, hotDegree, None)

  /** Shared loop. `seed = None` is uniform PageRank (teleport and initial
    * mass spread over ALL nodes — the historical behavior, bit-for-bit);
    * `seed = Some(p)` restricts both to the nodes satisfying `p` over
    * `col("node")` (personalized PageRank). Uniform ≡ `Some(lit(true))`
    * exactly — spec-pinned — because the mass denominator is then |V|. */
  private[graft] def pageRankCore(rawEdges: DataFrame, hotDegree: Long,
      seed: Option[org.apache.spark.sql.Column]): DataFrame =
    // the loop is fixed-shape; plan it statically so the pinned caches'
    // keyed layout is visible and the hinted joins plan exchange-free
    // (see withAqeOff — measured: the AQE-wrapped cache re-shuffled all
    // 550 K annotated edge rows once per execution)
    withAqeOff(rawEdges.sparkSession) {
      pageRankCoreBody(rawEdges, hotDegree, seed)
    }

  private def pageRankCoreBody(rawEdges: DataFrame, hotDegree: Long,
      seed: Option[org.apache.spark.sql.Column]): DataFrame = {
    // the NODE table is exactly the degree aggregate: edges are
    // symmetrized, so every node appears as src, and deg is functional
    // on src — one row per node. r15 derived it as an |E|-row
    // distinct + explicit repartition on top of the annotated edges;
    // both are redundant (the groupBy output is already one-row-per-node
    // AND hash-partitioned on the join key), so the cold build drops an
    // |E|-row exchange and a |V|-row exchange outright. Persisted: it
    // seeds the initial ranks and rebuilds the rank side of every
    // iteration's left join (as `spine` when unsalted) — the
    // session-lifetime materialized-index pattern.
    // Node and annotated-edge caches are memoized per CANONICALIZED
    // input plan, not just left to CacheManager plan-dedup: a rebuilt
    // Dataset per bench rep resolved to the same cached DATA but the
    // hinted annotation join's exchange was re-planned and re-executed
    // per rep (ledger: a flat 1.10M-record column that should have been
    // a one-time build). Returning the SAME Dataset objects makes every
    // later pageRank/PPR over this graph read pinned storage outright.
    val graph = rawEdges.queryExecution.analyzed.canonicalized
    val nodes = SessionMemo(rawEdges.sparkSession, "graph.nodes", graph)(
      rawEdges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), col("deg"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // persist the degree-annotated edge list: every one of the Iters
    // rounds joins it, and without the cache the whole upstream
    // lineage (fact join + distinct + symmetrize) re-executes per
    // round — the production pattern (ClusterOps does the same). The
    // deg side reads the nodes cache (same plan, renamed back), so
    // the aggregate runs once. The SHUFFLE_HASH hint pins the
    // annotation join to a shuffle join so the CACHED rows come out
    // hash-partitioned on src — the key every iteration's rank join
    // probes. Left to AQE, the tiny deg side broadcasts and the
    // cache inherits the raw union's partitioning, which re-bills a
    // full-|E| exchange to EVERY iteration of EVERY query over this
    // graph; one up-front |E| exchange into the cache amortizes
    // across the session instead.
    val edges0 = SessionMemo(rawEdges.sparkSession, "graph.annotated", graph)(rawEdges
      .join(nodes.select(col("node").as("src"), col("deg")).hint("shuffle_hash"),
        Seq("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // driver values: |V|, max out-degree, and the seed-set size, fused
    // into ONE bounded scalar action (max over node-level degrees ≡ max
    // over edge rows; the seed count rides the same pass instead of a
    // second count() job). The max decides whether the salted machinery
    // exists in the plan AT ALL — a uniform graph pays zero for the
    // armor, in plan shape and in work.
    val seedPred = seed.getOrElse(lit(true))
    val st = nodes.agg(count(lit(1)), max(col("deg")),
      count(when(seedPred, 1))).head
    val n = st.getLong(0)
    require(n > 0, "empty graph")
    val salted = st.getLong(1) >= hotDegree
    val edges =
      if (!salted) edges0
      // cheap projection over the cached rows — one hash per edge per
      // use, not worth a second persist
      else edges0.withColumn("salt",
        when(col("deg") >= hotDegree,
          pmod(xxhash64(col("dst")), lit(Salts.toLong)).cast("int"))
          .otherwise(lit(0)))
    // replica spine for the rank side of the per-iteration join: a hot
    // node carries one row per salt (its rank value is identical in all
    // replicas — each edge meets exactly the replica its salt selects);
    // cold nodes ride salt 0. Persisted because every iteration's rank
    // rebuild joins it (nodes itself is a distinct-agg over the cache).
    val spine =
      if (!salted) nodes
      else SessionMemo(rawEdges.sparkSession, "graph.spine", (graph, hotDegree))(
        nodes.select(col("node"),
          explode(when(col("deg") >= hotDegree, sequence(lit(0), lit(Salts - 1)))
            .otherwise(array(lit(0)))).as("salt"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val saltCols = if (salted) Seq(col("salt")) else Seq.empty
    // mass denominator: |V| for uniform, |S| for personalized — teleport
    // and initial mass are RankScale-scaled integer shares over it
    // (already counted inside the st action above)
    val massDen = if (seed.isEmpty) n else st.getLong(2)
    require(massDen > 0, "empty seed set")
    val isSeed = seedPred
    val base = RankScale * 15 / 100 / massDen
    var ranks = spine.select((col("node") +: saltCols) :+
      when(isSeed, lit(RankScale / massDen)).otherwise(lit(0L)).as("rank"): _*)
    for (i <- 1 to Iters) {
      val joinCond =
        if (salted) col("e.src") === col("r.node") && col("e.salt") === col("r.salt")
        else col("e.src") === col("r.node")
      // SHUFFLE_HASH hints are LOAD-BEARING: both per-iteration joins
      // read co-partitioned pinned caches (edges hash(src), spine/ranks
      // hash(node)), so shuffled-hash resolves to an exchange-free zip
      // join and the whole iteration chain pipelines as ONE job. Left
      // unhinted, AQE demotes them to broadcast joins (|V| ranks fit
      // under the threshold at test SFs) and every broadcast job
      // RE-EXECUTES the lazy prior-iteration chain — measured 4 extra
      // full-|E| passes per warm run at sf0.1 (the r15 32-core driver
      // regression, 2.34 s vs this plan's ~1.1 s). At scale the hint is
      // also the only shape that survives: a broadcast of |V| ranks dies
      // at the 8 GB relation cap long before the edge list stresses a
      // shuffle-hash build side.
      val sums = edges.as("e")
        .join(ranks.as("r").hint("shuffle_hash"), joinCond)
        .select(col("e.dst").as("dst"), expr("r.rank div e.deg").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
      ranks = spine.as("nd")
        .join(sums.as("sm").hint("shuffle_hash"),
          col("nd.node") === col("sm.dst"), "left")
        .select(col("nd.node").as("node") +: saltCols.map(_ => col("nd.salt").as("salt")) :+
          (when(isSeed, lit(base)).otherwise(lit(0L)) +
            expr("85 * coalesce(sm.s, 0L) div 100")).as("rank"): _*)
      // truncate the lineage every CheckpointEvery rounds (and at the
      // end): without this the rank plan nests one join+agg PER
      // iteration — fine at Iters=3, a stack/planning cliff the first
      // time someone runs 20 rounds at scale. localCheckpoint
      // materializes |V| scaled-int rows to executor block storage —
      // note this TRUNCATES lineage: the blocks are non-replicated and
      // there is no replay after a lost executor, so at cluster scale
      // (or with dynamic allocation) the fault-tolerant variant is a
      // reliable checkpoint() or persist+count. Right trade locally and
      // for the single-job shape; the oracle rows are untouched either
      // way (integer ranks are plan-independent).
      if (i % CheckpointEvery == 0 || i == Iters)
        ranks = ranks.localCheckpoint()
    }
    // the edge/node caches deliberately OUTLIVE the call (the
    // session-lifetime materialized-index pattern the scaladoc cites,
    // like ensureKnnIndex's warm index): the CacheManager canonicalizes
    // identical plans, so a later pageRank/PPR over the same inputs in
    // this session reads the cached graph instead of replaying the fact
    // join — releasing them here was measured (r15) to re-bill every
    // invocation the full edge build for storage that is bounded by one
    // graph copy per distinct input.
    (if (salted) ranks.filter(col("salt") === 0) else ranks)
      .select(col("node"), col("rank")).orderBy("node")
  }

  // ------------------------------------------------------------------
  // Semi-supervised label propagation over the exact kNN graph
  // ------------------------------------------------------------------

  /** Pseudo-labeling (the curation move when only a slice of the store
    * carries labels): a deterministic 20% seed set keeps its true label
    * clamped; every other vector takes the majority label of its k=5
    * nearest LABELED neighbors, synchronously, for [[LpRounds]] rounds —
    * standard label propagation (Zhu & Ghahramani '02) with integer
    * majority votes and ties to the lowest label, so the output is
    * hash-checkable end-to-end (the edge set is the exact-kNN anchor the
    * oracle already reproduces rank-for-rank in `x_sim_knn_exact`; at
    * production scale the one-line swap to LSH `knnJoin` edges trades
    * the oracle for throughput — documented, not served). Unreached
    * vectors report label −1.
    *
    * Scale shape per round: edges ⋈ current labels (keyed join), one
    * (node, label) count aggregate, one argmax reduce — all map-side
    * combined; nothing reaches the driver. */
  val LpRounds = 2

  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings").select(col("vec_id"), col("label"))
    // The exact-kNN edge construction is the QUADRATIC oracle anchor
    // (n ≤ ExactAllPairsMaxRows, require-gated) and it was LAZY: each
    // round's vote join re-executed the all-pairs subtree, measured at
    // 39.6× per 10× data by the r14 sweep. Persisted, the O(n²) pass
    // runs ONCE and the rounds iterate on the |V|·k-row cached edge
    // list (released after the final eager checkpoint). At 100 TB wire
    // [[labelPropOf]] over the bucketed knnJoin edges instead — the
    // iteration is edge-source agnostic; THIS entry keeps exact edges
    // so DuckDB can replay the whole fixpoint.
    val edges = SimilarityOps.knnExact(spark, dir)
      .select(col("q_id").as("node"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = labelPropOf(edges, emb)
    edges.unpersist()
    out
  }

  /** The synchronous label-propagation fixpoint over ANY (node,
    * neighbor_id) edge relation and (vec_id, label) seed table —
    * separated so the exact-anchor entry above and a bucketed-ANN
    * 100 TB caller share one iteration. The caller owns edge caching. */
  private[graft] def labelPropOf(edges: DataFrame, emb: DataFrame): DataFrame = {
    val isSeed = col("vec_id") % 5 === 0
    var labels = emb.select(col("vec_id"),
      when(isSeed, col("label")).otherwise(lit(null)).as("lbl"))
    for (i <- 1 to LpRounds) {
      val votes = edges.as("e")
        .join(labels.filter(col("lbl").isNotNull).as("l"),
          col("e.neighbor_id") === col("l.vec_id"))
        .groupBy(col("e.node").as("node"), col("l.lbl").as("vlbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("vlbl").as("lbl"))).as("top"))
        .select(col("node"), col("top.lbl").as("wlbl"))
      labels = emb.as("m")
        .join(labels.as("cur"), col("m.vec_id") === col("cur.vec_id"))
        .join(votes.as("v"), col("m.vec_id") === col("v.node"), "left")
        .select(col("m.vec_id").as("vec_id"),
          when(col("m.vec_id") % 5 === 0, col("m.label"))
            .otherwise(coalesce(col("v.wlbl"), col("cur.lbl"))).as("lbl"))
      // same lineage truncation + cadence as pageRank: plan depth stays
      // O(1) in LpRounds with one eager materialization per
      // CheckpointEvery rounds (same caveat: local checkpoints are
      // non-replicated executor blocks, no replay after truncation)
      if (i % CheckpointEvery == 0 || i == LpRounds)
        labels = labels.localCheckpoint()
    }
    labels
      .select(col("vec_id"), coalesce(col("lbl"), lit(-1)).as("label_pred"))
      .orderBy("vec_id")
  }

  /** Nation-assortativity modularity of the purchase graph — "does
    * trade cluster within nations?": Newman modularity
    * Q = Σ_c [e_c/m − (d_c/2m)²] of the nation partition (supplier and
    * customer nationkeys) over the symmetrized edge set, the
    * quality readout for a community assignment that [[labelProp]] and
    * the component clusterings otherwise lack. Emits one row per
    * community (connected nodes, intra-edge count, degree mass, exact
    * Q contribution) with the global Q riding along.
    *
    * Exactness: on the symmetrized list (m2 = 2m rows) each term is
    * rational — Q_c = (e_in2_c·m2 − d_c²)/m2², so the per-community
    * numerators AND their total are exact DECIMAL(38,0) (d_c² overflows
    * int64 beyond ~3e9-degree mass) and Q is ONE division — no
    * order-dependent double sum over communities.
    *
    * Scale shape: degree and intra-edge counts are map-side-combinable
    * aggregates behind keyed joins on node (labels are ∝ |nodes|,
    * NEVER broadcast — the j3 lesson); the community table is bounded
    * by |nations|, and the two 1-row aggregates broadcast back. */
  def nationModularity(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables(spark, dir, "supplier").select(
      (col("s_suppkey") * 2).as("node"),
      col("s_nationkey").cast(LongType).as("community"))
    val cust = Tables(spark, dir, "customer").select(
      (col("c_custkey") * 2 + 1).as("node"),
      col("c_nationkey").cast(LongType).as("community"))
    modularityOf(sharedEdges(spark, dir), sup.union(cust))
  }

  /** The modularity core over any SIMPLE symmetrized (src, dst) edge
    * relation (each undirected edge appears exactly twice, no
    * self-loops — every caller's shape) and total (node, community)
    * labeling — separated so specs can feed planted graphs with
    * hand-computed Q. Isolated nodes carry no edge mass and drop out
    * (n_nodes counts CONNECTED members).
    *
    * The mirrored half is REDUNDANT, so the first move is src < dst:
    * every cached row, label-join probe and spilled sort page downstream
    * carries each undirected edge ONCE, halving the op's entire disk
    * footprint (the r14 sf100 scratch-wall fix — this op died on spill
    * volume, not plan shape); degrees count both endpoints of the half
    * rows (map-side-combined union aggregate — shuffle records are
    * ∝ distinct nodes per task, not edges) and e_in2/m2 are the half
    * counts doubled.
    *
    * The half relation is traversed exactly THRICE (degree rollup,
    * intra-edge count, and a trivial count(*) for m) against ONE
    * persisted materialization — the pageRank edge-cache pattern. The
    * naive form rescanned the upstream pipeline (here a fact-sized
    * join + distinct) six times through the m2 count and the q_total
    * reuse, and measured 16× at 10× data; everything past the cached
    * scans runs on the checkpointed ≤|communities|-row table.
    * m2 is counted DIRECTLY from the edge list (matching the oracle):
    * deriving it as Σ deg_sum over the community table equals 2m only
    * under a TOTAL labeling, so a partial labeling would silently
    * shrink the graph mass and compute a wrong Q — counted directly,
    * Q is w.r.t. the true 2m under ANY labeling (per-community terms
    * then cover the labeled subgraph, the natural partial-labeling
    * generalization). */
  def modularityOf(edges: DataFrame, labels: DataFrame): DataFrame = {
    val d38 = (c: Column) => c.cast(DecimalType(38, 0))
    val dbl = (c: Column) => c.cast(DoubleType)
    // canonical half: (a,b) with a < b survives, its mirror doesn't —
    // the filter pushes into both union branches of a symmetrizing
    // producer, so the half list costs no extra pass
    // when the caller hands in pinned storage (sharedEdges), the half
    // filter is a cheap in-memory scan per traversal — pinning a second
    // (half) copy would only duplicate cached rows
    val inputPinned =
      edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val half = edges.filter(col("src") < col("dst"))
    val (e, ownPin) =
      if (inputPinned) (half, false)
      else (half.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), true)
    val deg = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val cd = deg.join(labels, "node")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val ei = e
      .join(labels.select(col("node").as("src"), col("community").as("ca")), "src")
      .join(labels.select(col("node").as("dst"), col("community").as("cb")), "dst")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg((count(lit(1)) * 2L).as("e_in2"))
    // bounded by |communities|: checkpoint eagerly so the totals below
    // never re-trigger the two corpus scans, then release the edge cache
    val pc0 = cd.join(ei, Seq("community"), "left")
      .select(col("community"), col("n_nodes"), col("deg_sum"),
        coalesce(col("e_in2"), lit(0L)).as("e_in2"))
      .localCheckpoint()
    // 2m = twice the cached HALF rows (a bounded driver scalar, like
    // the checkpoint above an eager step) — NOT Σ deg_sum, which
    // under-counts whenever the labeling misses a node
    val m2 = 2L * e.count()
    if (ownPin) e.unpersist()
    val pc = pc0
      .withColumn("qn",
        d38(col("e_in2")) * d38(lit(m2)) - d38(col("deg_sum")) * d38(col("deg_sum")))
    val tot = pc.agg(sum(col("qn")).as("qt"))
    pc.crossJoin(broadcast(tot))
      .select(col("community"), col("n_nodes"), col("deg_sum"),
        expr("e_in2 div 2").as("e_in"),
        (dbl(col("qn")) / dbl(d38(lit(m2)) * d38(lit(m2)))).as("q_contrib"),
        (dbl(col("qt")) / dbl(d38(lit(m2)) * d38(lit(m2)))).as("q_total"))
      .orderBy("community")
  }

  /** Degree assortativity of the purchase graph — "do hubs trade with
    * hubs?": the Pearson correlation of endpoint degrees over the edge
    * list (Newman '02), the one-number summary of whether the network
    * is hub-to-hub (r > 0, robust to hub removal) or hub-and-spoke
    * (r < 0, fragile) — the capacity-planning readout next to
    * [[degreeHistogramOf]]'s shape and [[nationModularity]]'s mixing.
    *
    * On a SYMMETRIZED edge list the source and destination marginals
    * coincide, so the usual sqrt denominator collapses and
    * r = (m2·Σdxdy − (Σdx)²) / (m2·Σdx² − (Σdx)²) is fully RATIONAL:
    * DECIMAL(38,0) moments (Σ over edges of deg products overflows
    * int64 beyond ~3e9 edge-degree mass), ONE division. A
    * degree-regular graph has zero variance → NULL, never a division
    * blowup.
    *
    * Scale shape: degree rollup + one re-join of degrees onto the
    * persisted edge list (the modularity scan-twice pattern), then a
    * 1-row map-side-combinable moment reduce. */
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame =
    assortativityOf(sharedEdges(spark, dir))

  /** The assortativity core over any symmetrized (src, dst) relation —
    * separated so specs can feed planted graphs (star → exactly −1,
    * regular ring → NULL). */
  def assortativityOf(edges: DataFrame): DataFrame = {
    val d38 = (c: Column) => c.cast(DecimalType(38, 0))
    val dbl = (c: Column) => c.cast(DoubleType)
    val (e, ownPin) = pinned(edges)
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val m = e
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), "dst")
      .agg(count(lit(1)).as("m2"),
        sum(d38(col("dx"))).as("sx"),
        sum(d38(col("dx")) * d38(col("dx"))).as("sxx"),
        sum(d38(col("dx")) * d38(col("dy"))).as("sxy"))
    // 1-row moment table, checkpointed eagerly so the edge cache can be
    // released before the (lazy) readout is served
    val m1 = m.crossJoin(broadcast(nn)).localCheckpoint()
    if (ownPin) e.unpersist()
    m1.select(col("m2").as("n_edges_sym"), col("n_nodes"),
      when(d38(col("m2")) * col("sxx") - col("sx") * col("sx") > 0,
        dbl(d38(col("m2")) * col("sxy") - col("sx") * col("sx"))
          / dbl(d38(col("m2")) * col("sxx") - col("sx") * col("sx")))
        .as("assortativity"))
  }

  /** Degree thresholds the rich-club curve is evaluated at — fixed
    * literals (powers of two) so the output is a bounded 6-row table at
    * any corpus size, shared verbatim with the oracle. */
  val RichClubKs: Seq[Long] = Seq(1L, 2L, 4L, 8L, 16L, 32L)

  /** Rich-club coefficient φ(k) = 2·E_{>k} / (N_{>k}·(N_{>k}−1)) over
    * the purchase graph — "do the high-degree entities trade
    * preferentially with EACH OTHER?" (Colizza et al., Nature Physics
    * 2006). φ(k) near 1 at high k means the hubs form a near-clique
    * (an oligopoly signal the per-node degree histogram cannot see);
    * assortativity gives the same axis one correlation number, this
    * gives the full curve.
    *
    * Determinism: on the symmetrized edge list the row count with both
    * endpoint degrees > k IS 2·E_{>k}, so every numerator/denominator
    * is an exact integer count and φ is ONE double division per
    * threshold (NULL when fewer than 2 nodes qualify — the n(n−1)
    * denominator hits zero and Spark's Divide/DuckDB's IEEE division
    * disagree there).
    *
    * Scale shape: degrees ride the edge rows by the SAME two keyed
    * joins as [[assortativityOf]] (hash-partitioned, AQE-planned); all
    * |K| thresholds are CONDITIONAL SUMS inside one aggregate over that
    * one pass — no per-threshold rescan, no threshold×edge fan-out —
    * then a constant |K|-row unpivot. Nothing corpus-sized survives
    * the first aggregate. */
  def richClub(spark: SparkSession, dir: String): DataFrame =
    richClubOf(sharedEdges(spark, dir))

  /** The rich-club core over any symmetrized (src, dst) relation —
    * separated so specs can feed planted graphs (clique → φ ≡ 1, star
    * → NULL past the leaf degree). */
  def richClubOf(edges: DataFrame): DataFrame = {
    val dbl = (c: Column) => c.cast(DoubleType)
    val (e, ownPin) = pinned(edges)
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    // one pass over degree-annotated edges: a conditional sum per
    // threshold (2·E_{>k}), and the node-side counts from the bounded
    // degree aggregate
    val eSums = RichClubKs.map(k =>
      sum(when(col("dx") > k && col("dy") > k, 1L).otherwise(0L))
        .as(s"e2_$k"))
    val nSums = RichClubKs.map(k =>
      sum(when(col("deg") > k, 1L).otherwise(0L)).as(s"n_$k"))
    val eAgg = e
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), "dst")
      .agg(eSums.head, eSums.tail: _*)
    val nAgg = deg.agg(nSums.head, nSums.tail: _*)
    val wide = eAgg.crossJoin(broadcast(nAgg)).localCheckpoint()
    if (ownPin) e.unpersist()
    // constant-width unpivot: one row per threshold, φ guarded NULL
    // below 2 qualifying nodes
    val stacked = RichClubKs.map { k =>
      wide.select(lit(k).as("k"), col(s"n_$k").as("n_rich"),
        col(s"e2_$k").as("e2_rich"))
    }.reduce(_.unionAll(_))
    stacked.select(col("k"), col("n_rich"), col("e2_rich"),
      when(col("n_rich") >= 2L,
        dbl(col("e2_rich")) / dbl(col("n_rich") * (col("n_rich") - 1L)))
        .as("phi"))
      .orderBy("k")
  }

  /** Hop bound of the reachability probe — fixed literal, so the
    * output is a bounded (Hops+1)-row table at any graph size. */
  val KhopHops = 3

  /** k-hop reachability from the hub — "how much of the trade network
    * is within 3 hops of the busiest entity?": BFS frontier and
    * cumulative reach sizes per hop, seeded at the max-degree node
    * (ties → smallest id, so the seed is a deterministic function of
    * the graph). Small-world graphs saturate in 2-3 hops; a reach
    * curve that stays flat instead exposes fragmentation the
    * connected-components count alone doesn't quantify.
    *
    * Determinism: frontiers are exact SETS (distinct + anti join);
    * every published number is an integer count.
    *
    * Scale shape: textbook distributed BFS — each hop is ONE keyed
    * join of the edge list with the frontier, a distinct, and an anti
    * join against the visited set; hop count is a literal, so the
    * driver loop is constant-depth. Each frontier/visited layer is
    * eagerly persist+count-ed (the loop is 3 levels deep, so lineage
    * stays bounded without checkpointing), and once the bounded
    * (hop, frontier, reach) readout is itself materialized every layer
    * handle is EXPLICITLY unpersisted — a call must leave zero cached
    * RDDs behind (up to |V| rows per layer would otherwise hold
    * executor storage until ContextCleaner GC, shrinking the headroom
    * the sweep JVMs' scale measurements depend on; r14 review + r14
    * ADVICE). The seed's TakeOrdered(1) is the only global reduction
    * and returns one row. */
  def khopReach(spark: SparkSession, dir: String): DataFrame =
    khopOf(sharedEdges(spark, dir))

  /** The BFS core over any symmetrized (src, dst) relation — separated
    * so specs can feed planted graphs (chain → one node per hop; star
    * → everything at hop 1). */
  def khopOf(edges: DataFrame): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (e, ownPin) = pinned(edges)
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    // LAZY persist per layer — no per-layer count() job: the hop count
    // is a literal (no data-dependent control flow anywhere in the
    // loop), so the one readout execution below materializes every
    // layer in dependency order and each persist guarantees a layer is
    // computed once however many later hops / readout branches
    // reference it. The eager per-layer materialization this replaces
    // cost one serial job per layer — 33 jobs per warm call at sf0.1,
    // almost all of the entry's wall clock (scheduling, not work).
    val handles = Seq.newBuilder[DataFrame]
    def layer(df: DataFrame): DataFrame = {
      val p = df.persist(lvl); handles += p; p
    }
    val seed = layer(deg.orderBy(col("deg").desc, col("node")).limit(1)
      .select(col("node")))
    // visited is a LAZY union of the (disjoint, individually cached)
    // frontier layers — materializing a fresh |V|-row copy per hop was
    // one extra persist+count job and one extra stored layer per hop
    // for a relation whose every member is already in executor storage
    var visited = seed
    var frontier = seed
    val layers = Seq.newBuilder[(Int, DataFrame, DataFrame)]
    layers += ((0, frontier, visited))
    for (h <- 1 to KhopHops) {
      val next = layer(e
        .join(frontier.select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti"))
      visited = visited.unionAll(next)
      frontier = next
      layers += ((h, frontier, visited))
    }
    // materialize the bounded (Hops+1)-row readout FIRST (localCheckpoint
    // severs it from the layer RDDs), THEN drop every cached handle —
    // nothing from this call survives in executor storage
    val out = layers.result().map { case (h, f, v) =>
      f.agg(count(lit(1)).as("frontier_size"))
        .crossJoin(v.agg(count(lit(1)).as("reach_size")))
        .select(lit(h).as("hop"), col("frontier_size"), col("reach_size"))
    }.reduce(_.unionAll(_)).orderBy("hop").localCheckpoint()
    // blocking: the release is the POINT (sweep-JVM headroom, and the
    // storage-release spec observes the persistent-RDD set right after
    // this returns) — fire-and-forget would race both
    if (ownPin) e.unpersist(blocking = true)
    handles.result().foreach(_.unpersist(blocking = true))
    out
  }

  /** Per-part triangle participation counts over the co-purchase graph
    * (parts co-occurring in ≥ [[TriMinSupport]] orders) — the local
    * clustering signal behind community detection and recommendation
    * diversity. Output: (l_partkey, n_triangles) for every part in at
    * least one triangle.
    *
    * Scale shape — the three standard bounds, in order:
    *  1. pair generation self-joins ON THE ORDER KEY (co-partitioned,
    *     per-order fan-out ≤ (basket choose 2) — the basket-affinity
    *     plan), never part×part;
    *  2. the support threshold is the density control that keeps the
    *     edge list sparse (the MaxBucket role);
    *  3. triangle enumeration orients each edge from its LOWER-DEGREE
    *     endpoint (ties → lower id), so every triangle is emitted
    *     exactly once and wedge fan-out is bounded by the graph's
    *     degeneracy, not by hub degrees — a hub of degree d generates
    *     wedges only from the ≤ √m edges it RECEIVES, the classic
    *     compact-forward guarantee. The oracle enumerates by id order
    *     instead; the triangle SET is orientation-independent, so the
    *     hashes agree while the plans differ — exactly the freedom a
    *     100 TB plan needs.
    */
  val TriMinSupport = 2L

  // ------------------------------------------------------------------
  // HITS hubs & authorities over the DIRECTED purchase graph
  // ------------------------------------------------------------------

  /** HITS score currency (1e9: small enough that a round's un-normalized
    * authority sum deg·1e9 stays inside int64 to out-degrees of ~9e9 —
    * far beyond any real graph's hub). */
  val HitsScale = 1000000000L

  /** Full (authority, hub) update rounds. */
  val HitsIters = 2


  /** Kleinberg HITS on the directed supplier→customer edge set (the
    * UN-symmetrized half of the PageRank graph, so hubs are suppliers
    * and authorities are customers — the bipartite reading is exact):
    * auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v), with an
    * integer MEAN normalization after each half-step — score // (Σ //
    * HitsScale) — instead of the classical L2 norm: L2 needs a sqrt no
    * integer currency survives, while the mean-divisor keeps every
    * value an exact int64 both engines floor identically, and
    * normalization only rescales (ranking is unchanged — what HITS
    * normalization exists for). All sums are order-independent ⇒ the
    * unrolled DuckDB CTE reproduces both score vectors bit-for-bit.
    *
    * Scale shape per half-step: one keyed join (edges ⋈ scores — same
    * key pattern as the PageRank iteration, AQE reuses exchanges) and
    * one map-side-combined sum; the normalizer is a 1-row aggregate
    * broadcast back (never a driver round-trip).
    *
    * The directed edge set is DERIVED from [[sharedEdges]] instead of a
    * second fact join: supplier nodes are even (2s) and customers odd
    * (2c+1), so filtering the symmetrized list to even src yields each
    * distinct (supplier, customer) pair exactly once in supplier→customer
    * orientation — the same relation the old
    * `join ∘ distinct` built, read from pinned session storage. */
  def hits(spark: SparkSession, dir: String): DataFrame =
    // static planning for the fixed-shape half-step chain (see
    // withAqeOff): the four eager half-step actions each re-shuffled
    // the 275 K-row keyed edge cache when its AQE-wrapped layout was
    // invisible — ReuseExchange cannot dedup across separate actions
    withAqeOff(spark) { hitsBody(spark, dir) }

  private def hitsBody(spark: SparkSession, dir: String): DataFrame = {
    // two keyed pins of the directed half (see sharedDirectedEdgesBy):
    // the auth half-step probes src, the hub half-step probes dst
    val eSrc = sharedDirectedEdgesBy(spark, dir, "src")
    val eDst = sharedDirectedEdgesBy(spark, dir, "dst")
    // integer mean normalization: x // max(Σx // HitsScale, 1)
    def normalize(scores: DataFrame, c: String): DataFrame = {
      val tot = scores.agg(sum(col(c)).as("t"))
      scores.crossJoin(broadcast(tot))
        .select(col("node"),
          expr(s"$c div greatest(t div $HitsScale, 1L)").as(c))
    }
    // exchange-free: eSrc is hash(src)-partitioned and node IS src here
    var hubs = eSrc.select(col("src").as("node")).distinct()
      .select(col("node"), lit(HitsScale).as("h"))
    var auths: DataFrame = null
    for (_ <- 1 to HitsIters) {
      // SHUFFLE_HASH hints on the |V|-row SCORE side are load-bearing,
      // exactly as in pageRankCore: the edge side reads its keyed
      // pinned cache exchange-free (materialized layout, see
      // sharedDirectedEdgesBy) and only the checkpointed |V|-row score
      // side shuffles to the join key, so each half-step pays two
      // |V|-scale exchanges (scores in, groupBy out) plus a scalar
      // broadcast. Left unhinted, AQE broadcast the EDGE relation (the
      // only side with stats) into every half-step — measured 4 ×
      // 64-task edge collects ≈ 40 s of task time per warm call at
      // sf0.1, and the backwards shape at scale (|E| breaks the
      // broadcast cap long before |V| scores stress a shuffle-hash
      // build side).
      // eager truncation each half-step (the r15 shape, kept on
      // MEASUREMENT): a fully lazy 4-half-step chain embeds the prior
      // chain twice per normalize, and the redundant branches raced
      // each other through the cold caches instead of reusing stages —
      // 12.7M cold shuffle records vs ~1.3M here, 16.7 s warm vs 1.3 s.
      // Integer scores are plan-independent, so rows are unchanged.
      auths = normalize(
        eSrc.join(hubs.hint("shuffle_hash"), col("src") === col("node"))
          .groupBy(col("dst")).agg(sum(col("h")).as("a"))
          .select(col("dst").as("node"), col("a")), "a")
        .localCheckpoint()
      hubs = normalize(
        eDst.join(auths.hint("shuffle_hash"), col("dst") === col("node"))
          .groupBy(col("src")).agg(sum(col("a")).as("h"))
          .select(col("src").as("node"), col("h")), "h")
        .localCheckpoint()
    }
    // the shared edge cache stays pinned for the session (the
    // pageRank/ClusterOps convention): the returned plan is lazy and
    // re-reads it once per half-step when the consumer finally executes
    hubs.select(col("node"), lit("hub").as("role"), col("h").as("score"))
      .unionAll(auths.select(col("node"), lit("authority").as("role"),
        col("a").as("score")))
      .orderBy("node")
  }

  def triangleCounts(spark: SparkSession, dir: String): DataFrame = {
    val tri = trianglesOf(sharedCoEdges(spark, dir))
    tri.select(explode(array(col("v1"), col("v2"), col("v3"))).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_triangles"))
      .orderBy("l_partkey")
  }

  /** The support-filtered co-purchase edge set (pa < pb, each undirected
    * edge once) — ONE definition behind [[triangleCounts]] AND
    * [[globalTransitivity]], mirrored by the hoisted oracle CTE chain. */
  private def coEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= TriMinSupport)
      .select(col("pa"), col("pb"))
  }

  /** Degree-oriented triangle enumeration over any undirected (pa, pb)
    * relation — each triangle emitted exactly once as (v1, v2, v3);
    * separated so planted-graph specs and the transitivity readout
    * share [[triangleCounts]]'s compact-forward plan. */
  private[ops] def trianglesOf(und: DataFrame): DataFrame = {
    // degree-ordered orientation: src = lower-degree endpoint
    val deg = und.select(explode(array(col("pa"), col("pb"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("d"))
    // orientation points FORWARD in the (degree, id) total order; each
    // edge carries its dst's order key so wedges can be ordered by the
    // SAME relation — then the closing edge of wedge (u→v, u→w), v ≺ w,
    // is oriented v→w by construction and closure is a pure equi-join
    // (an OR-of-orientations condition would fall off the hash-join path)
    val oriented = und
      .join(deg.as("da"), col("pa") === col("da.p"))
      .join(deg.as("db"), col("pb") === col("db.p"))
      .select(
        when(struct(col("da.d"), col("pa")) <= struct(col("db.d"), col("pb")),
          struct(col("pa").as("src"), col("pb").as("dst"),
            struct(col("db.d").as("d"), col("pb").as("id")).as("dk")))
          .otherwise(struct(col("pb").as("src"), col("pa").as("dst"),
            struct(col("da.d").as("d"), col("pa").as("id")).as("dk"))).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.dk"))
    oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dk") < col("e2.dk"))
      .join(oriented.as("e3"),
        col("e3.src") === col("e1.dst") && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("v1"), col("e1.dst").as("v2"), col("e2.dst").as("v3"))
  }

  /** Global transitivity of the co-purchase graph — the one-number
    * "how clustered is co-buying" companion to [[triangleCounts]]'s
    * per-part view: C = 3·|triangles| / |wedges| (the fraction of open
    * length-2 paths that close). A high C means co-purchase circles —
    * recommendation candidates transfer; a low C with the same degree
    * histogram means hub-and-spoke baskets.
    *
    * Exactness: triangle and edge counts are exact integers off the
    * SAME [[trianglesOf]]/[[coEdges]] seams; wedges Σ d(d−1) runs in
    * DECIMAL(38,0) (int64 dies at ~3e9 hub-degree-squared mass); C is
    * ONE division of two exact integers cast to double. Zero wedges →
    * NULL, never a blowup.
    *
    * Scale shape: the edge set persists and is scanned three times
    * (edge count, degree rollup, orientation+closure) — everything
    * else is 1-row aggregates crossJoined by broadcast; the closure
    * join keeps the compact-forward degeneracy bound. */
  def globalTransitivity(spark: SparkSession, dir: String): DataFrame =
    transitivityOf(sharedCoEdges(spark, dir))

  /** The transitivity core over any undirected (pa, pb) relation —
    * separated so specs can feed planted graphs with hand-computed C
    * (triangle → 1, star → 0). */
  private[ops] def transitivityOf(und: DataFrame): DataFrame = {
    val d38 = (c: Column) => c.cast(DecimalType(38, 0))
    val dbl = (c: Column) => c.cast(DoubleType)
    val (e, ownPin) = pinned(und)
    val nE = e.agg(count(lit(1)).as("n_edges"))
    val w2 = e.select(explode(array(col("pa"), col("pb"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("d"))
      .agg(sum(d38(col("d")) * (d38(col("d")) - lit(1))).as("w2"))
    val t = trianglesOf(e).agg(count(lit(1)).as("n_triangles"))
    // 1-row readout, checkpointed eagerly so the edge cache can be
    // released before the (lazy) result is served
    val row = nE.crossJoin(broadcast(w2)).crossJoin(broadcast(t))
      .localCheckpoint()
    if (ownPin) e.unpersist()
    // C = 3T/W with W = w2/2, folded to 6T/w2 so the integer currency
    // survives to the single division
    row.select(col("n_edges"), col("n_triangles"),
      when(col("w2") > 0,
        dbl(d38(col("n_triangles")) * lit(6)) / dbl(col("w2")))
        .as("transitivity"))
  }

  /** k-core threshold: 8 keeps the peel non-trivial at every SF on the
    * purchase graph (it removes the thinnest suppliers/customers without
    * emptying the core). */
  val KcoreK = 8

  /** Safety cap on peel rounds — a fixpoint loop needs a bound even
    * though real graphs converge in O(core-diameter) rounds (≤ 2 on the
    * purchase graph at every SF; the registry oracle unrolls 4). */
  val KcoreMaxRounds = 20

  /** k-core decomposition (the [[KcoreK]]-core): iteratively peel nodes
    * with degree < k until fixpoint; output the surviving nodes with
    * their WITHIN-CORE degree. The standard graph-curation primitive for
    * "drop entities without enough corroborating connections" (spam
    * subgraphs, thin crawl tendrils) before walking/ranking the rest.
    *
    * Scale shape: ONE full degree count up front, then each peel wave
    * touches only the edges INCIDENT TO THAT WAVE'S REMOVED NODES —
    * survivors' degrees are DECREMENTED by a (edges ⋈ removed-on-dst →
    * count per src) pass instead of recounted from scratch. The removed
    * set shrinks geometrically after the first wave, so AQE plans the
    * per-wave join as a broadcast over the pinned edge list (zero edge
    * shuffles) once removals are small, and the per-wave |V|-row state
    * update replaces the old plan's three full-edge-list exchanges per
    * round (the r15 optimization pass; same fixpoint by construction —
    * deg after wave r ≡ edges into the wave-r survivor set, the exact
    * quantity the recount computed). Nothing reaches the driver but the
    * removed-node count (one scalar per wave). Each wave's degree table
    * is localCheckpoint-ed so plan depth stays O(1) in rounds (the
    * pageRank/ClusterOps lineage lesson) and the previous wave's blocks
    * are freed explicitly.
    *
    * Determinism: degrees are exact integer counts and the peel rule is
    * a pure threshold — no ordering, no ties — so the fixpoint is
    * unique and an unrolled DuckDB CTE with ≥ rounds-to-fixpoint rounds
    * reproduces it bit-for-bit (extra unrolled rounds are no-ops). */
  def kcore(spark: SparkSession, dir: String): DataFrame =
    kcoreOf(sharedEdges(spark, dir), KcoreK)

  /** PRECONDITION: `edges0` must be SYMMETRIZED — every undirected edge
    * present in both (src, dst) and (dst, src) orientation (all callers
    * come through [[edgesOf]]/[[sharedEdges]] or the specs' symEdges).
    * The decrement peel counts a removed endpoint only when it sits on
    * dst, and a dst-only node never acquires a degree row, so on an
    * ASYMMETRIC list results diverge from the recount definition (r15
    * ADVICE: contract narrowing, stated here rather than inline). */
  def kcoreOf(edges0: DataFrame, k: Int): DataFrame = {
    // pin the edge list ONCE: it is join-derived (lineitem⋈orders +
    // distinct + union), and the initial degree count plus every peel
    // wave's decrement join re-reads it; without pinning each action
    // replays the whole build (measured 36 s vs 2 s at sf0.1 once
    // promoted to a bench headline). Blocks stay alive past return
    // because the returned plan reads them (the pageRank rank-chain
    // rule).
    val edges =
      if (edges0.storageLevel != org.apache.spark.storage.StorageLevel.NONE) edges0
      else edges0.localCheckpoint()
    // state: surviving nodes with their degree WITHIN the surviving
    // subgraph (initially: everyone, with raw degree)
    var deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
      .localCheckpoint()
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    var rounds = 0
    var nRemoved = deg.filter(col("deg") < k).count()
    while (nRemoved > 0 && rounds < KcoreMaxRounds) {
      val removed = deg.filter(col("deg") < k)
      // per-survivor decrement = # edges whose far endpoint is removed
      // THIS wave (symmetric edges: every incident edge appears with the
      // removed node on the dst side)
      val dec = edges.join(removed.select(col("node").as("dst")), Seq("dst"))
        .groupBy(col("src")).agg(count(lit(1)).as("dec"))
      val next = deg.filter(col("deg") >= k).as("d")
        .join(dec.as("x"), col("d.node") === col("x.src"), "left")
        .select(col("d.node").as("node"),
          (col("d.deg") - coalesce(col("x.dec"), lit(0L))).as("deg"))
        .localCheckpoint()
      // free the wave we just peeled past (localCheckpoint blocks are
      // not in the cacheManager — unpersist the backing RDD directly,
      // the ClusterOps pattern)
      prevRdd.foreach(_.unpersist(false))
      prevRdd = Some(deg.rdd)
      deg = next
      nRemoved = deg.filter(col("deg") < k).count()
      rounds += 1
    }
    deg.filter(col("deg") >= k).orderBy("node")
  }

  /** Log₂-bucketed degree histogram of the purchase graph — the skew
    * diagnostic that SIZES the engine's hot-key armor (pageRank's
    * [[HotDegree]] salting threshold, the dedup bucket caps): bucket
    * b holds nodes with degree in [2ᵇ, 2ᵇ⁺¹), i.e. b = |bin(deg)| − 1 —
    * an integer formula (length of the binary representation) shared
    * verbatim with the DuckDB oracle, because floating log₂ rounds
    * differently across engines at exact powers of two.
    *
    * One degree count (map-side combinable) + one 64-bucket rollup;
    * output is O(log maxdeg) rows however big the graph. */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame =
    degreeHistogramOf(sharedEdges(spark, dir))

  def degreeHistogramOf(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    deg.groupBy((length(bin(col("deg"))) - 1).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"),
        sum(col("deg")).as("sum_deg"))
      .orderBy("bucket")
  }
}
