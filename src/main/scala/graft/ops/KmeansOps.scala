package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Distributed Lloyd's k-means over the embedding store — the clustering
  * pass a curation pipeline runs before cluster-balanced sampling,
  * SemDeDup-style pruning (Abbas et al. '23), or domain discovery over a
  * web-scale corpus. Reference analogue: none (the reference has no
  * vector ops); this is part of the LLM-training-data surface the brief
  * mandates alongside the reference's own operators.
  *
  * Determinism (the whole point of this implementation): every float
  * widens exactly to double, is scaled by [[EmbedOps.Scale]] and floored
  * to int64 (the [[EmbedOps]] currency), and EVERYTHING after — distances,
  * argmin tie-breaks, centroid updates — is integer or exact-IEEE
  * arithmetic reproduced step-for-step by a DuckDB CTE oracle, so a
  * multi-iteration iterative algorithm lands hash-green. Centroid means
  * floor-divide in double (sums ≤ 2⁵³, division exactly rounded, floor
  * exact), argmin ties break to the lowest centroid id, empty clusters
  * keep their previous coordinates. Seeding is the first K vectors by
  * vec_id — deterministic, no RNG.
  *
  * Scale shape (what Lloyd's looks like done right on Spark, cf. MLlib
  * KMeans): per iteration the ASSIGNMENT is a pure map — the K·d centroid
  * table rides into the closure as literals (k·d ≈ 512 longs; production
  * would broadcast), each row computes its K distances and argmin in one
  * codegen'd projection, NO shuffle, no join, no window. The UPDATE is one
  * keyed hash aggregate on (cluster, dim) with map-side combine — shuffle
  * volume K·d rows per partition regardless of corpus size — and the
  * driver collects exactly K·d int64 sums per iteration (bounded,
  * corpus-size-independent). Total: I scans + I tiny aggregates for I
  * iterations; at 100 TB the scan dominates and the input would be
  * persisted once (here: [[StorageLevel.MEMORY_AND_DISK]] for the loop,
  * released before returning).
  */
object KmeansOps {

  /** Cluster count (the 10-label store resolves well under 8; a planted
    * spec pins exact blob recovery at k=2 shapes). */
  val K = 8

  /** Lloyd rounds: assignment under c₀, two centroid updates, final
    * assignment under c₂ — enough for near-convergence on this store and
    * cheap enough that the unrolled SQL oracle stays readable. */
  val Iters = 3

  private val Scale = EmbedOps.Scale

  /** (vec_id, label, v: array<long>) — the scaled-int64 view. */
  private def scaledVecs(spark: SparkSession, dir: String): DataFrame =
    Tables.parallel(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => floor(x.cast(DoubleType) * Scale).cast(LongType)).as("v"))

  private def distTo(cvec: Array[Long]): Column =
    aggregate(
      zip_with(col("v"), array(cvec.toIndexedSeq.map(lit(_)): _*), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)

  /** Adds (cluster: int, dist: long) — argmin over the centroid set with
    * ties to the lowest cid. `least` over structs compares
    * lexicographically: (distance, cid). Pure projection, no shuffle. */
  private def assign(vecs: DataFrame, cents: Seq[(Int, Array[Long])]): DataFrame = {
    val best = least(cents.map { case (cid, cvec) =>
      struct(distTo(cvec).as("d"), lit(cid).as("cid"))
    }: _*)
    vecs.withColumn("best", best)
      .select(col("vec_id"), col("label"), col("v"),
        col("best.cid").as("cluster"), col("best.d").as("dist"))
  }

  /** Runs the Lloyd loop and returns the FINAL assignment (vec_id, label,
    * cluster, dist) built over a fresh (un-persisted) scan so the loop's
    * cached input can be released eagerly. */
  private def fit(spark: SparkSession, dir: String): DataFrame =
    assign(scaledVecs(spark, dir), fitCentroids(spark, dir))

  /** Final per-vector cluster assignment — the table every downstream
    * curation op (balanced sampling, per-cluster dedup, domain mixing)
    * keys on. Hash-oracled against a DuckDB CTE that unrolls the same
    * three integer-exact Lloyd rounds. */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    fit(spark, dir).select(col("vec_id"), col("cluster")).orderBy("vec_id")

  /** The trained coarse quantizer itself: final centroid coordinates in
    * long form (cluster, dim, coord — scaled int64), the artifact an
    * IVF index or vector store ships. K·d rows built from the driver's
    * bounded centroid state; hash-oracled directly against the oracle
    * CTE's final-centroid table. */
  def kmeansCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // re-run the loop; centroids are the loop's driver state (K·d longs)
    val cents = fitCentroids(spark, dir)
    cents.flatMap { case (cid, cvec) =>
      cvec.toIndexedSeq.zipWithIndex.map { case (v, i) => (cid, i, v) }
    }.toDF("cluster", "dim", "coord").orderBy("cluster", "dim")
  }

  /** The trained coarse model, memoized per (session, dir) — K·[[Dim]]
    * longs of bounded driver state, the artifact a vector store ships
    * (the PRF expanded-query-set precedent: a deterministic, bounded
    * driver value every consumer re-derived from scratch). Eight
    * registry entries (the x_cluster_* family, curate_multimodal, both
    * IVF-PQ entries) each re-ran the [[Iters]]-round Lloyd loop — 2
    * extra corpus passes with per-round driver collects apiece — to
    * rebuild the identical centroid set. */
  private[ops] def fitCentroids(spark: SparkSession, dir: String): Seq[(Int, Array[Long])] =
    SessionMemo(spark, "kmeans.centroids", dir)(fitCentroidsLive(spark, dir))

  /** The final centroid set (shared by [[kmeansCentroids]]; factored so
    * the loop runs once per call, not per row). */
  private def fitCentroidsLive(spark: SparkSession, dir: String): Seq[(Int, Array[Long])] = {
    val vecs = scaledVecs(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
    var cents: Seq[(Int, Array[Long])] =
      vecs.filter(col("vec_id") < K).orderBy("vec_id").collect().toSeq
        .map(r => (r.getLong(0).toInt, r.getSeq[Long](2).toArray))
    require(cents.nonEmpty, "embeddings table has no vec_id < K seed rows")
    for (_ <- 1 until Iters) {
      // K·d bounded collect: the per-(cluster,dim) sums and sizes;
      // floor-div in double: |s| ≤ n·6e4·1e5 ≪ 2^53, exactly
      // representable — the engine-identical integral mean both sides use
      val sums = assign(vecs, cents)
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "val")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("val")).as("s"), count(lit(1)).as("n"))
        .collect()
      val upd = sums.map { r =>
        (r.getInt(0), r.getInt(1)) ->
          math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong
      }.toMap
      cents = cents.map { case (cid, cvec) =>
        (cid, Array.tabulate(cvec.length)(i => upd.getOrElse((cid, i), cvec(i))))
      }
    }
    vecs.unpersist()
    cents
  }

  /** Per-cluster size + exact int64 inertia (sum of squared scaled
    * distances to the final centroids) — the convergence/skew dashboard
    * row: one |K|-row hash aggregate over the final assignment. */
  def kmeansProfile(spark: SparkSession, dir: String): DataFrame =
    fit(spark, dir)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("dist")).as("inertia"))
      .orderBy("cluster")

  /** Davies–Bouldin cluster-quality index, per cluster (squared-scatter
    * variant): scatter sᵢ = (Σ dist)//nᵢ over the final assignment's
    * exact squared distances (integral division — floor loss < 1 on a
    * ~1e10 scale, engine-identical), centroid separation d_ij the exact
    * int64 squared distance between final centroids, and the readout
    * R_i = max_{j≠i} (sᵢ+sⱼ)/d_ij — "how confusable is this cluster
    * with its worst neighbor" (lower is better). The classic index
    * averages R_i; the per-cluster rows are strictly more informative
    * and avoid a K-term double fold, so the mean is left to the reader.
    *
    * Scale shape: one |K|-row aggregate over the assignment (the
    * kmeansProfile shape); the K² pair table is driver math over the
    * loop's own bounded centroid state; everything after is a K-row
    * broadcast-size join. Headroom: Σ dist is the kmeansProfile int64
    * inertia bound (~3.5e6 vectors/cluster at this store's distance
    * scale). Ties on R break to the smallest j in both engines. */
  def kmeansDbIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = fitCentroids(spark, dir)
    val sc = assign(scaledVecs(spark, dir), cents)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("dist")).as("sd"))
      .withColumn("scatter", expr("sd div n_vecs"))
      .select(col("cluster"), col("n_vecs"), col("scatter"))
    val pairs = (for {
      (ci, vi) <- cents; (cj, vj) <- cents if cj != ci
    } yield (ci, cj,
      vi.zip(vj).map { case (x, y) => (x - y) * (x - y) }.sum))
      .toDF("ci", "cj", "dc")
    val r = sc.select(col("cluster").as("ci"), col("scatter").as("si"))
      .join(pairs, Seq("ci"))
      .join(sc.select(col("cluster").as("cj"), col("scatter").as("sj")), Seq("cj"))
      .select(col("ci"), col("cj"),
        ((col("si") + col("sj")).cast(DoubleType) / col("dc").cast(DoubleType))
          .as("rij"))
    r.groupBy(col("ci").as("cluster"))
      .agg(max(struct(col("rij"), (-col("cj")).as("nj"))).as("m"))
      .join(sc, Seq("cluster"))
      .select(col("cluster"), col("n_vecs"), col("scatter"),
        (-col("m.nj")).cast(IntegerType).as("worst_j"), col("m.rij").as("r_max"))
      .orderBy("cluster")
  }

  /** Cluster-balanced downsampling — the curation step k-means exists to
    * feed (Abbas et al. '23 SemDeDup / cluster-balanced data diets): big
    * clusters downsample toward [[target]] expected survivors, small
    * clusters keep everything, so no region of embedding space drowns
    * the mix. The keep decision is the CONTENT-hash bucket against the
    * per-cluster rate (the mixSources currency: md5 is engine-identical,
    * no RNG) and the rates are a |K|-row broadcast-back (the winsorize
    * shape) — NO window over the corpus, no extra shuffle beyond the
    * assignment itself; expected-size cap, exactly reproducible. */
  def kmeansBalancedSample(spark: SparkSession, dir: String,
      target: Int = 64): DataFrame = {
    val assign = fit(spark, dir)
    val sizes = assign.groupBy(col("cluster")).agg(count(lit(1)).as("n_vecs"))
    assign.join(broadcast(sizes), Seq("cluster"))
      .select(col("vec_id"), col("cluster"),
        (conv(substring(md5(col("vec_id").cast(StringType)), 1, 4), 16, 10)
          .cast(IntegerType) % 1000).as("bucket"),
        least(lit(1.0), lit(target.toDouble) / col("n_vecs")).as("rate"))
      .filter(col("bucket") < col("rate") * 1000.0)
      .orderBy("vec_id")
  }

  /** Cluster↔label agreement: each cluster's dominant label and its share
    * in ppm (integer floor division — the [[EmbedOps]] ppm currency).
    * The "did unsupervised structure recover the known taxonomy" check a
    * curation run reads before trusting cluster-keyed decisions. Two hash
    * aggregates, both map-side combined; argmax ties break to the lowest
    * label via min(struct(-cnt, label)). */
  def kmeansPurity(spark: SparkSession, dir: String): DataFrame =
    fit(spark, dir)
      .groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("cluster"))
      .agg(sum(col("cnt")).as("n_vecs"),
        min(struct((-col("cnt")).as("neg"), col("label"))).as("top"))
      .select(col("cluster"), col("n_vecs"),
        col("top.label").as("top_label"),
        expr("(-top.neg) * 1000000 div n_vecs").as("top_share_ppm"))
      .orderBy("cluster")

  /** Cross-modal curation capstone: a document survives iff its TEXT
    * passes the per-language quality cut (stop-ratio ≤ language median —
    * the TextOps.qualityCut criterion, shared currency) AND its
    * EMBEDDING survives cluster-balanced sampling — the two halves a
    * real curation run composes: lexical quality gates junk, vector
    * balance stops any region of embedding space from dominating. One
    * keyed join on the aligned doc/vec id space; both inputs keep their
    * own scale shapes. */
  def curateMultimodal(spark: SparkSession, dir: String): DataFrame =
    TextOps.qualityCut(spark, dir)
      .join(kmeansBalancedSample(spark, dir)
        .withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("cluster"), col("lang"), col("stop_ratio"))
      .orderBy("doc_id")

  /** Cosine threshold for [[semDedup]] — the `DedupOps.embedCosine`
    * near-dup currency, so "semantic duplicate" means the same thing in
    * both the exact-anchor and the cluster-bounded pipelines. */
  val SemTau = 0.5

  /** SemDeDup (Abbas et al. '23): semantic near-duplicate pruning with
    * the pair search BOUNDED BY THE K-MEANS CELLS — the trick that makes
    * embedding dedup feasible at corpus scale. Two vectors are compared
    * only when the coarse quantizer puts them in the same cell; within a
    * cell, a vector is pruned when a LOWER-ID cell-mate sits within
    * cosine ≥ [[SemTau]] (min-id survivorship, the exact-dedup
    * convention — deterministic, no RNG). Output: every vector with its
    * cell, keep flag, and the witness that evicted it (null when kept).
    *
    * vs [[DedupOps.embedCosine]]: that is the size-guarded O(n²) exact
    * anchor; vs `SimilarityOps.annEmbedClusters`: that buckets by LSH
    * signature. This is the quantizer-bounded middle path the SemDeDup
    * paper ships: pair work is Σ|cell|² ≈ n²/K, and K grows with the
    * corpus so cells stay ~constant-sized — the same cap discipline as
    * the LSH bucket caps, enforced by the quantizer itself. The cell
    * self-join shuffles on the cell id; a pathologically hot cell is
    * visible in `kmeansProfile` (its n_vecs) before this ever runs. */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.exprs._
    val asg = fit(spark, dir).select(col("vec_id"), col("cluster"))
    val vecs = Tables.parallel(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("dv"))
    val cell = asg.join(vecs, Seq("vec_id"))
    val witness = cell
      .select(col("cluster"), col("vec_id").as("a_id"), col("dv").as("va"))
      .join(cell.select(col("cluster"), col("vec_id").as("b_id"), col("dv").as("vb")),
        Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .filter(cosine_similarity(col("va"), col("vb")) >= SemTau)
      .groupBy(col("b_id").as("vec_id"))
      .agg(min(col("a_id")).as("witness_id"))
    asg.join(witness, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("witness_id").isNull.as("kept"), col("witness_id"))
      .orderBy("vec_id")
  }
}
