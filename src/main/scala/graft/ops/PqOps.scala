package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Product quantization (Jégou et al. '11) over the 64-dim embedding
  * store — the compression half of IVF-PQ, which is what actually makes
  * billion-vector ANN serving fit in memory: each vector is cut into
  * [[M]] sub-vectors, each sub-vector is quantized to its subspace's
  * nearest codebook centroid, and the stored representation collapses
  * from 64 floats to [[M]] small codes (here 4×4 bits of information —
  * a 64× compression in code space). Search never decompresses: a query
  * precomputes its [[M]]·[[Ksub]] table of subspace distances once, and
  * every database vector's (asymmetric) distance is [[M]] table lookups
  * + adds — the ADC regime.
  *
  * Reference analogue: none (the reference has no vector surface); this
  * extends the engine's similarity family ([[SimilarityOps]]) with the
  * quantized-serving shape that int8 scalar quantization
  * (`quantizeInt8`) does not reach: int8 shrinks each coordinate, PQ
  * shrinks the DIMENSION — they compose in real systems.
  *
  * Determinism — the [[KmeansOps]] playbook, per subspace: coordinates
  * enter the int64 scaled currency (floor(x·1e5)), codebook training is
  * Lloyd's with integer-exact distances, floor-div-in-double centroid
  * means (sums ≪ 2⁵³ — exactly representable), argmin ties to the
  * lowest code, empty clusters carry their previous coordinates, and
  * seeding is the first [[Ksub]] vectors' sub-slices (no RNG). Every
  * step — training, encoding, the ADC distance itself — is reproduced
  * by a DuckDB CTE that runs the SAME grouped Lloyd rounds with the
  * subspace as a grouping column, so codebooks, codes, AND the final
  * ADC top-k all land hash-green.
  *
  * Scale shape: training assignment is a pure map (the [[M]]·[[Ksub]]
  * codebook — 1024 longs — rides into the closure; production would
  * broadcast), the update is one (m, code, dim)-keyed aggregate whose
  * reduce side is ≤ [[M]]·[[Ksub]]·[[SubDim]] rows regardless of corpus
  * size, and the driver holds only that bounded table. Encoding is one
  * narrow pass. ADC probing broadcasts the |queries|·[[M]]·[[Ksub]]
  * distance table against the CODES (4 ints per vector — the point:
  * the 64-float corpus is never re-read), sums [[M]] lookups per
  * (query, vector), and ranks through the map-side bounded
  * [[graft.functions.TopKPairsAggregator]] — no window over the scored
  * corpus, shuffle ≤ k·|partitions|·|queries| pairs. */
object PqOps {

  /** Subspace geometry: 64 dims → [[M]] blocks of [[SubDim]]. More
    * subspaces at fixed [[Ksub]] is the standard PQ accuracy knob
    * (code bits = M·log2(Ksub)): on this store M=4 (16-bit codes)
    * measured 0.36 recall@10, M=8 (32-bit) 0.39 — the small gap is the
    * isotropic-random worst case (see [[PqRecallFloorPpm]]); clustered
    * real embeddings separate the settings sharply. */
  val M = 8
  val SubDim = 8

  /** Codebook size per subspace (4-bit codes). */
  val Ksub = 16

  /** Scaled-int64 currency (the [[EmbedOps.Scale]] convention). */
  private val Scale = EmbedOps.Scale

  private val NumQueries = 10
  private val K = 10

  /** (vec_id, m, sv: array<long>[SubDim]) — the per-subspace view of the
    * scaled store: one narrow ×[[M]] explode, no shuffle. */
  private def subVecs(spark: SparkSession, dir: String): DataFrame =
    Tables.parallel(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast(DoubleType) * Scale).cast(LongType)).as("v"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(M - 1))).as("m"), col("v"))
      .select(col("vec_id"), col("m"),
        slice(col("v"), col("m") * lit(SubDim) + lit(1), lit(SubDim)).as("sv"))

  private def distTo(cvec: Array[Long]): Column =
    aggregate(
      zip_with(col("sv"), array(cvec.toIndexedSeq.map(lit(_)): _*), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)

  /** Adds (code: int, dist: long): argmin over the centroids OF THE
    * ROW'S SUBSPACE — a [[M]]-branch conditional whose taken branch
    * evaluates [[Ksub]] integer distances; ties to the lowest code.
    * Pure projection, no shuffle, no join. */
  private def assign(sub: DataFrame, cents: Map[Int, Seq[(Int, Array[Long])]]): DataFrame = {
    def bestOf(m: Int): Column = least(cents(m).map { case (cid, cvec) =>
      struct(distTo(cvec).as("d"), lit(cid).as("cid"))
    }: _*)
    val best = (0 until M - 1).foldRight(bestOf(M - 1): Column) { (m, rest) =>
      when(col("m") === m, bestOf(m)).otherwise(rest)
    }
    sub.withColumn("best", best)
      .select(col("vec_id"), col("m"), col("sv"),
        col("best.cid").as("code"), col("best.d").as("dist"))
  }

  /** One Lloyd update round + final assignment: c0 (seed slices of the
    * first [[Ksub]] vectors) → assign → per-(m, code, dim) floor-div
    * means → c1 → final assign. Two assignment rounds keep the unrolled
    * grouped-CTE oracle readable, same trade as [[KmeansOps.Iters]]. */
  /** The trained codebooks, memoized per (session, dir) — M·Ksub·SubDim
    * longs of bounded driver state (same rationale as
    * KmeansOps.fitCentroids): pq_codebooks, pq_encode, topk_pq and both
    * IVF-PQ entries each re-ran the two training passes to rebuild the
    * identical model. */
  private def fitCodebooks(spark: SparkSession, dir: String): Map[Int, Seq[(Int, Array[Long])]] =
    SessionMemo(spark, "pq.codebooks", dir)(fitCodebooksLive(spark, dir))

  private def fitCodebooksLive(spark: SparkSession, dir: String): Map[Int, Seq[(Int, Array[Long])]] = {
    val sub = subVecs(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
    var cents: Map[Int, Seq[(Int, Array[Long])]] =
      sub.filter(col("vec_id") < Ksub).orderBy("vec_id", "m").collect().toSeq
        .map(r => (r.getInt(1), (r.getLong(0).toInt, r.getSeq[Long](2).toArray)))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    require(cents.size == M, "embeddings table has no vec_id < Ksub seed rows")
    // bounded collect: ≤ M·Ksub·SubDim = 1024 (m, code, dim, mean) rows
    val sums = assign(sub, cents)
      .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("dim", "val")))
      .groupBy(col("m"), col("code"), col("dim"))
      .agg(sum(col("val")).as("s"), count(lit(1)).as("n"))
      .collect()
    sub.unpersist()
    val upd = sums.map { r =>
      (r.getInt(0), r.getInt(1), r.getInt(2)) ->
        math.floor(r.getLong(3).toDouble / r.getLong(4)).toLong
    }.toMap
    cents.map { case (m, cs) =>
      m -> cs.map { case (cid, cvec) =>
        (cid, Array.tabulate(cvec.length)(i => upd.getOrElse((m, cid, i), cvec(i))))
      }
    }
  }

  /** The trained codebooks (m, cid, dim, coord) — the [[M]]·[[Ksub]]·
    * [[SubDim]]-row artifact a PQ index ships; scaled-int64 coords. */
  def pqCodebooks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fitCodebooks(spark, dir).toSeq.flatMap { case (m, cs) =>
      cs.flatMap { case (cid, cvec) =>
        cvec.toIndexedSeq.zipWithIndex.map { case (v, d) => (m, cid, d, v) }
      }
    }.toDF("m", "cid", "dim", "coord").orderBy("m", "cid", "dim")
  }

  /** PQ encoding: (vec_id, m, code) — each vector's [[M]] 4-bit codes,
    * one narrow pass under the trained codebooks. */
  def pqEncode(spark: SparkSession, dir: String): DataFrame =
    assign(subVecs(spark, dir), fitCodebooks(spark, dir))
      .select(col("vec_id"), col("m"), col("code"))
      .orderBy("vec_id", "m")

  /** ADC top-k: the first [[NumQueries]] vectors probe the ENCODED
    * corpus. Each query precomputes its [[M]]·[[Ksub]] subspace distance
    * table from its RAW (scaled) sub-vectors to the codebooks —
    * asymmetric: only the database side is quantized, which is why ADC
    * beats symmetric code-to-code distance at equal storage. The tables
    * broadcast against the codes; per (query, vector) the distance is
    * [[M]] lookups summed (integer-exact), ranked map-side-bounded.
    * Output (q_id, rank, neighbor_id, adc_dist). */
  def topkPq(spark: SparkSession, dir: String): DataFrame = {
    val cents = fitCodebooks(spark, dir)
    // bounded driver state: NumQueries·M raw sub-vectors → the
    // NumQueries·M·Ksub ADC lookup table (integer-exact squared dists)
    val qtable = adcTables(spark, dir, cents)
    val codes = assign(subVecs(spark, dir), cents)
      .select(col("vec_id"), col("m"), col("code"))
    val adc = codes
      .join(broadcast(qtable), codes("m") === qtable("m") && codes("code") === qtable("cid"))
      .groupBy(col("q_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("td")).as("adc_dist"))
    // rank through the bounded top-k aggregate: ADC distances are exact
    // int64 ≪ 2^53, so the negated-double ordering (asc dist, asc id)
    // is the aggregator's (desc cos, asc id) with zero rounding
    val topk = udaf(graft.functions.TopKPairsAggregator(K))
    adc.groupBy(col("q_id"))
      .agg(topk((-col("adc_dist")).cast(DoubleType), col("neighbor_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("q_id"), (col("pos") + 1).cast(IntegerType).as("rank"),
        col("p.neighborId").as("neighbor_id"),
        (-col("p.cos")).cast(LongType).as("adc_dist"))
      .orderBy("q_id", "rank")
  }

  // ------------------------------------------------------------------
  // Materialized PQ index: write once, probe many
  // ------------------------------------------------------------------

  /** Deterministic on-disk location of the PQ index for a data
    * directory — stamped with the source's (size, mtime) like the kNN
    * and lexical indexes, so regenerated data never serves stale codes. */
  def pqIndexDirFor(dir: String): String =
    stampedIndexDir("graft_pq_index_v1_", dir, "embeddings.parquet")

  /** Train + encode once, persist (codebooks, codes) as parquet — the
    * artifact a production PQ deployment ships: training cost is paid at
    * build time, query time touches only the [[M]]-int codes. */
  def buildPqIndex(spark: SparkSession, dir: String, idx: String): Unit = {
    import spark.implicits._
    val cents = fitCodebooks(spark, dir)
    cents.toSeq.flatMap { case (m, cs) =>
      cs.flatMap { case (cid, cvec) =>
        cvec.toIndexedSeq.zipWithIndex.map { case (v, d) => (m, cid, d, v) }
      }
    }.toDF("m", "cid", "dim", "coord")
      .coalesce(1).write.mode("overwrite").parquet(s"$idx/codebooks")
    assign(subVecs(spark, dir), cents)
      .select(col("vec_id"), col("m"), col("code"))
      .write.mode("overwrite").parquet(s"$idx/codes")
    // the _SUCCESS sentinel of the LAST write gates ensurePqIndex, so a
    // partial build (codebooks without codes) is never served
    ()
  }

  /** Build iff absent; returns the index location. */
  def ensurePqIndex(spark: SparkSession, dir: String): String = {
    val idx = pqIndexDirFor(dir)
    if (!new java.io.File(s"$idx/codes", "_SUCCESS").exists()) buildPqIndex(spark, dir, idx)
    idx
  }

  /** ADC top-k served FROM the materialized index — row-identical to
    * [[topkPq]] (same oracle SQL), but codebooks and codes come off
    * parquet instead of being retrained per run: the write-once /
    * probe-many regime whose probe cost is what a 100 TB serving tier
    * actually pays. Queries still read their raw vectors (they arrive
    * fresh in production); the CORPUS is touched only through codes. */
  def topkPqIndexed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val idx = ensurePqIndex(spark, dir)
    val cents: Map[Int, Seq[(Int, Array[Long])]] =
      spark.read.parquet(s"$idx/codebooks").collect().toSeq
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
        .groupBy(_._1).view.mapValues { rows =>
          rows.groupBy(_._2).toSeq.sortBy(_._1).map { case (cid, cs) =>
            (cid, cs.sortBy(_._3).map(_._4).toArray)
          }
        }.toMap
    val qtable = adcTables(spark, dir, cents)
    val codes = spark.read.parquet(s"$idx/codes")
    val adc = codes
      .join(broadcast(qtable), codes("m") === qtable("m") && codes("code") === qtable("cid"))
      .groupBy(col("q_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("td")).as("adc_dist"))
    val topk = udaf(graft.functions.TopKPairsAggregator(K))
    adc.groupBy(col("q_id"))
      .agg(topk((-col("adc_dist")).cast(DoubleType), col("neighbor_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("q_id"), (col("pos") + 1).cast(IntegerType).as("rank"),
        col("p.neighborId").as("neighbor_id"),
        (-col("p.cos")).cast(LongType).as("adc_dist"))
      .orderBy("q_id", "rank")
  }

  // ------------------------------------------------------------------
  // IVF-PQ: coarse quantizer routes, PQ codes rank
  // ------------------------------------------------------------------

  /** Cells probed per query out of [[KmeansOps.K]] — the IVF recall/
    * throughput dial: probed fraction of the corpus is ~nprobe/K. */
  val NProbe = 3

  /** The full IVF-PQ serving stack (Jégou et al. '11, the FAISS
    * `IVFx,PQy` architecture): the [[KmeansOps]] coarse quantizer —
    * the SAME k=8 model `x_cluster_kmeans` already hash-verifies —
    * partitions the corpus into cells; a query ranks the cells by its
    * exact distance to the coarse centroids (a driver computation over
    * K·Dim longs), probes the nearest [[NProbe]], and runs the ADC
    * ranking of [[topkPq]] over ONLY the vectors in probed cells.
    *
    * Scale shape — why this is THE billion-vector architecture: the
    * candidate set shrinks ~nprobe/K before any distance work, the
    * probed side joins on the cell id (broadcast of |q|·nprobe cell
    * keys — never a shuffle of the corpus), and everything after is
    * [[topkPq]]'s lookup-table regime over 8-int codes. Both trained
    * models are independently hash-verified, and THIS composition is
    * too: the oracle chains the kmeans CTE (prefixed) and the PQ CTE
    * and replays the probe rule, so the end-to-end served ranking is a
    * value equality, not a recall claim. */
  def ivfPqTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val coarse = KmeansOps.fitCentroids(spark, dir)
    // driver probe rule: exact scaled-L2 of each query to the K coarse
    // centroids (K·Dim longs), nprobe nearest cells, ties to lowest cid
    val qfull = Tables.parallel(spark, dir, "embeddings")
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast(DoubleType) * Scale).cast(LongType)).as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val qcell = qfull.toSeq.flatMap { case (qId, qv) =>
      coarse.map { case (cid, cvec) =>
        var d = 0L
        var i = 0
        while (i < qv.length) { val t = qv(i) - cvec(i); d += t * t; i += 1 }
        (qId, cid, d)
      }.sortBy { case (_, cid, d) => (d, cid) }
        .take(NProbe).map { case (_, cid, _) => (qId, cid) }
    }.toDF("q_id", "cell")
    // candidate routing: cell assignment under the SAME coarse model,
    // pruned by the broadcast (q_id, cell) probe set
    val cells = KmeansOps.kmeansAssign(spark, dir)
    val cand = cells.join(broadcast(qcell), cells("cluster") === qcell("cell"))
      .select(col("q_id"), col("vec_id"))
    // ADC over the candidates only — the topkPq machinery
    val cents = fitCodebooks(spark, dir)
    val qtable = adcTables(spark, dir, cents)
    val codes = assign(subVecs(spark, dir), cents)
      .select(col("vec_id"), col("m"), col("code"))
    val adc = cand
      .join(codes, Seq("vec_id"))
      .join(broadcast(qtable),
        codes("m") === qtable("m") && codes("code") === qtable("cid") &&
          cand("q_id") === qtable("q_id"))
      .groupBy(cand("q_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("td")).as("adc_dist"))
    val topk = udaf(graft.functions.TopKPairsAggregator(K))
    adc.groupBy(col("q_id"))
      .agg(topk((-col("adc_dist")).cast(DoubleType), col("neighbor_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("q_id"), (col("pos") + 1).cast(IntegerType).as("rank"),
        col("p.neighborId").as("neighbor_id"),
        (-col("p.cos")).cast(LongType).as("adc_dist"))
      .orderBy("q_id", "rank")
  }

  /** Recall floor for [[ivfPqRecallGate]] in ppm. Measured ~0.43 —
    * ABOVE unprobed PQ's 0.39: probing costs the queries whose true
    * neighbor sits in an unvisited cell, but it also pre-filters the
    * distant vectors that ADC's quantization error spuriously promotes
    * into the top-k, and on this isotropic store the filter wins. The
    * floor accounts for both effects and flags collapses (mis-routed
    * cells ⇒ near-zero overlap), not noise. */
  val IvfPqRecallFloorPpm = 180000L

  /** ADC recall of the probed ranking vs exact scaled-L2 top-[[K]] —
    * (n_queries, k, passes) with the oracle expecting passes=true. */
  def ivfPqRecallGate(spark: SparkSession, dir: String): DataFrame = {
    val hits = ivfPqTopk(spark, dir)
      .join(exactTopk(spark, dir), Seq("q_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    hits.select(
      lit(NumQueries).as("n_queries"), lit(K).as("k"),
      (col("n_hits") * 1000000L / (NumQueries.toLong * K) >= IvfPqRecallFloorPpm).as("passes"))
  }

  /** The |queries|·[[M]]·[[Ksub]] ADC lookup table (q_id, m, cid, td):
    * integer-exact subspace distances from each query's RAW scaled
    * sub-vectors to the codebooks — bounded driver work, shared by
    * [[topkPq]] and [[ivfPqTopk]]. */
  private def adcTables(spark: SparkSession, dir: String,
      cents: Map[Int, Seq[(Int, Array[Long])]]): DataFrame = {
    import spark.implicits._
    val qsub = subVecs(spark, dir).filter(col("vec_id") < NumQueries).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getSeq[Long](2).toArray))
    qsub.toSeq.flatMap { case ((qId, m), qv) =>
      cents(m).map { case (cid, cvec) =>
        var d = 0L
        var i = 0
        while (i < qv.length) { val t = qv(i) - cvec(i); d += t * t; i += 1 }
        (qId, m, cid, d)
      }
    }.toDF("q_id", "m", "cid", "td")
  }

  /** Exact scaled-L2 top-[[K]] per query (the shared accuracy anchor of
    * both recall gates): one broadcast-queries corpus pass, map-side
    * bounded ranking. */
  private def exactTopk(spark: SparkSession, dir: String): DataFrame = {
    val scaled = Tables.parallel(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast(DoubleType) * Scale).cast(LongType)).as("fv"))
    val queries = scaled.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("fv").as("qv"))
    val scored = scaled.join(broadcast(queries))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        (-aggregate(zip_with(col("fv"), col("qv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)).cast(DoubleType).as("cos"))
    val topk = udaf(graft.functions.TopKPairsAggregator(K))
    scored.groupBy(col("q_id"))
      .agg(topk(col("cos"), col("neighbor_id")).as("top"))
      .select(col("q_id"), explode(col("top.neighborId")).as("neighbor_id"))
  }

  /** Recall floor for [[pqRecallGate]], in ppm. The synthetic store is
    * ISOTROPIC random unit vectors — the PQ worst case (no cluster
    * structure for codebooks to exploit): 32-bit codes measure ~0.39
    * recall@10 here where clustered real-world embeddings sit far
    * higher. The floor (the knn-join spec's 0.25 precedent) is chosen
    * against the failure mode, not the noise: a broken codebook or a
    * scrambled code join collapses recall to ~k/N ≈ 0.02, two orders
    * under the floor, while the measured value clears it with margin. */
  val PqRecallFloorPpm = 250000L

  /** Accuracy gate: ADC top-[[K]] vs the exact scaled-L2 top-[[K]] per
    * query (the same integer currency, so "exact" is itself
    * hash-stable). passes ⇔ overall recall ≥ [[PqRecallFloorPpm]];
    * the oracle expects (n_queries, k, passes=true) — the
    * `x_sim_knn_recall_gate` pattern. */
  def pqRecallGate(spark: SparkSession, dir: String): DataFrame = {
    val hits = topkPq(spark, dir)
      .join(exactTopk(spark, dir), Seq("q_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    hits.select(
      lit(NumQueries).as("n_queries"), lit(K).as("k"),
      (col("n_hits") * 1000000L / (NumQueries.toLong * K) >= PqRecallFloorPpm).as("passes"))
  }
}
