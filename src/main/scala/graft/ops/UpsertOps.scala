package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, TimestampType}

/** Key-based upsert (MERGE) into a partitioned parquet lake — the
  * transaction-log-free form: updates replace current rows by key,
  * inserts land, untouched PARTITIONS are never read or rewritten.
  *
  * Plan per call:
  *   1. locate the partitions to rewrite: those NAMED by an update row,
  *      plus — because a key's partition value may CHANGE across updates —
  *      any partition currently holding an updated key. The latter is a
  *      column-pruned scan of (key, partCol) only (two thin parquet
  *      columns, no payload I/O) semi-joined against the broadcast update
  *      keys; skippable via `keysArePartitionStable = true` when the
  *      caller guarantees keys never move partitions (e.g. the partition
  *      column is derived from the key).
  *   2. anti-join current⟕updates by key over the touched slice keeps
  *      survivors, union adds the updates (insert + replace in one pass);
  *      because every partition holding an updated key is in the touched
  *      set, a moved key's stale row is read and anti-joined away — no
  *      duplicate keys after the merge.
  *   3. dynamic partition overwrite rewrites exactly the touched
  *      partitions; a touched partition left with ZERO rows (its only
  *      keys moved away) is absent from the output and explicitly
  *      deleted afterwards — dynamic overwrite alone would leave the
  *      stale directory in place.
  * The merged slice is localCheckpoint-ed before the overwrite because
  * the write targets the same directory being read (classic
  * read-overwrite hazard); a production deployment swaps this seam for a
  * table format with a transaction log (Delta/Iceberg) and keeps the
  * same merge plan. */
object UpsertOps {

  def upsertByKey(
      spark: SparkSession, targetDir: String, updates: DataFrame,
      key: String, partCol: String, keysArePartitionStable: Boolean = false): Unit = {
    val current = spark.read.parquet(targetDir)
    val updKeys = updates.select(key).distinct()
    val named = updates.select(partCol).distinct()
    val touched =
      if (keysArePartitionStable) named
      else named.union(
        current.select(col(key), col(partCol)) // column-pruned: 2 cols read
          .join(broadcast(updKeys), Seq(key), "left_semi")
          .select(col(partCol)))
        .distinct()
    val survivors = current
      .join(broadcast(touched), Seq(partCol), "left_semi") // prune to touched partitions
      .join(updKeys, Seq(key), "left_anti") // drop rows being replaced
    val merged = survivors.unionByName(updates.select(survivors.columns.map(col): _*))
      .localCheckpoint(true)
    // a touched partition can DRAIN: a moved key's old partition may have
    // zero rows in `merged`, and dynamic overwrite only rewrites
    // partitions PRESENT in the output — the stale directory would
    // survive. Both sides of the diff are bounded by |touched| (small by
    // construction), so the set difference is a safe driver-side step.
    val drained = touched.collect().map(_.get(0)).toSet --
      merged.select(partCol).distinct().collect().map(_.get(0)).toSet
    merged.write.partitionBy(partCol).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(targetDir)
    if (drained.nonEmpty) {
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(targetDir).getFileSystem(conf)
      drained.foreach { v =>
        val dir = new org.apache.hadoop.fs.Path(targetDir,
          s"$partCol=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .escapePathName(String.valueOf(v)))
        fs.delete(dir, true)
      }
    }
  }

  /** SCD2 (type-2 slowly-changing-dimension) merge — the versioned
    * counterpart of `upsertByKey`: instead of replacing a changed row,
    * the current version is CLOSED (`valid_to` stamped with the effective
    * instant) and a new open version appended, so history stays
    * queryable as-of any date.
    *
    * The registry query derives both inputs deterministically from the
    * customer dimension (current = every customer at version 1; changes =
    * keys ≡ 0 mod 7 with the balance moved by +100 in exact decimal) so
    * the whole merge is value-oracled against DuckDB.
    *
    * Scale shape: ONE keyed left join of the dimension against the
    * (broadcast) change set decides closed-vs-untouched per row, and the
    * new versions are the change set re-projected — no window, no
    * self-join, no full-dimension shuffle. On a key-bucketed dimension
    * table the join co-locates and the merge rewrites only the buckets
    * holding changed keys (same touched-partition discipline as
    * `upsertByKey`). */
  def scd2Merge(spark: SparkSession, dir: String): DataFrame = {
    val open = lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    val eff = lit(java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
    val customer = Tables(spark, dir, "customer")
    val changes = customer
      .filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("u_key"),
        (dec2(col("c_acctbal")) + lit(BigDecimal(100)).cast(Dec2))
          .cast(DoubleType).as("new_bal"))
    val current = customer.select(
      col("c_custkey"), col("c_acctbal"),
      open.as("valid_from"), lit(null).cast(TimestampType).as("valid_to"),
      lit(1).as("version"))
    val closedOrKept = current
      .join(broadcast(changes), current("c_custkey") === changes("u_key"), "left")
      .select(col("c_custkey"), col("c_acctbal"), col("valid_from"),
        when(col("u_key").isNotNull, eff).otherwise(col("valid_to")).as("valid_to"),
        col("version"))
    val newVersions = changes.select(
      col("u_key").as("c_custkey"), col("new_bal").as("c_acctbal"),
      eff.as("valid_from"), lit(null).cast(TimestampType).as("valid_to"),
      lit(2).as("version"))
    closedOrKept.unionByName(newVersions).orderBy("c_custkey", "version")
  }

  /** Partition compaction — the small-files maintenance pass every
    * long-lived lake needs: repeated upserts / streaming epochs leave
    * partitions holding many sub-row-group files, and at 100 TB scan cost
    * becomes file-open-bound long before it is byte-bound.
    *
    * Only partitions whose file count exceeds `filesPerPartition` are
    * touched (discovered from the `_metadata.file_path` column — a
    * file-listing aggregation, no payload I/O); each is clustered to one
    * task by a partition-key repartition and rewritten via dynamic
    * overwrite, so every other partition keeps its files BYTE-IDENTICAL
    * (spec-pinned, same property as the upsert). Values are unchanged —
    * compaction is pure layout. Returns the compacted partition values
    * (bounded by |partitions|, a safe driver-side set). */
  def compact(spark: SparkSession, targetDir: String, partCol: String,
      filesPerPartition: Int = 1): Seq[Any] = {
    val counts = spark.read.parquet(targetDir)
      .select(col(partCol), col("_metadata.file_path").as("f"))
      .groupBy(col(partCol)).agg(countDistinct(col("f")).as("nf"))
    val toCompact = counts.filter(col("nf") > filesPerPartition).select(col(partCol))
    val vals = toCompact.collect().map(_.get(0)).toSeq
    if (vals.nonEmpty) {
      // localCheckpoint: the rewrite targets the directory being read
      // (same read-overwrite hazard seam as upsertByKey)
      val slice = spark.read.parquet(targetDir)
        .join(broadcast(toCompact), Seq(partCol), "left_semi")
        .repartition(col(partCol))
        .localCheckpoint(true)
      slice.write.partitionBy(partCol).mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(targetDir)
    }
    vals
  }

  /** Partition retention (TTL) — compaction's sibling maintenance pass:
    * drop whole partitions whose partition VALUE falls before the
    * retention horizon. Expiry is decided by a payload-free scan of the
    * partition column alone (its values come from directory names, so
    * ReadSchema is empty — footer row counts are the only I/O; the
    * horizon comparison is lexicographic on the string form, i.e. the
    * partition scheme must be ISO-date-style ordered, which date
    * partitions are), and removal is
    * a directory delete per expired partition: surviving partitions are
    * never read, never rewritten, byte-identical after the pass. At
    * 100 TB this is the only affordable shape for retention — any
    * row-level formulation rewrites the whole table to delete old rows,
    * which is why retention policies should align with the partition
    * key. Returns the expired partition values (bounded by
    * |partitions|). Idempotent: a second pass finds nothing. */
  def expirePartitions(
      spark: SparkSession, targetDir: String, partCol: String,
      keepFrom: String): Seq[String] = {
    val parts = spark.read.parquet(targetDir)
      .select(col(partCol).cast("string")).distinct()
      .filter(col(partCol) < keepFrom)
    val vals = parts.collect().map(_.getString(0)).toSeq
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(targetDir), spark.sparkContext.hadoopConfiguration)
    // directory names use Spark's partition-path escaping (spaces, colons
    // — e.g. timestamp values — are %-encoded), so the delete path must
    // escape the SAME way or escaped-value partitions silently survive;
    // and only values fs.delete CONFIRMS removed are reported expired
    vals.filter { v =>
      val dir = new org.apache.hadoop.fs.Path(targetDir,
        s"$partCol=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(v))
      fs.delete(dir, true)
    }
  }

  /** Which partitions of the maintenance-bench fixture are written
    * FRAGMENTED (16 files each); the rest are written as one file, so a
    * correct compaction pass must rewrite exactly these. */
  val BenchFragTypes: Seq[String] = Seq("click", "view")

  /** Headline maintenance benchmark: a deterministic fragmented lake
    * from the `events` table (two event-type partitions shattered into
    * 16 files each, the rest written as one file), a [[compact]] pass,
    * and the per-partition file census with the touched set — the
    * timing the round record keeps honest, because compaction is the
    * 100 TB op most sensitive to an accidental full-table rewrite (the
    * fixture's untouched partitions make such a regression visible as a
    * wall-time jump: 3 of 5 partitions must NOT be rewritten, and the
    * spec pins their bytes). The fixture rebuild is the registered
    * `benchPrep` (untimed, before every rep), so the recorded number is
    * the compaction pass alone; outside Bench, [[compactBench]] rebuilds
    * for itself whenever the lake is not in its fragmented state. */
  /** The maintenance-bench fixture's lake directory. Carries the Spark
    * application id: two concurrent executions (bench + test suite)
    * would otherwise race on delete/rebuild/compact of ONE shared
    * fixture directory. Shared with [[compactGate]], which reads the
    * lake back after a [[compactBench]] pass. */
  def benchLakePath(spark: SparkSession, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_maint_lake_" +
      spark.sparkContext.applicationId + "_" +
      dir.replaceAll("[^A-Za-z0-9.]+", "_")

  /** (Re)build the fragmented fixture lake from scratch — the untimed
    * half of the maintenance benchmark, wired as `benchPrep` so Bench
    * re-fragments before every timed rep and the recorded number is the
    * compaction pass alone (round 9 flagged the old all-in-one shape:
    * the timing mixed fixture write I/O with the op under test). */
  def rebuildBenchLake(spark: SparkSession, dir: String): Unit = {
    val lake = benchLakePath(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(lake), true)
    val events = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    events.filter(col("event_type").isin(BenchFragTypes: _*))
      .repartition(16).write.partitionBy("event_type").mode("overwrite").parquet(lake)
    events.filter(!col("event_type").isin(BenchFragTypes: _*))
      .coalesce(1).write.partitionBy("event_type").mode("append").parquet(lake)
  }

  /** True iff the fixture lake is present in its FRAGMENTED
    * (pre-compaction) state: every [[BenchFragTypes]] partition holds ≥2
    * parquet files and at least one untouched partition exists (a
    * half-written fixture must be rebuilt, not compacted). */
  private def lakeFragmented(spark: SparkSession, dir: String): Boolean = {
    val lake = new org.apache.hadoop.fs.Path(benchLakePath(spark, dir))
    val fs = lake.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquets(p: org.apache.hadoop.fs.Path): Int =
      if (!fs.exists(p)) 0
      else fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    fs.exists(lake) &&
      BenchFragTypes.forall(t =>
        parquets(new org.apache.hadoop.fs.Path(lake, s"event_type=$t")) >= 2) &&
      fs.listStatus(lake).exists { s =>
        val n = s.getPath.getName
        s.isDirectory && n.startsWith("event_type=") &&
          !BenchFragTypes.contains(n.stripPrefix("event_type="))
      }
  }

  def compactBench(spark: SparkSession, dir: String): DataFrame = {
    // self-sufficient for Verify/specs (no Bench prep ran): rebuild iff
    // the lake is missing, half-written, or already compacted by a
    // previous call — under Bench, prep has just re-fragmented it and
    // this is a cheap fs listing, so the timed path is compaction only
    if (!lakeFragmented(spark, dir)) rebuildBenchLake(spark, dir)
    val lake = benchLakePath(spark, dir)
    val compacted = compact(spark, lake, "event_type", filesPerPartition = 1)
      .map(String.valueOf)
    spark.read.parquet(lake)
      .select(col("event_type"), col("_metadata.file_path").as("f"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("f")).cast(IntegerType).as("n_files"))
      .withColumn("compacted", col("event_type").isin(compacted: _*))
      .orderBy("event_type")
  }

  /** Value-checked gate for the compaction pass (the recall-gate
    * pattern): after a full [[compactBench]] rebuild+compact cycle,
    * every partition is exactly one file, the rewritten set is exactly
    * the fragmented fixtures ([[BenchFragTypes]]), and — the invariant a
    * file-rewrite op must NEVER lose — the lake's content reconciles
    * with the source: row count, partition count and the integer
    * event_id sum all match what the oracle recomputes from `events`
    * directly. */
  def compactGate(spark: SparkSession, dir: String): DataFrame = {
    val census = compactBench(spark, dir)
    val censusBad = census.agg(
      sum(when(col("n_files") =!= 1, 1L).otherwise(0L)).as("frag_left"),
      sum(when(col("compacted") =!=
        col("event_type").isin(BenchFragTypes: _*), 1L).otherwise(0L))
        .as("wrong_touched"))
    val content = spark.read.parquet(benchLakePath(spark, dir)).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("event_type")).cast(IntegerType).as("n_types"),
      sum(col("event_id")).as("sum_event_id"))
    content.crossJoin(censusBad)
      .select(col("n_rows"), col("n_types"), col("sum_event_id"),
        (col("frag_left") === 0L && col("wrong_touched") === 0L).as("passes"))
  }

  /** Vacuum superseded materialized-index snapshots. Every index family
    * (kNN hyperplane signatures, lexical BM25 statistics, MinHash
    * posting rows) stamps its directory with the SOURCE file's
    * (size, mtime), so regenerated data silently strands the previous
    * snapshot — this is the retention pass that reclaims them. Keeps
    * exactly the stamp that matches the current source; deletes the
    * rest, CHECKING the delete result (an undeleted dir is reported
    * `delete_failed`, never silently claimed reclaimed — the
    * expirePartitions discipline). Driver-side filesystem walk bounded
    * by |tmp entries|; no Spark job. */
  def vacuumStaleIndexes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tag = dir.replaceAll("[^A-Za-z0-9.]+", "_")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val families = Seq(
      ("knn", "graft_knn_index_v2_", "embeddings.parquet"),
      ("lex", "graft_lex_index_v2_", "documents.parquet"),
      ("lex_incr_base", "graft_lex_incr_base_v1_", "documents.parquet"),
      ("lex_incr_out", "graft_lex_incr_out_v1_", "documents.parquet"),
      ("minhash", "graft_minhash_index_v1_", "documents.parquet"))
    // attempt EVERY child (no forall short-circuit), tolerate unreadable
    // listings (File.listFiles returns null, not empty) — a failure
    // surfaces as delete_failed, never as an exception
    def rmRec(f: java.io.File): Boolean = {
      val childrenOk =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).map(rmRec).forall(identity)
        else true
      f.delete() && childrenOk
    }
    val rows = families.flatMap { case (fam, prefix, srcName) =>
      // "current" reconstructed through the SAME shared helper the
      // producers use — the stamp format cannot drift
      val current = new java.io.File(stampedIndexDir(prefix, dir, srcName)).getName
      Option(tmp.listFiles()).getOrElse(Array.empty).toSeq
        .filter(_.getName.startsWith(prefix + tag + "_"))
        .map { f =>
          if (f.getName == current) (fam, f.getName, "kept")
          else (fam, f.getName, if (rmRec(f)) "deleted" else "delete_failed")
        }
    }
    rows.toDF("family", "index_dir", "action").orderBy("family", "index_dir")
  }

  /** CDC changelog apply — collapse an out-of-order upsert/delete
    * changelog to its final table state by last-writer-wins: for each
    * key keep only the row with the highest sequence number, and drop
    * the key entirely if that winner is a delete. The events stream
    * plays the changelog (key = event_id mod 997 so keys carry multiple
    * versions, seq = event_id, 'error' events are tombstones).
    *
    * Scale shape: ONE keyed hash aggregate — the winner is
    * max(struct(seq, …)), which partial-aggregates map-side (each
    * partition ships one candidate row per key it saw, never the full
    * version history), then a cheap post-filter on the tombstone flag.
    * This is the standard compaction a CDC sink (Debezium→lake) runs,
    * and the same plan applies unchanged whether the log arrives sorted,
    * shuffled, or partially compacted — seq, not arrival order, decides.
    * A `row_number` window over key would sort every version per key in
    * |keys| reducers; the aggregate form never materializes an ordering. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val log = Tables(spark, dir, "events").select(
      (col("event_id") % 997).as("key"),
      col("event_id").as("seq"),
      (col("event_type") === "error").as("tombstone"),
      col("value"), col("user_id"))
    log.groupBy(col("key"))
      .agg(max(struct(col("seq"), col("tombstone"), col("value"),
        col("user_id"))).as("w"))
      .filter(!col("w.tombstone"))
      .select(col("key"), col("w.seq").as("last_seq"),
        col("w.value").as("value"), col("w.user_id").as("user_id"))
      .orderBy("key")
  }

  /** Incremental materialized-view maintenance: the monthly aggregate
    * (a1's shape) kept fresh by folding a delta batch's PARTIAL STATES
    * into a materialized base — the warehouse Δ-maintenance pattern
    * (same economics as the BM25 incremental index: refresh cost tracks
    * batch size, never table size).
    *
    * The stored state per (event_type, month) is the mergeable triple
    * (decimal sum, value count, row count) — decimal sums are exact and
    * order-independent, so base ⊕ delta is bit-identical to a full
    * recompute, and the finalize step (avg = sum/count in double)
    * happens only at read time. The registry oracle is the SAME SQL as
    * `a1_monthly_agg_events`, pinning incremental ≡ recompute as a hash
    * equality, not a claim. The corpus splits deterministically (90%
    * base / event_id divisible by 10 as the "new day's" delta). */
  def mvIncrementalMonthly(spark: SparkSession, dir: String): DataFrame = {
    def partial(df: DataFrame): DataFrame = df
      .groupBy(col("event_type"), date_trunc("month", col("ts")).as("month"))
      .agg(sum(dec2(col("value"))).as("s"), count(col("value")).as("c"),
        count(lit(1)).as("n"))
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
    val base = stampedIndexDir("graft_mv_base_v1_", dir, "events.parquet")
    if (!new java.io.File(s"$base/_SUCCESS").exists())
      partial(ev.filter(col("event_id") % 10 =!= 0))
        .write.mode("overwrite").parquet(base)
    val delta = partial(ev.filter(col("event_id") % 10 === 0))
    spark.read.parquet(base).as("b")
      .join(delta.as("d"),
        col("b.event_type") === col("d.event_type") &&
          col("b.month") === col("d.month"), "full_outer")
      .select(
        coalesce(col("b.event_type"), col("d.event_type")).as("event_type"),
        coalesce(col("b.month"), col("d.month")).as("month"),
        (coalesce(col("b.s"), lit(BigDecimal(0)).cast(Dec2)) +
          coalesce(col("d.s"), lit(BigDecimal(0)).cast(Dec2))).as("s"),
        (coalesce(col("b.c"), lit(0L)) + coalesce(col("d.c"), lit(0L))).as("c"),
        (coalesce(col("b.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n"))
      .select(col("event_type"), col("month"),
        (col("s").cast(DoubleType) / col("c")).as("avg_value"),
        col("s").cast(DoubleType).as("total_value"),
        col("n").as("rows_loaded"))
      .orderBy("event_type", "month")
  }

  /** Incremental maintenance of a JOIN-aggregate MV — the delta-join
    * algebra [[mvIncrementalMonthly]]'s single-table fold can't express:
    * with the view V = γ(A ⋈ B) materialized over base slices A₀, B₀ and
    * new batches ΔA (orders), ΔB (lineitem) arriving on BOTH sides,
    *
    *   Δ(A ⋈ B) = ΔA ⋈ B₀  ∪  A₀ ⋈ ΔB  ∪  ΔA ⋈ ΔB
    *
    * (disjoint because A₀/ΔA and B₀/ΔB partition their tables), so the
    * refresh computes three DELTA-SIDED joins — each joins a batch
    * against a base table or another batch, never base ⋈ base — partial-
    * aggregates their union once, and folds the mergeable (decimal sum,
    * row count) states into the stored base partials exactly as the
    * single-table MV does. Refresh cost tracks |Δ| × base-scan, never
    * the |A₀ ⋈ B₀| recompute — the economics that make join MVs viable
    * on a continuously-loading warehouse.
    *
    * Decimal sums are exact and order-independent, so base ⊕ delta is
    * bit-identical to a full recompute: the registry oracle IS the plain
    * recompute SQL, pinning incremental ≡ recompute as a hash equality.
    * Splits: o_orderkey % 10 = 0 is the orders batch, l_orderkey % 7 = 0
    * the lineitem batch (different moduli so every one of the three
    * delta terms is non-empty — each contributes rows the others miss). */
  /** Mergeable partial states of the join MV over an (orders slice,
    * lineitem slice) pair: per (priority, order-month), exact decimal
    * revenue sum + row count. Shared by the batch IVM below and the
    * streaming maintainer (graft.streaming.StreamingMvJoin) — one
    * definition, so batch ≡ streaming is structural. */
  def mvJoinPartial(o: DataFrame, l: DataFrame): DataFrame = o
    .join(l, col("o_orderkey") === col("l_orderkey"))
    .groupBy(col("o_orderpriority"),
      date_trunc("month", col("o_orderdate")).as("month"))
    .agg(sum(dec2(col("l_extendedprice"))).as("s"), count(lit(1)).as("n"))

  /** Merge any collection of [[mvJoinPartial]] rows (base ∪ deltas ∪
    * micro-batch commits) and finalize to the read schema — decimal
    * sums make the fold exact and order-free, so ANY grouping of the
    * input rows into partials serves the same view. */
  def mvJoinServe(partials: DataFrame): DataFrame = partials
    .groupBy(col("o_orderpriority"), col("month"))
    .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
    .select(col("o_orderpriority"), col("month"),
      col("s").cast(DoubleType).as("revenue"), col("n").as("n_rows"))
    .orderBy("o_orderpriority", "month")

  def mvJoinIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    val ordBase = ord.filter(col("o_orderkey") % 10 =!= 0)
    val ordDelta = ord.filter(col("o_orderkey") % 10 === 0)
    val liBase = li.filter(col("l_orderkey") % 7 =!= 0)
    val liDelta = li.filter(col("l_orderkey") % 7 === 0)
    val base = stampedIndexDir("graft_mvj_base_v1_", dir, "orders.parquet")
    if (!new java.io.File(s"$base/_SUCCESS").exists())
      mvJoinPartial(ordBase, liBase).write.mode("overwrite").parquet(base)
    mvJoinServe(spark.read.parquet(base)
      .unionByName(mvJoinPartial(ordDelta, liBase))
      .unionByName(mvJoinPartial(ordBase, liDelta))
      .unionByName(mvJoinPartial(ordDelta, liDelta)))
  }
}
