package graft

import graft.weather.OpenMeteoIngest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based tests (SURVEY.md §5 layer 4) using scalacheck directly
  * (the scalatest bridge artifact isn't in the offline cache): null
  * propagation of enrichment scalars, aggregate invariance under
  * permutation/partitioning, kernel determinism. */
class PropertySpec extends SparkSpec {

  import graft.functions.Mix

  private def check(name: String, p: Prop, n: Int = 30): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, s"$name: $res")
  }

  test("F3/F4 ∀ inputs: temperatureF = C*9/5+32 or both null; null precip → 0") {
    import spark.implicits._
    val gen = Gen.listOfN(20, Gen.option(Gen.chooseNum(-60.0, 60.0)))
    check("nullprop", Prop.forAll(gen) { temps =>
      val df = temps.zipWithIndex
        .map { case (t, i) => (s"2025-01-01T${"%02d".format(i % 24)}:00", t, Option.empty[Double]) }
        .toDF("time", "temperature_2m", "precipitation")
      val out = df.select(
        col("temperature_2m").as("temperatureC"),
        (col("temperature_2m") * lit(9) / lit(5) + lit(32)).as("temperatureF"),
        coalesce(col("precipitation"), lit(0.0)).as("rainfallMm")).collect()
      out.zip(temps).forall { case (r, t) =>
        val rainOk = r.getDouble(2) == 0.0
        t match {
          case Some(c) => rainOk && r.getDouble(0) == c && r.getDouble(1) == c * 9 / 5 + 32
          case None => rainOk && r.isNullAt(0) && r.isNullAt(1)
        }
      }
    }, n = 15)
  }

  test("decimal-routed sum invariant under permutation and partition count") {
    import spark.implicits._
    val gen = for {
      vals <- Gen.nonEmptyListOf(Gen.chooseNum(-10000.0, 10000.0).map(v => math.round(v * 100) / 100.0))
      parts <- Gen.chooseNum(1, 8)
      seed <- Gen.long
    } yield (vals, parts, seed)
    check("sumperm", Prop.forAll(gen) { case (vals, parts, seed) =>
      def agg(xs: Seq[Double], np: Int): Double =
        xs.toDF("v").repartition(np)
          .agg(sum(col("v").cast(DecimalType(18, 2))).cast(DoubleType)).collect()(0).getDouble(0)
      val perm = new scala.util.Random(seed).shuffle(vals)
      agg(vals, parts) == agg(perm, (parts % 8) + 1) // exact bit equality
    }, n = 15)
  }

  test("kernel hashes: deterministic; sortedDistinct matches distinct+sorted") {
    import org.apache.spark.unsafe.types.UTF8String
    check("hashes", Prop.forAll(Gen.listOf(Gen.alphaNumStr)) { tokens =>
      val hs = tokens.map(t => Mix.hashUtf8(UTF8String.fromString(t)))
      val again = tokens.map(t => Mix.hashUtf8(UTF8String.fromString(t)))
      val dedup = Mix.sortedDistinct(hs.toArray, hs.length).toSeq
      hs == again && dedup == hs.distinct.sorted
    }, n = 50)
  }

  test("MinHashBucketPairs ∀ random buckets == PostingListPairs-style brute verify") {
    import spark.implicits._
    import graft.functions.exprs._
    import org.apache.spark.sql.functions.{col, explode}
    val docGen = for {
      id <- Gen.chooseNum(0L, 50L)
      hs <- Gen.nonEmptyListOf(Gen.chooseNum(1L, 40L)).map(_.distinct.sorted)
    } yield (id, hs)
    val bucketGen = Gen.listOfN(5, docGen).map(_.distinctBy(_._1)).suchThat(_.length >= 2)
    check("mhbp", Prop.forAll(bucketGen) { docs =>
      val got = Seq(docs.map(d => (d._1, d._2, Seq.empty[Long])))
        .toDF("ms")
        .select(explode(minhash_bucket_pairs(col("ms"), lit(0), 1, 2)).as("p"))
        .select(col("p.doc_a"), col("p.doc_b"), col("p.jaccard"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = (for {
        (ia, ha) <- docs; (ib, hb) <- docs
        if ia < ib
        common = ha.toSet.intersect(hb.toSet).size
        union = ha.toSet.union(hb.toSet).size
        if 2 * common >= union
      } yield (ia, ib, common.toDouble / union)).toSet
      got == want
    }, n = 20)
  }

  test("every oracled registry query is bit-stable across two runs (hash-gate guard)") {
    // the driver's correctness gate hashes values; any run-to-run
    // nondeterminism (AQE re-plans, partial-agg merge order) would flake
    // it even with correct logic. Cheap full sweep at sf0.001. The
    // session memos are released between the runs, so run B re-derives
    // every memoized input instead of reading run A's copy.
    Registry.all.filter(_.oracle.isDefined).foreach { q =>
      val a = q.build(spark, Sf0001).collect()
      graft.ops.SessionMemo.releaseAll()
      val b = q.build(spark, Sf0001).collect()
      assert(a.length == b.length, q.name)
      a.zip(b).foreach { case (x, y) => assert(x == y, s"${q.name}: $x != $y") }
    }
  }

  test("oracled queries are bit-stable across shuffle-partition widths (7 vs default)") {
    // the driver may run with any SPARK_GRAFT_CPUS; the decimal-route /
    // total-order policy must make results invariant to shuffle width
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val sample = Seq("a1_monthly_agg_lineitem", "g1_rollup", "j3_star_join", "j6_asof_join",
      "w5_rolling_time", "a12_topk_agg", "x_dedup_ngram_jaccard", "a9_stddev_exact",
      // round-5 entries whose core claim IS partitioning-invariance
      "x_embed_centroids", "x_text_salient", "x_sample_cap_source")
    val wide = sample.map(n => n -> Registry.byName(n).build(spark, Sf0001).collect())
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      sample.foreach { n =>
        val narrow = Registry.byName(n).build(spark, Sf0001).collect()
        val w = wide.toMap.apply(n)
        assert(narrow.length == w.length, n)
        narrow.zip(w).foreach { case (x, y) => assert(x == y, s"$n: $x != $y") }
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("MisraGries ∀ streams × partitionings: k-bound, lower-bound, n/(k+1) error, coverage") {
    import graft.functions.MisraGriesAggregator
    val gen = for {
      items <- Gen.listOf(Gen.chooseNum(0, 12).map(i => s"t$i"))
      k <- Gen.chooseNum(2, 8)
      cuts <- Gen.listOfN(3, Gen.chooseNum(0, math.max(items.size, 1)))
    } yield (items, k, cuts.sorted)
    check("misragries", Prop.forAll(gen) { case (items, k, cuts) =>
      val agg = MisraGriesAggregator(k)
      // fold each slice separately (a "partition"), then merge — any
      // slicing must satisfy the same guarantees
      val bounds = (0 +: cuts :+ items.size).distinct.sorted
      val slices = bounds.zip(bounds.tail).map { case (a, b) => items.slice(a, b) }
      val sketch = slices
        .map(_.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = items.size.toLong
      val bound = n / (k + 1)
      sketch.size <= k &&
        sketch.forall { case (t, est) =>
          est <= truth(t) && truth(t) - est <= bound } &&
        truth.forall { case (t, f) => f <= bound || sketch.contains(t) }
    }, n = 60)
  }

  test("TopKPairs ∀ streams × partitionings: equals sorted-take-k, NaN ranks first") {
    import graft.functions.{ScoredNeighbor, TopKPairsAggregator}
    val pairGen = for {
      cos <- Gen.oneOf(Gen.chooseNum(-1.0, 1.0), Gen.const(Double.NaN))
      id <- Gen.chooseNum(0L, 20L)
    } yield ScoredNeighbor(cos, id)
    val gen = for {
      pairs <- Gen.listOf(pairGen)
      k <- Gen.chooseNum(1, 6)
      cut <- Gen.chooseNum(0, math.max(pairs.size, 1))
    } yield (pairs, k, cut)
    check("topkpairs", Prop.forAll(gen) { case (pairs, k, cut) =>
      val agg = TopKPairsAggregator(k)
      val (a, b) = pairs.splitAt(cut)
      val got = agg.merge(
        a.foldLeft(agg.zero)(agg.reduce), b.foldLeft(agg.zero)(agg.reduce))
      // the SQL total order: cos DESC with NaN greatest, then id ASC
      val want = pairs.sortWith { (x, y) =>
        val c = java.lang.Double.compare(y.cos, x.cos)
        if (c != 0) c < 0 else x.neighborId < y.neighborId
      }.take(k)
      // compare via bit patterns so NaN == NaN
      def key(p: ScoredNeighbor) =
        (java.lang.Double.doubleToLongBits(p.cos), p.neighborId)
      got.map(key) == want.map(key)
    }, n = 60)
  }

  test("explodeHourly row count equals hourly array length (all-null metrics)") {
    import spark.implicits._
    check("explode", Prop.forAll(Gen.chooseNum(0, 24)) { n =>
      val times = (0 until n).map(i => "\"" + f"2025-03-01T$i%02d:00" + "\"").mkString(",")
      val nulls = List.fill(n)("null").mkString(",")
      val json = s"""{"latitude":1.0,"longitude":2.0,"timezone":"UTC","hourly":{
        "time":[$times],"temperature_2m":[$nulls],"relative_humidity_2m":[$nulls],
        "precipitation":[$nulls],"wind_speed_10m":[$nulls],"wind_gusts_10m":[$nulls]}}"""
      val raw = spark.read.schema(OpenMeteoIngest.openMeteoSchema).json(Seq(json).toDS)
      OpenMeteoIngest.explodeHourly(raw).count() == n.toLong
    }, n = 10)
  }
}
