package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, GroupSample, Similarity, Skew, Split}

/** Scale-technique demonstrations as executable contracts: salted
  * aggregation equals its unsalted form (with the skewed key spread
  * across partial groups), and bucketed tables join without exchanges
  * (the co-located-join story for repeated joins on the same key).
  */
class ScaleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val wh = TempDirs("graft_wh").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("scale-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("salted aggregation equals unsalted on a skewed key distribution") {
    import spark.implicits._
    // one hot key (90% of rows) + a long tail
    val rows = (1 to 5000).map { i =>
      val k = if (i % 10 != 0) "hot" else s"key${i % 37}"
      (k, i.toLong, i)
    }
    val df = rows.toDF("k", "v", "id").repartition(4)
    val salted = Skew.saltedSumCount(df, "k", "v", col("id"), salts = 8)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val plain = df.groupBy(col("k"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(salted === plain)
    // the partial stage really does split the hot key
    val partials = df.withColumn("_salt", pmod(xxhash64(col("id")), lit(8)))
      .where(col("k") === "hot").select(col("_salt")).distinct().count()
    assert(partials > 1, "salting must spread the hot key across sub-groups")
  }

  test("key profile: exact counts and max-to-mean skew on a known mix") {
    import spark.implicits._
    // key "hot" 90 rows; keys a..i 9 × 10 rows → rows 180, keys 10,
    // max 90, p50 10, mean 18 → skew 5.0; p99 interpolates 90/10
    val rows = (1 to 90).map(i => ("hot", i)) ++
      (0 until 9).flatMap(k => (1 to 10).map(i => (s"k$k", i)))
    val p = Skew.keyProfile(rows.toDF("k", "v").repartition(4), "k").head
    assert(p.getLong(0) === 180L && p.getLong(1) === 10L && p.getLong(2) === 90L)
    assert(p.getDouble(3) === 10.0)
    assert(math.abs(p.getDouble(4) - (10.0 * 0.09 + 90.0 * 0.91)) < 1e-6)
    assert(p.getDouble(5) === 5.0)
  }

  test("hash split is deterministic, exhaustive, and proportional") {
    val docs = SparkEntry.tbl(spark, TestData.dir("0.001"), "documents")
      .select(col("doc_id"))
    def assignments = Split.assignSplit(docs, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val a = assignments
    assert(a === assignments) // pure function of the id: stable re-read
    val byName = a.values.groupMapReduce(identity)(_ => 1)(_ + _)
    assert(byName.keySet === Set("train", "val", "test"))
    val n = a.size.toDouble
    assert(byName("train") / n > 0.8 && byName("train") / n < 0.97)
    // custom weights whose remainder falls into the last split
    val two = Split.assignSplit(docs, "doc_id", Seq("fit" -> 50, "holdout" -> 10))
      .collect().map(_.getString(2))
    assert(two.toSet === Set("fit", "holdout"))
    assert(two.count(_ == "holdout") > two.length / 4) // 10% + 40% remainder
  }

  test("stratified sample is deterministic, rate-accurate, and nested") {
    import spark.implicits._
    val rows = (1L to 4000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    def sample(rEn: Double, rDe: Double) =
      Split.stratifiedSample(rows, "doc_id", "lang", Map("en" -> rEn, "de" -> rDe))
        .collect().map(_.getLong(0)).toSet
    val s = sample(0.5, 0.1)
    assert(s === sample(0.5, 0.1)) // pure function of (stratum, id)
    val en = s.count(_ % 2 == 0) / 2000.0
    val de = s.count(_ % 2 != 0) / 2000.0
    assert(en > 0.45 && en < 0.55, s"en rate $en")
    assert(de > 0.07 && de < 0.13, s"de rate $de")
    // nesting: a lower rate draws a subset of a higher rate's sample
    assert(sample(0.25, 0.1).filter(_ % 2 == 0).subsetOf(s.filter(_ % 2 == 0)))
    // default rate applies to strata without an explicit rate
    val withDefault = Split.stratifiedSample(rows, "doc_id", "lang",
      Map("en" -> 0.5), defaultRate = 0.0).collect().map(_.getLong(0))
    assert(withDefault.forall(_ % 2 == 0), "unlisted stratum must use the default rate")
  }

  test("weighted sample tracks per-row weights, clamps, and is monotone") {
    import spark.implicits._
    // weights stratified by construction: ids 1-1000 weight 0.2,
    // 1001-2000 weight 0.8, 2001-2500 weight 1.5 (always kept),
    // 2501-3000 weight -0.5 (never kept)
    val rows = (1L to 3000L).map { i =>
      val w = if (i <= 1000) 0.2 else if (i <= 2000) 0.8
        else if (i <= 2500) 1.5 else -0.5
      (i, w)
    }.toDF("doc_id", "w")
    def sample(scale: Double) =
      Split.weightedSample(rows, "doc_id", $"w" * scale)
        .collect().map(_.getLong(0)).toSet
    val s = sample(1.0)
    assert(s === sample(1.0)) // pure function of (id, weight)
    val lo = s.count(_ <= 1000) / 1000.0
    val hi = s.count(i => i > 1000 && i <= 2000) / 1000.0
    assert(lo > 0.15 && lo < 0.25, s"w=0.2 survival $lo")
    assert(hi > 0.75 && hi < 0.85, s"w=0.8 survival $hi")
    assert((2001L to 2500L).forall(s.contains), "w>=1 rows must all survive")
    assert(!(2501L to 3000L).exists(s.contains), "w<=0 rows must never survive")
    // monotone in the weight: halving every weight yields a subset
    assert(sample(0.5).subsetOf(s))
  }

  test("mixture resample hits the target mixture, keeps the binding domain whole") {
    import spark.implicits._
    // observed 4000/1000/200 (web/wiki/code); targets 60/25/15 → code is
    // binding (200/0.15 ≈ 1333 scale), so code keeps all 200 rows and the
    // matched corpus is ~800/333/200.
    val rows = ((1L to 4000L).map(i => (i, "web")) ++
      (4001L to 5000L).map(i => (i, "wiki")) ++
      (5001L to 5200L).map(i => (i, "code")) ++
      (5201L to 5300L).map(i => (i, "junk"))).toDF("doc_id", "domain")
    def sample = Split.mixtureResample(rows, "doc_id", "domain",
      Map("web" -> 600000L, "wiki" -> 250000L, "code" -> 150000L))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("domain"))
    val s = sample
    assert(s.toSeq.sorted === sample.toSeq.sorted) // deterministic
    val byDom = s.groupMapReduce(_._2)(_ => 1)(_ + _)
    assert(!byDom.contains("junk"), "domains without a share must be dropped")
    assert(byDom("code") === 200, "binding domain must be kept whole")
    // surviving shares within sampling noise of 60/25/15
    val n = s.size.toDouble
    assert(math.abs(byDom("web") / n - 0.60) < 0.05, s"web share ${byDom("web") / n}")
    assert(math.abs(byDom("wiki") / n - 0.25) < 0.05, s"wiki share ${byDom("wiki") / n}")
    // repartition-invariant: the sample is a pure function of (domain, id)
    val s2 = Split.mixtureResample(rows.repartition(7), "doc_id", "domain",
      Map("web" -> 600000L, "wiki" -> 250000L, "code" -> 150000L))
      .collect().map(r => r.getAs[Long]("doc_id")).toSet
    assert(s2 === s.map(_._1).toSet)
  }

  test("mixture resample keeps the binding domain whole on randomized counts") {
    import spark.implicits._
    // The retired double-precision cut (floor(share*scale/n)) evaluated
    // to 999999 instead of 1000000 for ~5% of (n, share) pairs, silently
    // dropping binding-domain rows with hash%1e6 == 999999. Randomized
    // counts and shares probe that space; the exact-integer form must
    // keep every binding-domain row for all of them.
    val rnd = new scala.util.Random(20260813)
    for (trial <- 1 to 8) {
      val shares = Map(
        "a" -> (1L + rnd.nextInt(999999)),
        "b" -> (1L + rnd.nextInt(999999)),
        "c" -> (1L + rnd.nextInt(999999)))
      val counts = Map(
        "a" -> (50 + rnd.nextInt(3000)),
        "b" -> (50 + rnd.nextInt(3000)),
        "c" -> (50 + rnd.nextInt(3000)))
      var next = 0L
      val rows = counts.toSeq.flatMap { case (d, c) =>
        (1 to c).map { _ => next += 1; (next, d) }
      }.toDF("doc_id", "domain")
      val byDom = Split.mixtureResample(rows, "doc_id", "domain", shares)
        .groupBy("domain").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // exact rational argmin of n/s, name tie-break — the binding domain
      val binding = shares.keys.toSeq.reduceLeft { (x, y) =>
        val cmp = BigInt(counts(x)) * shares(y) - BigInt(counts(y)) * shares(x)
        if (cmp < 0 || (cmp == 0 && x < y)) x else y
      }
      assert(byDom(binding) === counts(binding).toLong,
        s"trial=$trial binding=$binding shares=$shares counts=$counts kept=$byDom")
    }
  }

  test("group sample equals the window formulation, bounded under skew, nests") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // heavy skew: one group with 2000 rows, one with 3 (fewer than k)
    val rows = ((1L to 2000L).map(i => ("big", i)) ++
      Seq(("tiny", 9001L), ("tiny", 9002L), ("tiny", 9003L)))
      .toDF("grp", "doc_id").repartition(4)
    def sample(k: Int) =
      GroupSample.sampleKPerGroup(rows, "grp", "doc_id", k)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val s5 = sample(5)
    assert(s5.count(_._1 == "big") === 5)
    assert(s5.count(_._1 == "tiny") === 3, "short groups return all their rows")
    // identical to the row_number-window reference (same key, same order)
    val ref = rows.withColumn("_h",
        Dedup.hash60(concat_ws("|", lit("gsmp"), col("doc_id").cast("string"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("_h"), col("doc_id"))))
      .where(col("rk") <= 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
    assert(s5 === ref)
    // nesting: the k=2 sample is the rank-prefix of the k=5 sample
    assert(sample(2) === s5.filter(_._3 <= 2))
  }

  test("d34's at-rest contract: a bucketed frozen substring index joins without its own exchange") {
    import graft.operators.Dedup
    Graft.registerAll(spark) // positional_gram_hashes
    val sf = TestData.dir("0.001")
    // clear catalog + location debris (see the bucketed-join test below)
    Seq("subidx_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
    val docs = SparkEntry.tbl(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 4 =!= 3)
    val batch = docs.where(col("doc_id") % 4 === 3)
    val index = Dedup.substringGramIndex(corpus, k = 8)
    // the at-rest layout the operator's scaladoc names: hash-bucketed +
    // sorted on the gram key, built once when the corpus is accepted
    index.write.mode("overwrite").bucketBy(4, "_h").sortBy("_h")
      .saveAsTable("subidx_b")
    def countEx(p: String) = "Exchange hashpartitioning".r.findAllIn(p).length
    val plain = Dedup.duplicateSubstringSpansIncremental(batch, index, k = 8)
    val bucketed = Dedup.duplicateSubstringSpansIncremental(
      batch, spark.table("subidx_b"), k = 8)
    val pPlain = plain.queryExecution.executedPlan.toString
    val pBucketed = bucketed.queryExecution.executedPlan.toString
    // the bucketed index contributes its bucketing instead of an
    // exchange: exactly ONE exchange disappears (the index side's) and
    // the scan advertises the bucket layout — only the batch moves
    assert(pBucketed.contains("Bucketed: true"),
      s"index scan must use the bucket layout:\n$pBucketed")
    assert(countEx(pBucketed) === countEx(pPlain) - 1,
      s"bucketing must remove exactly the index-side exchange:\n" +
        s"plain=${countEx(pPlain)} bucketed=${countEx(pBucketed)}\n$pBucketed")
    // and the layout is semantics-free
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = key(plain)
    assert(key(bucketed) === a)
    assert(a.nonEmpty)
  }

  test("near-dup gate manifest: at-rest bucketed layout removes the static-side exchanges") {
    val sf = TestData.dir("0.001")
    // the StreamingNearDup scaladoc's production claim, proven: a
    // manifest stored bucketed on its join keys contributes its layout
    // instead of a per-micro-batch exchange — only the arriving batch
    // moves. Asserted on the batch-mode plan (FMGWS runs on batch
    // Datasets; the stream-static join planning is the same).
    Seq("ndmf_bands_b", "ndmf_sh_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
    Graft.registerAll(spark)
    val docs = SparkEntry.tbl(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val fresh = docs.where(col("doc_id") % 5 === 0)
    val (cSh, cBands) = Dedup.nearDupManifest(corpus)
    cBands.write.mode("overwrite").bucketBy(4, "_band", "_bkey")
      .sortBy("_band", "_bkey").saveAsTable("ndmf_bands_b")
    cSh.write.mode("overwrite").bucketBy(4, "_id").sortBy("_id")
      .saveAsTable("ndmf_sh_b")
    def countEx(p: String) = "Exchange hashpartitioning".r.findAllIn(p).length
    val plain = graft.streaming.StreamingNearDup.flaggedIds(fresh, cSh, cBands)
    val bucketed = graft.streaming.StreamingNearDup.flaggedIds(
      fresh, spark.table("ndmf_sh_b"), spark.table("ndmf_bands_b"))
    val pPlain = plain.queryExecution.executedPlan.toString
    val pBucketed = bucketed.queryExecution.executedPlan.toString
    assert(pBucketed.contains("Bucketed: true"),
      s"manifest scans must use the bucket layout:\n$pBucketed")
    // both static sides (band table keyed (_band,_bkey), shingle table
    // keyed _id) stop exchanging; everything else is identical
    assert(countEx(pBucketed) === countEx(pPlain) - 2,
      s"bucketing must remove exactly the two manifest exchanges: " +
        s"plain=${countEx(pPlain)} bucketed=${countEx(pBucketed)}\n$pBucketed")
    // and the layout is semantics-free
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val a = key(plain)
    assert(key(bucketed) === a)
    assert(a.nonEmpty)
  }

  test("bucketed tables join without a shuffle on the bucketed key") {
    val sf = TestData.dir("0.001")
    // the builder's warehouse conf is ignored when getOrCreate reuses an
    // earlier suite's session, so managed-table locations can survive
    // across JVM runs — clear both catalog entries and locations
    Seq("orders_b", "lineitem_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
    SparkEntry.tbl(spark, sf, "orders")
      .write.mode("overwrite").bucketBy(4, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("orders_b")
    SparkEntry.tbl(spark, sf, "lineitem")
      .write.mode("overwrite").bucketBy(4, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("lineitem_b")
    val joined = spark.table("lineitem_b")
      .join(spark.table("orders_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not re-shuffle its inputs:\n$plan")
    assert(joined.collect().map(_.getLong(1)).sum ===
      SparkEntry.tbl(spark, sf, "lineitem").count())
  }

  test("AQE splits the skewed partition of a sort-merge join") {
    // The runtime half of the skew story ([[Skew]] covers aggregations):
    // one key holding most of a join's rows lands in one shuffle
    // partition; with skew-join handling on, AQE re-plans that partition
    // into advisory-sized splits (skew=true on the join node) with the
    // matching build side replicated — no salting rewrite needed.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "262144")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "131072")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val pad = "x" * 64
      // 150k rows on key 7 (~10 MB in one partition), 50k singleton keys
      val left = spark.range(200000).select(
        when(col("id") < 150000, 7L).otherwise(col("id") % 100000).as("k"),
        concat(lit(pad), col("id")).as("payload"))
      val right = spark.range(100000).select(col("id").as("k"), (col("id") * 2).as("rv"))
      val joined = left.join(right, "k")
      // execute THIS dataframe (count() would plan its own query and the
      // adaptive plan below would stay unexecuted / isFinalPlan=false)
      val n = joined.collect().length
      assert(n === 150000 + 50000, s"join result wrong: $n")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("approx sketches stay within error bounds of their exact forms") {
    // The exact forms (countDistinct, percentile) are what the oracle
    // queries pin; at 100 TB the sketch forms are the production path —
    // approx_count_distinct is a mergeable HLL++ (map-side partials, no
    // distinct-expand shuffle) and approx_percentile a bounded-memory
    // quantile summary (vs percentile's full sort buffer per group).
    val li = SparkEntry.tbl(spark, TestData.dir("0.01"), "lineitem")
    val r = li.agg(
      countDistinct(col("l_orderkey")).as("exact_n"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("appx_n"),
      expr("percentile(l_quantity, 0.5D)").as("p50_exact"),
      expr("approx_percentile(l_quantity, 0.5D, 10000)").as("p50_appx")).head
    val (exact, appx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(appx - exact).toDouble / exact < 0.05,
      s"HLL estimate $appx too far from exact $exact")
    val (p50e, p50a) = (r.getDouble(2), r.getDouble(3))
    assert(math.abs(p50a - p50e) / math.max(p50e, 1e-9) < 0.05,
      s"approx p50 $p50a too far from exact $p50e")
  }

  test("approx percentile cutoffs are a first-class API choice for RFM and latency") {
    // exactCutoffs=false / exact=false swap the single-reducer exact
    // percentile for the bounded-memory sketch. At accuracy 10000 the
    // rank error is ≤ 1e-4, so on this corpus: latency percentiles agree
    // within 2% and RFM re-scores at most a sliver of users (the ones
    // sitting exactly between the exact and approx cutoffs).
    val events = SparkEntry.tbl(spark, TestData.dir("0.1"), "events")
    val le = graft.operators.Latency
      .conversionReport(events, "signup", "purchase", exact = true).head
    val la = graft.operators.Latency
      .conversionReport(events, "signup", "purchase", exact = false).head
    assert(le.getLong(0) === la.getLong(0))
    for (i <- 1 to 3) {
      val (e, a) = (le.getDouble(i), la.getDouble(i))
      assert(math.abs(a - e) / math.max(e, 1e-9) < 0.02,
        s"latency pct col $i: approx $a vs exact $e")
    }
    val re = graft.operators.Rfm.segments(events)
      .select("user_id", "r_score", "f_score", "m_score").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    val ra = graft.operators.Rfm.segments(events, exactCutoffs = false)
      .select("user_id", "r_score", "f_score", "m_score").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(ra.keySet === re.keySet)
    val moved = re.count { case (u, s) => ra(u) != s }
    assert(moved <= math.max(1, re.size / 20),
      s"approx cutoffs re-scored $moved of ${re.size} users")
  }

  test("deterministic shuffle: dense per-shard positions, seed-independent permutations") {
    import spark.implicits._
    val rows = (1L to 500L).toDF("doc_id")
    def shuffle(df: org.apache.spark.sql.DataFrame, seed: String) =
      Split.deterministicShuffle(df, "doc_id", shards = 4, seed = seed)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
    val s0 = shuffle(rows, "e0").toMap
    // every row assigned exactly once; positions dense 0..n-1 per shard
    assert(s0.size === 500)
    s0.values.groupBy(_._1).foreach { case (shard, assigns) =>
      val poss = assigns.map(_._2).toSeq.sorted
      assert(poss === (0L until poss.size.toLong), s"shard $shard positions not dense")
    }
    // repartition-invariant (pure function of (seed, id))
    assert(shuffle(rows.repartition(7), "e0").toMap === s0)
    // a different seed draws a genuinely different permutation
    val s1 = shuffle(rows, "e1").toMap
    assert(s0 !== s1)
    // ...and not ordered by id within a shard (the ord-hash decorrelates)
    val byPos = s0.toSeq.filter(_._2._1 == 0L).sortBy(_._2._2).map(_._1)
    assert(byPos !== byPos.sorted, "in-shard order must not be id order")
  }

  test("sequence packing: greedy per-bin assignment, docs never split, repartition-invariant") {
    import spark.implicits._
    val docs = Seq((1L, 300L), (2L, 300L), (3L, 300L), (4L, 1200L), (5L, 100L))
      .toDF("doc_id", "n_tokens")
    def pack(df: org.apache.spark.sql.DataFrame) =
      Split.packSequences(df, "doc_id", "n_tokens", budget = 512, bins = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // exclusive cumsums 0,300,600,900,2100 → seqs 0,0,1,1,4
    val expected = Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 4L)
    assert(pack(docs) === expected)
    // a different physical layout must not re-deal the packing
    assert(pack(docs.repartition(3)) === expected)
  }

  test("count-min sketch: over-estimates only, within eps*N at the stated confidence") {
    import spark.implicits._
    // skewed stream: one hot key + 200 singletons, N = 700
    val words = (Seq.fill(500)("hot") ++ (1 to 200).map(i => s"w$i")).toDF("w")
    val cms = words.stat.countMinSketch("w", eps = 0.01, confidence = 0.95, seed = 42)
    val hot = cms.estimateCount("hot")
    // CMS never under-counts; the collision overshoot is bounded by
    // eps * N (here 7) with the stated confidence — deterministic for a
    // fixed seed, so this is a stable executable contract, and the
    // mergeable sketch is the 100 TB path for approximate frequencies
    // when Misra-Gries' top-k shape doesn't fit (point queries over an
    // unbounded key space).
    assert(hot >= 500L, s"CMS must never under-count: $hot")
    assert(hot <= 507L, s"overshoot beyond eps*N: $hot")
    assert(cms.estimateCount("absent") <= 7L)
  }

  test("leakage-safe split: a near-dup component shares one split, singletons hash their own id") {
    import spark.implicits._
    // component {1,2,3} via chained pairs; 4 and 5 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val comp = Dedup.connectedComponents(pairs)
    val grouped = docs.join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("group_id"), col("doc_id")).as("group_id"))
    val r = Split.assignSplit(grouped, "group_id").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    // every member of the component carries the component-min group and
    // therefore the identical (bucket, split) — no train/test leakage
    assert(r(1L) === r(2L) && r(2L) === r(3L))
    assert(r(1L)._1 === 1L)
    // singletons group to themselves and hash independently
    assert(r(4L)._1 === 4L && r(5L)._1 === 5L)
    // the split is the p1 hash-bucket rule applied to the group id
    val su = Split.assignSplit(Seq(1L, 4L, 5L).toDF("doc_id"), "doc_id")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getString(2)))).toMap
    Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L).foreach { case (d, g) =>
      assert((r(d)._2, r(d)._3) === su(g))
    }
  }

  test("semDedup k ∝ N holds in-cell pair work per vector constant at 10x") {
    // gated on the 10x scale-rehearsal blow-up (regenerate with
    // `runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/sf1 10`)
    assume(new java.io.File("/tmp/sf1/embeddings.parquet").exists(),
      "10x rehearsal data absent")
    Graft.registerAll(spark) // trainIvfCells uses the long_dot native fn
    // the in-cell candidate join costs Σ n_c² rows; with the
    // targetCellSize rule k = ⌈N/cell⌉ the expected per-vector cost
    // Σn_c²/N ≈ ⟨cell⟩ stays CONSTANT as the corpus grows (a pinned k
    // would grow it linearly — 10x here, measured 4.5x wall in the
    // round-6 rehearsal)
    def pairWorkPerVec(dir: String, target: Long): Double = {
      val emb = SparkEntry.tbl(spark, dir, "embeddings")
      val n = emb.count()
      val k = math.ceil(n.toDouble / target).toInt
      val sizes = graft.operators.Similarity
        .trainIvfCells(emb, "vec_id", "embedding", k, iters = 2)
        .groupBy(col("_cell")).agg(count(lit(1)).as("c"))
        .collect().map(_.getLong(1))
      assert(sizes.length === k)
      sizes.map(c => c.toDouble * c).sum / n
    }
    val w1 = pairWorkPerVec(TestData.dir("0.1"), 256L)
    val w10 = pairWorkPerVec("/tmp/sf1", 256L)
    // constant modulo k-means imbalance: nowhere near the 10x a pinned
    // k would show
    assert(w10 < 4.0 * w1, s"per-vector pair work grew $w1 -> $w10")
  }

  test("winnowing df-band keeps candidate pair work flat under 10x densification") {
    // gated on the 10x scale-rehearsal blow-up (regenerate with
    // `runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/sf1 10`)
    assume(new java.io.File("/tmp/sf1/documents.parquet").exists(),
      "10x rehearsal data absent")
    // the template corpus densifies fingerprint df ~10x with the corpus
    // (the u7 fixed-domain effect); the inverted-index join's candidate
    // volume is Σ df² over the df-band [2, dfCap] — the band must shed
    // exactly the densified fingerprints, keeping pair work near-flat
    // while uncapped work would grow ~100x for every surviving
    // fingerprint. (DuckDB same-scheme measurement: 2.82M → 2.98M at
    // 10x; this asserts the Spark implementation's own fp/df tables.)
    def pairWork(dir: String): Double = {
      val dfs = Dedup.winnowingFingerprints(
          SparkEntry.tbl(spark, dir, "documents"))
        .groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .where(col("df") >= 2 && col("df") <= 64)
        // coalesce: an empty df-band makes sum() NULL, and getDouble
        // would throw an opaque NPE instead of the assert message below
        .select(coalesce(sum(col("df") * col("df")).cast("double"), lit(0.0)))
        .head.getDouble(0)
      dfs
    }
    val w1 = pairWork(TestData.dir("0.1"))
    val w10 = pairWork("/tmp/sf1")
    assert(w10 < 3.0 * w1,
      s"df-banded winnowing pair work must stay near-flat at 10x: $w1 -> $w10")
  }
  test("two-level derived-k assignment keeps per-vector in-cell pair work constant at 10x") {
    // gated on the 10x scale-rehearsal blow-up (regenerate with
    // `runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/sf1 10`)
    assume(new java.io.File("/tmp/sf1/embeddings.parquet").exists(),
      "10x rehearsal data absent")
    Graft.registerAll(spark)
    // the round-10 assignment swap must preserve the semDedupByCellSize
    // contract the flat-trainer test above pins: expected occupancy --
    // and with it Sigma n_c^2 / N -- stays constant as the corpus grows,
    // now with N*O(sqrt(k)) assignment arithmetic and at most k1*k2
    // cells
    def pairWorkPerVec(dir: String, target: Long): Double = {
      val emb = SparkEntry.tbl(spark, dir, "embeddings")
      val base = Similarity.prepare(emb, "vec_id", "embedding").localCheckpoint()
      val n = base.count()
      val k = ((n + target - 1) / target).toInt
      val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
      val k2 = (k + k1 - 1) / k1
      val sizes = Similarity.trainTwoLevelCellsOn(base, k1, k2, iters = 2)
        .groupBy(col("_cell")).agg(count(lit(1)).as("c"))
        .collect().map(_.getLong(1))
      assert(sizes.length <= k1 * k2,
        s"two-level must yield at most k1*k2 cells: ${sizes.length} > ${k1 * k2}")
      sizes.map(c => c.toDouble * c).sum / n
    }
    val w1 = pairWorkPerVec(TestData.dir("0.1"), 256L)
    val w10 = pairWorkPerVec("/tmp/sf1", 256L)
    // constant modulo k-means imbalance (hierarchical splits are a bit
    // less balanced than flat ones -- nowhere near the 10x a pinned k
    // would show)
    assert(w10 < 4.0 * w1, s"per-vector pair work grew $w1 -> $w10")
  }

  test("exact-substring dedup: gram work occurrence-linear, max gram df flat at 10x") {
    assume(new java.io.File("/tmp/sf1/documents.parquet").exists(),
      "10x rehearsal data absent")
    Graft.registerAll(spark)
    // d28's no-pairwise claim measured on the engine's own gram tables:
    // the gram stream grows with the corpus tokens, the marked fraction
    // stays near-flat, and no hot gram emerges (max df bounded) -- so
    // total work is occurrence-linear, never df-quadratic
    def acct(dir: String): (Long, Long, Long) = {
      val docs = SparkEntry.tbl(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val grams = docs.select(posexplode(call_function(
          graft.functions.PositionalGramHashes.name, col("text"), lit(8))))
        .select(col("col").as("h")).localCheckpoint()
      val r = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .where(col("df") >= 2)
        .agg(coalesce(sum(col("df")), lit(0L)).as("marked"),
          coalesce(max(col("df")), lit(0L)).as("maxdf")).head
      (grams.count(), r.getLong(0), r.getLong(1))
    }
    val (g1, m1, x1) = acct(TestData.dir("0.1"))
    val (g10, m10, x10) = acct("/tmp/sf1")
    assert(g10 > 8L * g1, s"gram stream must grow with the corpus: $g1 -> $g10")
    val f1 = m1.toDouble / g1
    val f10 = m10.toDouble / g10
    assert(f10 < 2.0 * f1 + 0.05, s"marked fraction must stay near-flat: $f1 -> $f10")
    assert(x10 <= 3L * x1, s"a hot gram emerged: max df $x1 -> $x10")
  }

  test("derived-k incremental screen keeps per-batch-vector work constant at 10x") {
    // gated on the 10x scale-rehearsal blow-up (regenerate with
    // `runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/sf1 10`)
    assume(new java.io.File("/tmp/sf1/embeddings.parquet").exists(),
      "10x rehearsal data absent")
    Graft.registerAll(spark)
    // d32's contract measured on the engine's own cell assignments:
    // with k = ceil(N/cell) derived from the corpus count, the
    // per-batch screen does Sigma_c n_new_c * n_old_c cosines; per NEW
    // vector that is ~ occupancy, which must stay constant as corpus
    // AND batch grow together (the pinned-k d31 form grows it
    // linearly -- the measured 21x-at-100x cliff in SCALE.md)
    def screenWorkPerNew(dir: String, target: Long): Double = {
      val e = SparkEntry.tbl(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val corpus = e.where(col("vec_id") % 5 =!= 0)
      val batch = e.where(col("vec_id") % 5 === 0)
      val ob = Similarity.prepare(corpus, "vec_id", "embedding").localCheckpoint()
      val n = ob.count()
      val k = ((n + target - 1) / target).toInt
      val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
      val k2 = (k + k1 - 1) / k1
      val (cc, ff) = Similarity.trainTwoLevelIndexOn(ob, k1, k2, iters = 2)
      val nb = Similarity.prepare(batch, "vec_id", "embedding").localCheckpoint()
      val oc = Similarity.probeTwoLevel(ob, cc, ff, k2)
        .groupBy(col("_cell")).agg(count(lit(1)).as("n_old"))
      val ncc = Similarity.probeTwoLevel(nb, cc, ff, k2)
        .groupBy(col("_cell")).agg(count(lit(1)).as("n_new"))
      val work = ncc.join(oc, Seq("_cell"))
        .agg(coalesce(sum(col("n_new") * col("n_old")), lit(0L))).head.getLong(0)
      work.toDouble / nb.count()
    }
    val w1 = screenWorkPerNew(TestData.dir("0.1"), 64L)
    val w10 = screenWorkPerNew("/tmp/sf1", 64L)
    // constant modulo k-means imbalance; a pinned k would show ~10x
    assert(w10 < 4.0 * w1, s"per-new-vector screen work grew $w1 -> $w10")
  }

}
