package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Anomaly, Basket, Dedup, Graph, Kmv, Layout, Pca, Profile, Sessions, Similarity, Snapshot}

/** Behavior specs for the round-5 additions: triangle counting,
  * sorted-neighborhood dedup, k-NN classification, inter-event cadence,
  * and median/MAD outlier stats.
  */
class Round5OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("round5-ops-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Graft.registerAll(s)
    s
  }

  // ── Graph.triangleCounts ───────────────────────────────────────────

  test("triangleCounts: square plus one diagonal has two triangles") {
    import spark.implicits._
    // 1-2-3-4-1 square, diagonal 1-3: triangles {1,2,3} and {1,3,4}.
    // Edges given messy: duplicated, reversed, plus a self-loop.
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (2L, 1L), (3L, 1L), (2L, 2L)).toDF("src", "dst")
    val r = Graph.triangleCounts(edges).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("triangleCounts: triangle-free graph returns no rows") {
    import spark.implicits._
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    assert(Graph.triangleCounts(star).count() === 0)
  }

  test("triangleCounts: complete graph K5 counts C(4,2)=6 per node") {
    import spark.implicits._
    val nodes = 0L until 5L
    val k5 = (for { a <- nodes; b <- nodes if a < b } yield (a, b))
      .toDF("src", "dst")
    val r = Graph.triangleCounts(k5).collect()
    assert(r.length === 5 && r.forall(_.getLong(1) === 6L))
  }

  test("personalized pagerank: mass decays from the seed, unreachable nodes score 0") {
    import spark.implicits._
    // chain 0->1->2 plus a disconnected pair 5->6; seed {0}, damp 85%
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (5L, 6L, 1L))
      .toDF("src", "dst", "w")
    val r = Graph.personalizedPageRankPpm(edges, Seq(0L), iters = 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // fixed point: rank(0) = teleport only = 150000; each hop keeps 85%
    assert(r(0L) === 150000L)
    assert(r(1L) === 127500L && r(2L) === 108375L)
    assert(r(5L) === 0L && r(6L) === 0L, "no restart mass off the seed component")
  }

  // ── Dedup.sortedNeighborhoodPairs ──────────────────────────────────

  test("sortedNeighborhood finds typo'd near-duplicates, skips distinct docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog near the river bank"),
      // "jumps" -> "jumped": 2 edits inside the 40-char compare prefix
      (2L, "The quick brown fox jumped over the lazy dog near the river bank"),
      (3L, "Completely unrelated text about database query optimization today"),
      (4L, "zzz sorted to the very end of the alphabet unlike the others"))
      .toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhoodPairs(docs, window = 3, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // distance 3: "jumps"->"jumped" is 2 edits, and the net +1 length
    // shifts one extra char across the 40-char truncation boundary
    assert(pairs.toSeq === Seq((1L, 2L, 3L)),
      "only the typo'd pair survives")
  }

  test("sortedNeighborhood: each unordered pair is emitted at most once") {
    import spark.implicits._
    // three identical docs in one block: frames (a,b),(a,c),(b,c) - 3 pairs
    val docs = Seq(
      (1L, "same text here"), (2L, "same text here"), (3L, "same text here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhoodPairs(docs, window = 6, maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length === 3 && pairs.distinct.length === 3)
  }

  test("multi-pass SNM catches prefix-divergent near-dups the forward pass misses") {
    import spark.implicits._
    // identical bodies behind different 20-char prefixes: forward
    // blocking separates them, the reversed pass reunites them by tail
    val docs = Seq(
      (1L, "alpha heading one shared body of text that continues identically to the end"),
      (2L, "zeta heading twoxx shared body of text that continues identically to the end"),
      (3L, "completely different document body with nothing in common at all here"))
      .toDF("doc_id", "text")
    val fwd = Dedup.sortedNeighborhoodPairs(docs, maxDist = 10)
    assert(fwd.count() === 0, "forward pass blocks apart on the differing prefixes")
    val multi = Dedup.sortedNeighborhoodPairsMultiPass(docs, maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(multi.toSeq === Seq((1L, 2L)), "reversed pass finds the shared tail")
  }

  test("sortedNeighborhood window bounds the candidate set") {
    import spark.implicits._
    // five identical docs, window=2: only adjacent sort positions compare,
    // so exactly 4 pairs (not C(5,2)=10)
    val docs = (1L to 5L).map(i => (i, "identical content")).toDF("doc_id", "text")
    assert(Dedup.sortedNeighborhoodPairs(docs, window = 2, maxDist = 0).count() === 4)
  }

  // ── Similarity.knnClassify ─────────────────────────────────────────

  test("knnClassify predicts the surrounding cluster's label and scores correctness") {
    import spark.implicits._
    def vec(x: Float): Seq[Float] = Seq.tabulate(64)(d => if (d == 0) x else 0.1f)
    // corpus: 3 vectors near +1 labeled 7, 3 near -1 labeled 9
    val corpus = Seq(
      (10L, vec(1.0f), 7), (11L, vec(0.9f), 7), (12L, vec(1.1f), 7),
      (20L, vec(-1.0f), 9), (21L, vec(-0.9f), 9), (22L, vec(-1.1f), 9))
      .toDF("vec_id", "embedding", "label")
    // queries: one in each cluster; q2 mislabeled on purpose
    val queries = Seq((1L, vec(0.95f), 7), (2L, vec(-0.95f), 5))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.knnClassify(corpus, queries, "vec_id", "embedding", "label", k = 3)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(r(1L) === ((7L, 7L, 3L, 1L)), "query 1: 3/3 votes for 7, correct")
    assert(r(2L) === ((5L, 9L, 3L, 0L)), "query 2: predicted 9, true label 5 -> incorrect")
  }

  test("knnClassify breaks vote ties toward the smaller label") {
    import spark.implicits._
    def vec(x: Float): Seq[Float] = Seq.tabulate(64)(d => if (d == 0) x else 0.1f)
    val corpus = Seq(
      (10L, vec(1.0f), 4), (11L, vec(1.0f), 2)).toDF("vec_id", "embedding", "label")
    val queries = Seq((1L, vec(1.0f), 2)).toDF("vec_id", "embedding", "label")
    val r = Similarity.knnClassify(corpus, queries, "vec_id", "embedding", "label", k = 2)
      .collect().head
    assert(r.getLong(2) === 2L && r.getLong(3) === 1L, "1-1 tie -> smaller label wins")
  }

  // ── Sessions.interEventStats ───────────────────────────────────────

  test("interEventStats computes exact gap moments") {
    import spark.implicits._
    // user 1: events at 0s, 10s, 30s -> gaps 10, 20: n=2, sum=30, mean=15
    // cv2 = (n*s2 - s1^2)/s1^2 = (2*500 - 900)/900 = 100/900
    // user 2: single event -> filtered (no gaps)
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 1L), (2L, "2024-01-01 00:00:10", 1L),
      (3L, "2024-01-01 00:00:30", 1L), (4L, "2024-01-01 00:00:00", 2L))
      .toDF("event_id", "ts_s", "user_id")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val r = Sessions.interEventStats(ev).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getLong(0) === 1L && row.getLong(1) === 2L &&
      row.getLong(2) === 30L && row.getLong(3) === 15L)
    assert(math.abs(row.getDouble(4) - 100.0 / 900.0) < 1e-6)
  }

  test("interEventStats: gaps are floored whole seconds, ties broken by event id") {
    import spark.implicits._
    // 0.4s and 0.6s gaps floor to 0 and 0 -> sum 0 -> filtered out;
    // a user with sub-second jitter never divides by zero
    val ev = Seq(
      (1L, "2024-01-01 00:00:00.000", 1L), (2L, "2024-01-01 00:00:00.400", 1L),
      (3L, "2024-01-01 00:00:01.000", 1L))
      .toDF("event_id", "ts_s", "user_id")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    assert(Sessions.interEventStats(ev).count() === 0)
  }

  // ── Kmv.distinctEstimate ───────────────────────────────────────────

  test("kmv: exact below k, duplicates share one slot, estimate tracks truth above k") {
    import spark.implicits._
    // 100 distinct values each repeated 5x, k=256: buffer holds all 100
    val small = (1 to 100).flatMap(v => Seq.fill(5)(v)).toDF("v").repartition(7)
    val rs = Kmv.distinctEstimate(small, "v").collect().head
    assert(rs.getLong(0) === 100L && rs.getLong(1) === 100L, "exact below k")
    // 20k distinct with k=256: relative error should be well under 3/sqrt(k)
    val big = (1 to 20000).toDF("v").repartition(7)
    val rb = Kmv.distinctEstimate(big, "v", k = 256).collect().head
    val err = math.abs(rb.getLong(1) - 20000.0) / 20000.0
    assert(err < 3.0 / math.sqrt(256), s"estimate ${rb.getLong(1)} err $err")
    // partition invariance: exact integer state merges associatively
    val rb1 = Kmv.distinctEstimate(big.repartition(1), "v", k = 256).collect().head
    assert(rb1.getLong(1) === rb.getLong(1))
  }

  test("kmv pairOverlap: merged buffers equal the union sketch; overlap tracks truth") {
    import spark.implicits._
    // sets A = 1..1000, B = 501..1500: |A|=|B|=1000, |A∪B|=1500, overlap 500
    val df = ((1 to 1000).map(("A", _)) ++ (501 to 1500).map(("B", _)))
      .toDF("s", "v").repartition(5)
    val r = Kmv.pairOverlap(df, "s", "v", k = 128).collect().head
    assert((r.getString(0), r.getString(1)) === (("A", "B")))
    val (ea, eb, eu, eo) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    // union property: the merged sketch must estimate A∪B, not 2k rows
    assert(math.abs(eu - 1500.0) / 1500.0 < 3.0 / math.sqrt(128), s"union $eu")
    assert(math.abs(ea - 1000.0) / 1000.0 < 3.0 / math.sqrt(128), s"a $ea")
    // inclusion-exclusion error compounds: allow 3x the single-set bound
    assert(math.abs(eo - 500.0) < 3 * (3.0 / math.sqrt(128)) * 1000, s"overlap $eo")
    // disjoint sets: overlap clamps to >= 0
    val dj = ((1 to 500).map(("A", _)) ++ (10001 to 10500).map(("B", _)))
      .toDF("s", "v")
    val r2 = Kmv.pairOverlap(dj, "s", "v", k = 128).collect().head
    assert(r2.getLong(5) <= 60L, s"disjoint overlap ~0, got ${r2.getLong(5)}")
  }

  test("KmvAgg.reduce: insertion-order invariant, sorted+distinct, capped at k") {
    // pure Aggregator micro-property (no Spark): folding any permutation
    // of any multiset must yield the identical buffer — the k smallest
    // distinct values, ascending
    val agg = new graft.operators.KmvAgg(8)
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 50) {
      val vals = Vector.fill(3 + rnd.nextInt(40))(rnd.nextInt(20).toLong)
      val sortedFold = vals.sorted.foldLeft(agg.zero)(agg.reduce)
      val shuffledFold = rnd.shuffle(vals).foldLeft(agg.zero)(agg.reduce)
      val expect = vals.distinct.sorted.take(8)
      assert(sortedFold === expect, s"trial $trial sorted-fold")
      assert(shuffledFold === expect, s"trial $trial shuffled-fold")
    }
  }

  // ── Text.dropoutTokens ─────────────────────────────────────────────

  test("word dropout: rate endpoints, determinism, and plausible keep rate") {
    import spark.implicits._
    import graft.functions.Text
    val doc = ((1L, ("tok " * 400).trim)) :: Nil
    val df = doc.toDF("doc_id", "text")
    def kept(rate: Int): Seq[String] =
      df.select(Text.dropoutTokens(col("text"), col("doc_id"), rate).as("k"))
        .collect().head.getSeq[String](0)
    assert(kept(0).length === 400, "rate 0 keeps everything")
    assert(kept(1000000).isEmpty, "rate 1e6 drops everything")
    val n = kept(150000).length
    assert(n > 400 * 0.78 && n < 400 * 0.92, s"15% dropout kept $n/400")
    assert(kept(150000) === kept(150000), "deterministic")
  }

  test("u31 seasonality chi-square: all-one-dow spike scores exactly 42 (missing-cell correction)") {
    import spark.implicits._
    // 7 events on one weekday: chi2 = (7-1)^2/1 + 6*(0-1)^2/1 = 42, and
    // the 6 empty dows only enter via the missing-cell term
    val ev = (1L to 7L).map(i => (i, 1L, "x", 0.0, s"2024-01-01 0$i:00:00", "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "ts_s", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val dir = TempDirs("graft_season").toString
    ev.write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("u31_seasonality")(spark, dir).collect().head
    assert(r.getString(0) === "x" && r.getLong(1) === 7L)
    assert(r.getLong(2) === 42000000L)
  }

  test("langIdMarginPpm: decisive text scores high, ambiguous low, empty zero") {
    import spark.implicits._
    import graft.functions.Text
    val df = Seq(
      // en hits: the, the, and = 3; 0 for others; 8 tokens -> 3e6/8 = 375000
      (1L, "the cat sat on the mat and slept"),
      // 'un' hits BOTH fr and es lists -> margin 0 despite a prediction
      (2L, "un moment"),
      (3L, ""))
      .toDF("doc_id", "text")
    val r = df.select(col("doc_id"), Text.langIdMarginPpm(col("text")).as("m"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) === 375000L)
    assert(r(2L) === 0L, "tie between fr and es -> zero confidence margin")
    assert(r(3L) === 0L)
  }

  // ── Similarity.filteredTopK ────────────────────────────────────────

  test("filteredTopK only matches rows sharing the filter value") {
    import spark.implicits._
    def vec(x: Float): Seq[Float] = Seq.tabulate(64)(d => if (d == 0) x else 0.1f)
    // the globally-nearest neighbor (21, label B) must NOT appear for an
    // A query; within A the farther 11 must
    val corpus = Seq(
      (10L, vec(1.0f), "A"), (11L, vec(0.5f), "A"), (21L, vec(0.99f), "B"))
      .toDF("vec_id", "embedding", "label")
    val queries = Seq((1L, vec(1.0f), "A")).toDF("vec_id", "embedding", "label")
    val r = Similarity.filteredTopK(corpus, queries, "vec_id", "embedding", "label", k = 5)
      .collect().map(_.getLong(1)).toSet
    assert(r === Set(10L, 11L), "exactly the label-A corpus rows")
  }

  test("randomProject matches a driver-side dot with the seeded plane weights") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 10L).map(i => (i, Seq.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val ws = Similarity.planeWeightsSeeded("jl|", 16, 64)
    val expected = vecs.map { case (id, v) =>
      val q = v.map(x => math.round(x.toDouble * 1000))
      id -> (0 until 16).map(p => (0 until 64).map(d => q(d) * ws(p)(d)).sum)
    }.toMap
    val got = Similarity.randomProject(df, "vec_id", "embedding", outDim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq).toMap
    assert(got === expected)
  }

  // ── Profile.mutualInfo ─────────────────────────────────────────────

  test("mutualInfo: independent columns score zero, dependent score ln(2)") {
    import spark.implicits._
    // independent 2x2: every cell n=5, margins 10, N=20 -> pmi = ln(1) = 0
    val ind = (for { a <- Seq("x", "y"); b <- Seq("u", "v"); _ <- 1 to 5 }
      yield (a, b)).toDF("a", "b")
    val ri = Profile.mutualInfo(ind, "a", "b").collect()
    assert(ri.length === 4 && ri.forall(r => r.getLong(3) === 0L && r.getLong(4) === 0L))
    // perfectly dependent: a==b, 2 cells, pmi = ln(2*10/(5*... )): n_ab=5,
    // n_a=n_b=5, N=10 -> ln(5*10/25) = ln 2 -> 693147 micro-nats; each
    // contributes (5/10)*ln2 -> 346574
    val dep = (for { a <- Seq("x", "y"); _ <- 1 to 5 } yield (a, a)).toDF("a", "b")
    val rd = Profile.mutualInfo(dep, "a", "b").collect()
    assert(rd.length === 2 && rd.forall(r => r.getLong(3) === 693147L &&
      r.getLong(4) === 346574L))
  }

  // ── Layout.globalRank ──────────────────────────────────────────────

  test("globalRank equals the single-partition row_number on any bucket count") {
    import spark.implicits._
    // adversarial values: duplicates, negatives, a far outlier that
    // empties most linear bins
    val rows = Seq(5.0, -3.0, 5.0, 0.0, 1e6, 2.5, -3.0, 7.0, 0.0, 42.0)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = rows.toDF("id", "v").repartition(4)
    val expected = rows.sortBy { case (id, v) => (v, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1).toLong }.toMap
    for (buckets <- Seq(1, 3, 256)) {
      val got = Layout.globalRank(df, "v", "id", buckets).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got === expected, s"buckets=$buckets")
    }
  }

  test("globalRank: constant value column falls back to one bin, tie order ranks") {
    import spark.implicits._
    val df = (1L to 5L).map((_, 9.9)).toDF("id", "v").repartition(3)
    val got = Layout.globalRank(df, "v", "id").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === (1L to 5L).map(i => i -> i).toMap)
  }

  // ── Pca.topComponent ───────────────────────────────────────────────

  test("pcaTop finds the dominant variance axis; result is partition-invariant") {
    import spark.implicits._
    // variance concentrated on dim 0 (spread ±2), noise on dim 1 (±0.1)
    val vecs = Seq(
      Seq(2.0f, 0.1f, 0f, 0f), Seq(-2.0f, -0.1f, 0f, 0f),
      Seq(1.5f, 0.1f, 0f, 0f), Seq(-1.5f, 0.05f, 0f, 0f),
      Seq(1.0f, -0.1f, 0f, 0f), Seq(-1.0f, 0.02f, 0f, 0f))
    val df = vecs.toDF("embedding")
    val r = Pca.topComponent(df, "embedding", dim = 4).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(0L) === 1000000L, "dominant axis loads at full scale, sign-fixed positive")
    assert(math.abs(r(1L)) < 100000L && r(2L) === 0L && r(3L) === 0L)
    // exact integer arithmetic: any partitioning yields the identical vector
    val r2 = Pca.topComponent(df.repartition(5), "embedding", dim = 4).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r2 === r)
  }

  // ── Basket.pairLift ────────────────────────────────────────────────

  test("pairLift: hand-computed support, confidence, lift") {
    import spark.implicits._
    // 4 baskets: {a,b} {a,b} {a} {b} -> n_a=3, n_b=3, n_ab=2
    // support = 2/4 = 500000 ppm; conf a->b = 2/3 = 666666 ppm;
    // lift = 2*4/(3*3) = 888888 ppm
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", "a"), (1L, "2024-01-01 11:00:00", "b"),
      (1L, "2024-01-01 12:00:00", "a"), // dup item in basket: counted once
      (2L, "2024-01-01 10:00:00", "a"), (2L, "2024-01-01 11:00:00", "b"),
      (1L, "2024-01-02 10:00:00", "a"),
      (2L, "2024-01-02 10:00:00", "b"))
      .toDF("user_id", "ts_s", "event_type")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val r = Basket.pairLift(ev).collect()
    assert(r.length === 1)
    val row = r.head
    assert((row.getString(0), row.getString(1), row.getLong(2)) === (("a", "b", 2L)))
    assert(row.getLong(3) === 500000L && row.getLong(4) === 666666L &&
      row.getLong(5) === 888888L)
  }

  // ── Snapshot.psiDrift ──────────────────────────────────────────────

  test("psiDrift: identical distributions score zero in every bin") {
    import spark.implicits._
    val vals = (1 to 100).map(_.toDouble).toDF("v")
    val r = Snapshot.psiDrift(vals, vals, "v").collect()
    assert(r.length === 10 && r.forall(_.getLong(3) === 0L))
    assert(r.map(_.getLong(1)).sum === 100L, "reference counts preserved")
  }

  test("psiDrift: out-of-range current values clamp into edge bins, drift surfaces") {
    import spark.implicits._
    val ref = (1 to 100).map(_.toDouble).toDF("v")
    val cur = (1 to 100).map(_ * 10.0).toDF("v") // mass pushed far right
    val r = Snapshot.psiDrift(ref, cur, "v").collect()
    assert(r.map(_.getLong(2)).sum === 100L, "no current rows vanish")
    val top = r.find(_.getLong(0) === 9L).get
    assert(top.getLong(2) >= 90L, "clamped mass lands in the top bin")
    assert(r.map(_.getLong(3)).sum > 250000L, "PSI flags the shift (> 0.25 nats)")
  }

  // ── Anomaly.madOutlierStats ────────────────────────────────────────

  test("madOutlierStats: hand-computed median, MAD, and outlier count") {
    import spark.implicits._
    // values 1..9 plus outlier 100: median=5.5, deviations 0.5..4.5 &
    // 94.5 -> MAD = median(0.5,1.5,2.5,3.5,4.5,0.5,1.5,2.5,3.5,94.5) = 2.5
    // outliers: |v-5.5| > 3*2.5 = 7.5 -> only 100
    val df = ((1 to 9).map(_.toDouble) :+ 100.0).map(("a", _)).toDF("k", "v")
    val r = Anomaly.madOutlierStats(df, "k", "v").collect().head
    assert(r.getString(0) === "a" && r.getLong(1) === 10L)
    assert(r.getDouble(2) === 5.5 && r.getDouble(3) === 2.5)
    assert(r.getLong(4) === 1L)
  }

  test("madOutlierStats is robust where mean/stddev is not") {
    import spark.implicits._
    // the whale at 1e6 drags a z-score cut to uselessness; the MAD cut
    // still flags it and ONLY it
    val df = ((1 to 99).map(_ % 10 + 1.0) :+ 1e6).map(("k", _)).toDF("k", "v")
    val r = Anomaly.madOutlierStats(df, "k", "v").collect().head
    assert(r.getLong(4) === 1L, "exactly the whale is flagged")
  }
}
