package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("dedup-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Graft.registerAll(s)
    s
  }

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, ""), (5L, "two tokens"),
      (6L, "completely different content about spark aggregation engines"))
      .toDF("doc_id", "text").repartition(2)
  }

  test("exact dedup flags identical docs, keeps min id") {
    val r = Dedup.exact(docs).collect().map(x =>
      x.getLong(0) -> (x.getLong(2), x.getLong(3), x.getBoolean(4))).toMap
    assert(r(1L) === ((1L, 2L, false)))
    assert(r(2L) === ((1L, 2L, true)))
    assert(r(3L)._2 === 1L)
  }

  test("incremental dedup keeps only content-new batch docs, min-id keeper") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "existing corpus document one"),
      (2L, "existing corpus document two")).toDF("doc_id", "text").repartition(2)
    val incoming = Seq(
      (10L, "a genuinely new document"),
      (11L, "existing corpus document one"), // exact dup of corpus → dropped
      (12L, "another new document"),
      (13L, "another new document"), // batch-internal dup → keeper = 12
      (14L, "Existing  Corpus  document TWO ")) // normalizes to a corpus dup
      .toDF("doc_id", "text").repartition(3)
    val kept = Dedup.incrementalNew(incoming, corpus)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(10L, 12L))
    // resilient to batch repartitioning (pure function of content)
    val kept2 = Dedup.incrementalNew(incoming.repartition(1), corpus.repartition(4))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept2 === kept)
  }

  test("minhash LSH finds identical and near-dup pairs with exact jaccard") {
    // r = k/bands = 2 → banding s-curve threshold ≈ 0.27, so the 0.54-jaccard
    // near-dup pair is found with P ≈ 1 - (1-0.54²)¹⁶ ≈ 0.996 (the default
    // r=4 tuning targets ≥0.6 jaccard and may legitimately skip it)
    val pairs = Dedup.minhashLshPairs(docs, k = 32, bands = 16, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0.4 && pairs((1L, 3L)) < 0.7)
    assert(!pairs.keys.exists { case (a, b) => a == 6L || b == 6L })
  }

  test("ngram jaccard (exact inverted index) agrees with LSH-verified jaccard") {
    val lsh = Dedup.minhashLshPairs(docs, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every LSH pair must appear in the exact index with the same jaccard
    lsh.foreach { case (k, v) => assert(exact(k) === v) }
  }

  test("containment flags an excerpt its symmetric jaccard misses") {
    import spark.implicits._
    val long = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango " +
      "uniform victor whiskey xray yankee zulu one two three four five six")
    // excerpt = a contiguous mid-document slice → shingle subset of long
    val excerpt = "kilo lima mike november oscar papa quebec romeo"
    val d = Seq((1L, long), (2L, excerpt),
      (3L, "entirely unrelated content about database engines and planners"))
      .toDF("doc_id", "text").repartition(2)
    val cont = Dedup.containmentPairs(d, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont.keySet === Set((1L, 2L)))
    assert(cont((1L, 2L)) === 1.0)
    // the same pair is invisible to symmetric jaccard at any dedup-grade
    // threshold: |excerpt shingles| / |long shingles| is well under 0.3
    val jac = Dedup.ngramJaccardPairs(d, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)))
  }

  test("containment and jaccard agree on identical docs and respect the df cap") {
    val cont = Dedup.containmentPairs(docs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont((1L, 2L)) === 1.0) // identical docs: containment == jaccard == 1
    // dfCap=1 drops every shared shingle → no pairs survive
    assert(Dedup.containmentPairs(docs, threshold = 0.5, dfCap = 1).count() === 0)
  }

  test("simhash is equal for identical docs and differs across contents") {
    val sh = docs.select(col("doc_id"), Dedup.simhash32(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(2L))
    assert(sh(1L) !== sh(6L))
    assert(sh(4L) === 0L) // empty doc: no tokens, all bit-sums 0
  }

  private def vecs = {
    import spark.implicits._
    Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.99f, 0.1f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
  }

  test("brute-force topk ranks by cosine with deterministic tie-break") {
    val r = Similarity.bruteForceTopK(vecs, vecs.where(col("vec_id") === 0),
      "vec_id", "embedding", k = 3).collect()
      .map(x => (x.getLong(1), x.getInt(3))).toList
    assert(r.head === ((1L, 1)))   // closest: the 0.99 vector
    assert(r.last === ((3L, 3)))   // furthest kept: the antipode
  }

  test("embedding near-dup finds only the close pair at high threshold") {
    val pairs = Dedup.embeddingNearDupPairs(vecs, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((0L, 1L)))
  }

  test("banded LSH near-dup matches brute force on real embeddings") {
    // the recall proof for the bucketed candidate path: on the testdata
    // corpus plus perturbed copies (the d5 query shape), banded sign-LSH
    // finds exactly the pairs the O(n²) brute force finds
    val e = SparkEntry.tbl(spark, TestData.dir("0.001"), "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val aug = e.unionByName(e.select((col("vec_id") + 1000000).as("vec_id"),
      transform(col("embedding"), x => x * 1.1 + 0.01).as("embedding")))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val banded = key(Dedup.embeddingNearDupPairs(aug))
    val brute = key(Dedup.embeddingNearDupPairsBrute(aug))
    assert(banded === brute)
    assert(banded.nonEmpty)
  }

  test("auto-tuned banding meets its miss target at two thresholds") {
    // bandingForTargetMiss derives (bands, planes) from the stated recall
    // contract; at targetMiss 1e-3 on this fixture (tens of true pairs)
    // the expected misses are << 1, so the banded result must equal brute
    // force exactly — at both a loose and a tight threshold.
    val e = SparkEntry.tbl(spark, TestData.dir("0.001"), "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val aug = e.unionByName(e.select((col("vec_id") + 1000000).as("vec_id"),
      transform(col("embedding"), x => x * 1.1 + 0.01).as("embedding")))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (t <- Seq(0.90, 0.98)) {
      val (bands, planes) = Dedup.bandingForTargetMiss(t, 1e-3)
      assert(bands >= 1 && planes >= 1 && planes <= 16)
      // the derived grid satisfies the analytic miss bound it was asked for
      val agree = 1.0 - math.acos(t) / math.Pi
      val miss = math.pow(1.0 - math.pow(agree, planes), bands.toDouble)
      assert(miss <= 1e-3, s"t=$t grid=($bands,$planes) analytic miss $miss")
      val banded = key(Dedup.embeddingNearDupPairsAuto(aug, threshold = t))
      val brute = key(Dedup.embeddingNearDupPairsBrute(aug, threshold = t))
      assert(banded === brute, s"t=$t grid=($bands,$planes)")
      assert(brute.nonEmpty)
    }
    // a tighter threshold needs fewer bands for the same miss target
    // (bands are monotone in the angle), never more
    val loose = Dedup.bandingForTargetMiss(0.90, 1e-3)
    val tight = Dedup.bandingForTargetMiss(0.99, 1e-3)
    assert(tight._1 <= loose._1, s"loose=$loose tight=$tight")
  }

  test("native hashed_shingles equals the composable shingle pipeline") {
    // byte-identical hashes AND order on the spec docs plus a slice of
    // the real corpus, for both n=3 and n=5 (the d2/d4 settings)
    val real = SparkEntry.tbl(spark, TestData.dir("0.001"), "documents")
      .select(col("doc_id"), col("text")).limit(100)
    for (d <- Seq(docs, real); n <- Seq(3, 5)) {
      val both = d.select(
        Dedup.hashedShingleSet(col("text"), n).as("a"),
        Dedup.hashedShingleSetNative(col("text"), n).as("b"))
      assert(both.where(col("a") =!= col("b")).count() === 0)
      assert(both.count() > 0)
    }
  }

  test("native simhash32 and fingerprint64 equal the composable forms") {
    import graft.functions.Text
    val real = SparkEntry.tbl(spark, TestData.dir("0.001"), "documents")
      .select(col("doc_id"), col("text")).limit(100)
    for (d <- Seq(docs, real)) {
      val both = d.select(
        Dedup.simhash32(col("text")).as("sa"),
        Dedup.simhash32Native(col("text")).as("sb"),
        Text.fingerprint64(col("text")).as("fa"),
        Text.fingerprint64Native(col("text")).as("fb"),
        Text.hashedLinearScore(col("text")).as("qa"),
        Text.hashedLinearScoreNative(col("text")).as("qb"))
      assert(both.where(col("sa") =!= col("sb") || col("fa") =!= col("fb") ||
        col("qa") =!= col("qb")).count() === 0)
      assert(both.count() > 0)
    }
  }

  test("native minhash_sig equals the composable signature") {
    val sh = docs.select(Dedup.hashedShingleSet(col("text")).as("sh"))
    val both = sh.select(Dedup.minhashSignature(col("sh"), 32).as("a"),
      Dedup.minhashSignatureNative(col("sh"), 32).as("b"))
    assert(both.where(col("a") =!= col("b")).count() === 0)
    assert(both.count() === 6)
  }

  test("ngram document-frequency cap drops ubiquitous shingles") {
    // dfCap=1: every shared shingle (df >= 2) is dropped, so no pair can
    // accumulate intersections — the hot-key guard in its extreme form
    assert(Dedup.ngramJaccardPairs(docs, threshold = 0.2, dfCap = 1).count() === 0)
    // the default cap never fires at this scale: results unchanged
    assert(Dedup.ngramJaccardPairs(docs, threshold = 0.2).count() > 0)
  }

  test("ngram df-cap over threshold yields the documented jaccard lower bound") {
    import spark.implicits._
    // A and B share 3-gram shingles {abg, bgd, gde} plus one unique tail
    // shingle each: exact jaccard = 3/5 = 0.6. The shared shingle "alpha
    // beta gamma" also appears in 10 filler docs (df = 12); with dfCap=10
    // it is dropped, so the pair's intersection falls to 2 of 4+4 shingles
    // and the reported score becomes the lower bound 2/(4+4-2) = 1/3 —
    // still over the 0.3 threshold, proving the guard degrades scores
    // instead of losing the pair.
    val d = (Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "alpha beta gamma delta epsilon eta")) ++
      (1L to 10L).map(i => (i, "alpha beta gamma"))).toDF("doc_id", "text")
    def pairAB(dfCap: Int) =
      Dedup.ngramJaccardPairs(d, dfCap = dfCap)
        .where(col("id_a") === 100L && col("id_b") === 101L)
        .collect().map(_.getDouble(2)).toList
    assert(pairAB(100000) === List(0.6))
    assert(pairAB(10) === List(0.333333))
    // observability: the one hot shingle (df=12) is counted with its rows
    val cs = Dedup.CapStats(spark, "test.ngram")
    Dedup.ngramJaccardPairs(d, dfCap = 10, capStats = Some(cs)).count()
    assert(cs.buckets.value === 1L && cs.rows.value === 12L,
      s"stats ${cs.buckets.value}/${cs.rows.value}")
  }

  test("minhash LSH bucket cap drops hot buckets, keeps cold pairs") {
    import spark.implicits._
    // 6 identical copies of X: every band key is a 6-member bucket →
    // dropped at cap 4, so none of the 15 X-pairs survive. The Y pair
    // lives in 2-member buckets and is unaffected. Default cap: all pairs.
    val d = ((1L to 6L).map(i => (i, "the quick brown fox jumps over the lazy dog")) ++
      Seq((20L, "entirely unrelated text about distributed query planning engines"),
          (21L, "entirely unrelated text about distributed query planning engines")))
      .toDF("doc_id", "text")
    val cs = Dedup.CapStats(spark, "test.minhash")
    val capped = Dedup.minhashLshPairs(d, bucketCap = 4, capStats = Some(cs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((20L, 21L)))
    // every one of the 8 bands has exactly one 6-member hot bucket (the
    // identical X docs share all band keys); tally fires exactly once
    assert(cs.buckets.value === 8L, s"dropped buckets ${cs.buckets.value}")
    assert(cs.rows.value === 48L, s"dropped rows ${cs.rows.value}")
    // no caps fired → stats stay zero and results are exact
    val cs0 = Dedup.CapStats(spark, "test.minhash0")
    assert(Dedup.minhashLshPairs(d, capStats = Some(cs0)).count() === 16)
    assert(cs0.buckets.value === 0L && cs0.rows.value === 0L)
  }

  test("embedding near-dup bucket cap drops hot buckets") {
    import spark.implicits._
    // 6 identical vectors share every (band, bucket) → 6-member buckets
    // are dropped at cap 5 and no pair survives; the default cap keeps
    // all 15 clone pairs
    val d = (1L to 6L).map(i => (i, Seq(0.5f, -0.25f, 0.125f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cs = Dedup.CapStats(spark, "test.neardup")
    assert(Dedup.embeddingNearDupPairs(d, bucketCap = 5, capStats = Some(cs))
      .count() === 0)
    // 8 bands × one 6-member hot bucket each
    assert(cs.buckets.value === 8L && cs.rows.value === 48L,
      s"stats ${cs.buckets.value}/${cs.rows.value}")
    assert(Dedup.embeddingNearDupPairs(d).count() === 15)
  }

  test("connected components collapse pair chains into keeper groups") {
    import spark.implicits._
    // a 3-chain (1-2, 2-3) and an isolated pair (10-11): every node takes
    // its component's min id, so doc_id == group_id selects one keeper
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val r = Dedup.connectedComponents(pairs).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // pair orientation does not matter
    val rs = Dedup.connectedComponents(
        pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(rs === r)
  }

  /** Component minimum of every node in `pairs`, by driver-side
    * union-find: the reference the CC specs check against. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  /** `connectedComponents` as a map, after checking no node got two rows. */
  private def components(pairs: Seq[(Long, Long)], maxIter: Int = 25): Map[Long, Long] = {
    import spark.implicits._
    val got = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"), maxIter = maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === got.toMap.size, "a node got two rows")
    got.toMap
  }

  private def log2Bound(n: Int): Int =
    math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt + 4

  test("large-star/small-star collapses a path graph in O(log n) rounds") {
    // the adversarial diameter for label forwarding: a path of n nodes
    // needs n-1 forwarding rounds, but star alternation contracts it
    // logarithmically. n=128: the fixed point must be reached within
    // ceil(log2 128) + 4 = 11 rounds, or the call throws at its cap.
    val n = 128
    val path = (1 until n).map(i => (i.toLong, i.toLong + 1))
    assert(components(path, maxIter = log2Bound(n)) ===
      (1 to n).map(i => i.toLong -> 1L).toMap)
  }

  test("connected components match union-find on random graphs with self-loops") {
    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      val nNodes = 40 + rnd.nextInt(30)
      // a == b keeps the self-loop, and each node must still get a row:
      // one self-loop on a drawn node, one on a node seen nowhere else
      val drawn = (0 until nNodes).map { _ =>
        val a = rnd.nextInt(nNodes).toLong
        val b = rnd.nextInt(nNodes).toLong
        (math.min(a, b), math.max(a, b))
      }
      val pairs = drawn ++ Seq((drawn.head._2, drawn.head._2), (nNodes + 1L, nNodes + 1L))
      val got = components(pairs)
      assert(got === unionFind(pairs), s"seed=$seed")
      assert(got(nNodes + 1L) === nNodes + 1L, s"seed=$seed")
    }
  }

  test("connected components agree with union-find on random graphs") {
    // seeded random graphs, checked against a driver-side union-find —
    // guards the iterative propagation against convergence/merge bugs the
    // hand-picked chain cases can't reach
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val nNodes = 30 + rnd.nextInt(40)
      val pairs = (0 until nNodes).map { _ =>
        val a = rnd.nextInt(nNodes).toLong
        val b = rnd.nextInt(nNodes).toLong
        if (a < b) (a, b) else (b, a + 1)
      }.filter(p => p._1 != p._2)
      assert(components(pairs) === unionFind(pairs), s"seed $seed: component mismatch")
    }
  }

  test("hostile CC: shuffled-id paths of 128 and 1,024 nodes converge within ceil(log2 n) + 4 rounds") {
    for ((n, seed) <- Seq((128, 1), (128, 2), (1024, 3))) {
      val ids = new scala.util.Random(seed).shuffle((0 until n).map(_.toLong * 7 + 3))
      val path = ids.sliding(2).map(p => (p(0), p(1))).toSeq
      assert(components(path, maxIter = log2Bound(n)) === unionFind(path), s"n=$n seed=$seed")
    }
  }

  test("hostile CC: a sorted path, a 1 x 2,000 hub star and two cliques joined by one edge") {
    val sorted = (1L until 300L).map(i => (i, i + 1))
    assert(components(sorted, maxIter = log2Bound(300)) === unionFind(sorted))
    // the hub's id sits mid-range, so half its leaves are smaller than it
    val hub = (0L to 2000L).filter(_ != 1000L).map(leaf => (1000L, leaf))
    assert(components(hub) === unionFind(hub))
    val cliques = (for (a <- 0L until 12L; b <- a + 1 until 12L)
      yield Seq((a, b), (a + 100, b + 100))).flatten :+ ((11L, 105L))
    val got = components(cliques)
    assert(got === unionFind(cliques))
    assert(got.values.toSet === Set(0L))
  }

  test("hostile CC: duplicate and reversed pairs, self-loops, (NULL, x) and (NULL, NULL)") {
    import spark.implicits._
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(5L), Some(3L)), (Some(3L), Some(5L)), (Some(3L), Some(5L)), // one edge
      (Some(9L), Some(5L)),
      (Some(20L), Some(20L)), (Some(20L), Some(20L)), // self-loop only
      (Some(21L), Some(21L)), (Some(22L), Some(21L)), // self-loop plus an edge
      (None, Some(30L)), (Some(31L), None), (None, Some(31L)), // NULL partners only
      (None, Some(3L)), // NULL partner of a connected node
      (None, None))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(got.length === got.toSet.size)
    assert(got.toSet === Set(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 21L,
      22L -> 21L, 30L -> 30L, 31L -> 31L).map { case (d, g) => (Some(d), Some(g)) })
  }

  test("hostile CC: empty pairs give no rows, typed like a non-empty result") {
    import spark.implicits._
    val got = Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(got.collect().isEmpty)
    assert(got.schema.map(f => f.name -> f.dataType.simpleString) ===
      Seq("doc_id" -> "bigint", "group_id" -> "bigint"))
    val none = Seq[(Option[Long], Option[Long])]((None, None)).toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(none).collect().isEmpty)
  }

  test("connected components run a pinned number of Spark jobs on a fixed fixture") {
    import spark.implicits._
    // a 3-chain and a pair: the initial checkpoint (2 jobs), one
    // rewiring round and the round that sees the fingerprint repeat (4
    // each: two window shuffles, the distinct, the checkpoint), then the
    // labels' distinct and collect (2). Job counts do not drift with the
    // host, so a probe job added to the loop shows here.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val (rows, jobs) = JobCount.jobsOf(spark)(Dedup.connectedComponents(pairs).collect())
    assert(rows.length === 5)
    assert(jobs === 12, s"connectedComponents ran $jobs jobs")
  }

  test("connected components converge on a long path graph") {
    import spark.implicits._
    // diameter 11: needs several propagation rounds, well under maxIter
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val groups = Dedup.connectedComponents(pairs).collect().map(_.getLong(1)).toSet
    assert(groups === Set(1L))
  }

  test("connected components throw at the round cap instead of returning unconverged labels") {
    import spark.implicits._
    val path = (1L until 128L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](Dedup.connectedComponents(path, maxIter = 2))
    assert(e.getMessage.contains("2 rounds"), e.getMessage)
    val got = Dedup.connectedComponents(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L to 128L).map(_ -> 1L).toMap)
  }

  test("connected components: a (NULL, x) pair gives x its own row and the NULL id none") {
    import spark.implicits._
    val pairs = Seq((Some(1L), Some(2L)), (None, Some(5L)))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(got === Set((Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(5L), Some(5L))))
  }

  test("connected components: a (NULL, NULL) pair is dropped, so no NULL id is output") {
    import spark.implicits._
    val pairs = Seq((Some(1L), Some(2L)), (None, Some(5L)), (None, None))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(got === Set((Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(5L), Some(5L))))
  }

  test("multi-probe LSH recall dominates single-probe against brute force") {
    // recall@5 on the testdata corpus: multi-probe (Hamming-1 probes)
    // must find a superset of single-probe's true neighbors, since its
    // probe set contains the exact bucket
    val e = SparkEntry.tbl(spark, TestData.dir("0.001"), "embeddings")
    val queries = e.where(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5))
    val single = pairs(Similarity.lshTopK(e, queries, "vec_id", "embedding", k = 5, planes = 6))
    val multi = pairs(Similarity.lshTopKMultiProbe(e, queries, "vec_id", "embedding", k = 5, planes = 6))
    val rSingle = (single & brute).size.toDouble / brute.size
    val rMulti = (multi & brute).size.toDouble / brute.size
    assert(rMulti >= rSingle)
    assert(rMulti > 0.0)
    info(f"recall@5: single-probe $rSingle%.3f, multi-probe $rMulti%.3f")
  }

  test("sq8 with full-corpus rerank equals brute force; small rerank keeps recall") {
    val e = SparkEntry.tbl(spark, TestData.dir("0.001"), "embeddings")
    val queries = e.where(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = e.count().toInt
    val brute = pairs(Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5))
    // rerank ≥ |corpus| ⇒ every candidate survives the SQ8 screen, so the
    // exact rerank must reproduce brute force bit-for-bit
    val full = pairs(Similarity.sq8TopK(e, queries, "vec_id", "embedding", k = 5, rerank = n))
    assert(full === brute)
    // a 4x-k rerank budget over 8-bit codes should retain most true
    // neighbors — the production operating point
    val sq = pairs(Similarity.sq8TopK(e, queries, "vec_id", "embedding", k = 5, rerank = 20))
    val recall = (sq & brute).size.toDouble / brute.size
    assert(recall >= 0.6, f"sq8 recall@5 too low: $recall%.3f")
    info(f"sq8 recall@5 at rerank=20: $recall%.3f")
  }

  test("pq with full-corpus rerank equals brute force; small rerank keeps recall") {
    val e = SparkEntry.tbl(spark, TestData.dir("0.001"), "embeddings")
    val queries = e.where(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = e.count().toInt
    val brute = pairs(Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5))
    // rerank ≥ |corpus| ⇒ every candidate survives the ADC screen, so
    // the exact rerank must reproduce brute force bit-for-bit
    val full = pairs(Similarity.pqTopK(e, queries, "vec_id", "embedding",
      k = 5, rerank = n))
    assert(full === brute)
    // 8-byte codes at a 4×-k rerank budget — far lossier than SQ8's
    // per-dimension codes, and these synthetic embeddings are near-random
    // (PQ's worst case: no cluster structure for the codebooks to
    // exploit), so the bar is a usable candidate screen, not SQ8's 1.0
    val pq = pairs(Similarity.pqTopK(e, queries, "vec_id", "embedding",
      k = 5, rerank = 20))
    val recall = (pq & brute).size.toDouble / brute.size
    assert(recall >= 0.3, f"pq recall@5 too low: $recall%.3f")
    info(f"pq recall@5 at rerank=20: $recall%.3f")
  }

  test("k-means IVF training: total assignment, monotone objective, feeds ivfTopK") {
    val e = SparkEntry.tbl(spark, TestData.dir("0.001"), "embeddings")
    val n = e.count()
    // Lloyd's objective (sum of squared distances to recomputed cell
    // means) must not increase with more iterations
    def cost(iters: Int): Double = {
      val assigned = Similarity.trainIvfCells(e, "vec_id", "embedding", k = 8, iters = iters)
      assert(assigned.count() === n) // every vector gets exactly one cell
      val base = Similarity.prepare(e, "vec_id", "embedding").join(assigned, "_id")
      val means = base.select(col("_cell"), posexplode(col("_q")).as(Seq("_pos", "_v")))
        .groupBy(col("_cell"), col("_pos"))
        .agg((sum(col("_v")) / count(lit(1))).as("_m"))
        .groupBy(col("_cell"))
        .agg(transform(array_sort(collect_list(struct(col("_pos").as("p"), col("_m").as("m")))),
          x => x.getField("m")).as("_mvec"))
      base.join(means, "_cell")
        .select(aggregate(zip_with(col("_q"), col("_mvec"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("d2"))
        .agg(sum(col("d2"))).head.getDouble(0)
    }
    val c1 = cost(1)
    val c5 = cost(5)
    assert(c5 <= c1 + 1e-6, s"k-means objective increased: iters=1 -> $c1, iters=5 -> $c5")
    // trained cells drive ivfTopK end-to-end
    val assigned = Similarity.trainIvfCells(e, "vec_id", "embedding", k = 8, iters = 3)
      .withColumnRenamed("_id", "vec_id").withColumnRenamed("_cell", "cell")
    val withCells = e.join(assigned, "vec_id")
    val topk = Similarity.ivfTopK(withCells, withCells.where(col("vec_id") < 5),
      "vec_id", "embedding", "cell", k = 3, nprobe = 2)
    assert(topk.groupBy(col("query_id")).count().collect().forall(_.getLong(1) === 3))
  }

  test("lsh bucket is identical for identical vectors") {
    import spark.implicits._
    val two = Seq((0L, Seq(0.5f, -0.25f, 0.125f, 1.0f)), (1L, Seq(0.5f, -0.25f, 0.125f, 1.0f)))
      .toDF("vec_id", "embedding")
    val b = two.select(
      Similarity.lshBucket(Similarity.quantize(col("embedding")), planes = 8, dim = 4))
      .collect().map(_.getLong(0))
    assert(b(0) === b(1))
  }

  test("incremental near-dup keeps only batch docs that near-dup nothing") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "completely different content about spark aggregation engines"))
      .toDF("doc_id", "text").repartition(2)
    val incoming = Seq(
      // near-copy of corpus doc 10 → dropped by the cross screen
      (100L, "the quick brown fox jumps over the lazy dog again and"),
      // novel doc → kept (smallest of its within-batch near-dup group)
      (101L, "functional stream processing with watermarks and session windows"),
      // near-copy of batch doc 101 with larger id → dropped by the inner screen
      (102L, "functional stream processing with watermarks and session state"),
      // unrelated → kept
      (103L, "a totally unrelated sentence mentioning databases and indexes"))
      .toDF("doc_id", "text").repartition(3)
    val kept = Dedup.incrementalNearDupNew(incoming, corpus, threshold = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(101L, 103L))
  }

  test("keepCanonical drops non-canonical members, keeps unpaired docs") {
    import spark.implicits._
    // components: {1,2,3} (min 1), {7,8} (min 7); 5 and 6 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val d = Seq(1L, 2L, 3L, 5L, 6L, 7L, 8L).toDF("doc_id")
      .withColumn("text", concat(lit("doc "), col("doc_id")))
      .repartition(3)
    val labels = Dedup.connectedComponents(pairs)
    val kept = Dedup.keepCanonical(d, labels).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 5L, 6L, 7L))
  }

  test("keepBest keeps the highest-score member per component, min id on ties") {
    import spark.implicits._
    // components: {1,2,3} (chain), {10,11}; 20 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
    val docs = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 7.0), // winner: 2 (highest score, not min id)
      (10L, 4.0), (11L, 4.0),          // tie → winner: min id 10
      (20L, 1.0))                      // unpaired → survives
      .toDF("doc_id", "score").repartition(2)
    val kept = Dedup.keepBest(docs, labels, "score")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 10L, 20L))
    // same fixture through keepCanonical picks min ids instead
    val canon = Dedup.keepCanonical(docs, labels)
      .collect().map(_.getLong(0)).toSet
    assert(canon === Set(1L, 10L, 20L))
  }

  test("span dedup keeps first occurrence corpus-wide and reassembles in order") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e f"),          // spans (w=3): "a b c", "d e f"
      (2L, "a b c x y z"),          // first span duplicates doc 1's
      (3L, "d e f"),                // whole doc is a dup span
      (4L, "x y z a b c q"))        // all three spans distinct as spans
      .toDF("doc_id", "text").repartition(3)
    val r = Dedup.spanDedup(d, spanWords = 3).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getString(2)))).toMap
    assert(r(1L) === ((2L, "a b c d e f")))
    assert(r(2L) === ((1L, "x y z")))  // "a b c" lost to (1,0); "x y z" is first here
    assert(!r.contains(3L))            // every span already seen
    assert(r(4L) === ((1L, "q")))      // "x y z"→(2,1), "a b c"→(1,0); only "q" is new
    // kept spans across the corpus = one per distinct span text
    assert(r.values.map(_._1).sum === 4L)
  }

  test("span dedup is invariant to input partitioning") {
    import spark.implicits._
    val base = (1L to 40L).map(i =>
      (i, (0 until 12).map(j => s"w${(i * 7 + j * 3) % 11}").mkString(" ")))
      .toDF("doc_id", "text")
    def run(parts: Int) =
      Dedup.spanDedup(base.repartition(parts), spanWords = 5)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2))).sorted.toSeq
    assert(run(1) === run(7))
  }

  test("minhash error audit: identical docs estimate exactly, report bounds hold") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "completely different words entirely unrelated sentences about nothing much"))
      .toDF("doc_id", "text").repartition(3)
    val r = Dedup.minhashErrorAudit(docs).collect().head
    // identical docs: signature estimate 32/32 == exact jaccard 1.0 → err 0;
    // the unrelated doc shares no band with either
    assert(r.getAs[Long]("n_pairs") === 1L)
    assert(r.getAs[Long]("mean_abs_err_ppm") === 0L)
    assert(r.getAs[Long]("max_abs_err_ppm") === 0L)
  }

  test("bitext margin mining keeps clear matches and drops ambiguous ones") {
    import spark.implicits._
    // corpus: vec 100 ≈ query 1's vector (clear match); vecs 200/201 are
    // two near-identical candidates for query 2 (ambiguous — tiny margin)
    val q = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (100L, Array(0.999f, 0.02f, 0.0f)),
      (150L, Array(0.5f, 0.5f, 0.0f)),
      (200L, Array(0.01f, 0.998f, 0.0f)),
      (201L, Array(0.012f, 0.998f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.bitextMarginPairs(corpus.repartition(3), q,
      "vec_id", "embedding", minMargin = 0.05)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 100L), s"got $got")
  }

  test("SignBands fused band keys == the per-plane lshBucketSeeded chain") {
    import spark.implicits._
    // deterministic pseudo-random 64-dim vectors, incl. negatives/zeros
    val vecs = (0 until 50).map { i =>
      (i.toLong, (0 until 64).map(d =>
        ((Similarity.hexHash60(s"sbtest$i,$d") % 2001) - 1000).toDouble / 997.0
      ).toArray)
    }.toDF("vec_id", "embedding")
    val q = Similarity.prepare(vecs, "vec_id", "embedding")
    val bands = 35; val planes = 16
    val seeds = (0 until bands).map(b => s"nd$b:")
    val chain = array(seeds.map(sd =>
      Similarity.lshBucketSeeded(col("_q"), sd, planes)): _*)
    val fused = graft.functions.SignBands.bandKeys(col("_q"), seeds, planes)
    val diff = q.select(col("_id"), chain.as("_a"), fused.as("_b"))
      .where(col("_a") =!= col("_b")).count()
    assert(diff === 0L)
    // short-vector input: both sides share LongArrayDot's min-length rule
    val short = Seq((1L, Array(0.5, -0.25, 0.75))).toDF("vec_id", "embedding")
    val qs = Similarity.prepare(short, "vec_id", "embedding")
    val d2 = qs.select(chain.as("_a"), fused.as("_b"))
      .where(col("_a") =!= col("_b")).count()
    assert(d2 === 0L)
  }
}
