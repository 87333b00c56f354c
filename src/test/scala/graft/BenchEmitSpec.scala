package graft

import org.scalatest.funsuite.AnyFunSuite

/** The compact bench line must fit the driver's ~2 KB stdout tail WHOLE
  * at any query count — totals are never lost. Pure-function tests over
  * [[Bench.compactArtifactLine]]'s three degradation levels (no Spark).
  */
class BenchEmitSpec extends AnyFunSuite {

  private def synth(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => (f"q${i}_synthetic_name_$i%03d", i * 0.137))

  test("small runs keep the full 1-dp per-query map") {
    val rs = synth(40)
    val line = Bench.compactArtifactLine(rs, Map.empty, "sf0.1")
    assert(line.length <= 1900)
    assert(line.contains(""""nq":40"""))
    // 1-dp precision survives (q3 -> 0.411 -> "0.4")
    assert(line.contains(""""q3":0.4"""))
    assert(line.endsWith("}"))
  }

  test("mid-size runs degrade to whole seconds, still complete") {
    // sized so the 1-dp line overflows (~190 x 11 B + header > 1900)
    // but the whole-second line fits (~190 x 9 B + header < 1900) —
    // exactly the level-2 regime
    val rs = (1 to 190).map(i => (s"q${i}x", 7.77))
    val line = Bench.compactArtifactLine(rs, Map.empty, "sf0.1")
    assert(line.length <= 1900, s"len ${line.length}")
    assert(line.contains(""""nq":190"""))
    // every query still present (complete map, cruder precision)
    assert((1 to 190).forall(i => line.contains(s""""q${i}x":8""")),
      "whole-second line must still carry every query")
  }

  test("300 synthetic queries stay under the tail guard via the slowest-10 fallback") {
    val rs = synth(300)
    val errs = (1 to 15).map(i => s"e$i" -> "boom").toMap
    val line = Bench.compactArtifactLine(rs, errs, "sf0.1")
    assert(line.length <= 1900, s"len ${line.length}")
    assert(line.contains(""""nq":300"""))
    assert(line.contains(""""nerr":15"""))
    // totals are never lost
    val total = rs.map(_._2).sum
    assert(line.contains(f""""value":${BigDecimal(total).setScale(1, BigDecimal.RoundingMode.HALF_UP).bigDecimal.stripTrailingZeros.toPlainString}"""))
    // the 10 slowest (q291..q300) are the per-query survivors
    assert(line.contains(""""slowest":{"""))
    assert(line.contains(""""q300":41.1"""))
    assert(line.contains(""""q291":"""))
    assert(!line.contains(""""q1":"""), "fallback drops the full map")
  }

  test("degradation is monotone in the limit: tighter limits never overflow") {
    val rs = synth(300)
    // the slowest-N list shrinks until the line fits — the guarantee
    // holds at any limit down to the totals-only floor
    Seq(4000, 1900, 800, 400, 160).foreach { lim =>
      val line = Bench.compactArtifactLine(rs, Map.empty, "sf0.1", limit = lim)
      assert(line.length <= lim, s"limit $lim -> len ${line.length}: $line")
      assert(line.contains(""""value":"""))
      assert(line.contains(""""nq":300"""))
      // the unconfirmed-observation count is never lost either
      assert(line.contains(""""nsus":0"""))
    }
  }

  // ── trust markers (the BENCH_r07 lesson: the suspect array sat at the
  // head of the oversized full-precision line, the driver keeps only the
  // stdout TAIL, and the stored artifact carried 4-19× inflated
  // unconfirmed numbers with no surviving marker) ──────────────────────

  test("suspect ids survive a simulated 2.5 KB driver tail cut of a 211-query emit") {
    // 211 queries at full double precision ≈ 7+ KB — guaranteed to
    // overflow the driver's ~2.5 KB tail, exactly the BENCH_r07 regime
    val rs = synth(211)
    val walls = rs.map { case (n, v) => n -> (v + 19.0) }.toMap
    val suspects = Seq("q13_synthetic_name_013", "q207_synthetic_name_207")
    val full = Bench.fullArtifactLine(rs, Map("q9_synthetic_name_009" -> "boom"),
      walls, suspects)
    assert(full.length > 2500, s"fixture must overflow the tail (len ${full.length})")
    val tail = full.takeRight(2500)
    // the trust markers and the total trail the queries map, so they
    // live in the tail a mid-map cut preserves
    assert(tail.contains(""""suspect":["q13_synthetic_name_013","q207_synthetic_name_207"]"""),
      s"suspect array must survive the tail cut:\n...${tail.take(200)}")
    assert(tail.contains(""""slow":"""), "host-slowdown factor must survive the tail cut")
    assert(tail.contains(""""value":"""), "the total must survive the tail cut")
  }

  test("compact line carries nsus, worst-first sus ids, and the slow factor") {
    val rs = synth(100)
    val suspects = Seq("q3_synthetic_name_003", "q90_synthetic_name_090",
      "q50_synthetic_name_050")
    val line = Bench.compactArtifactLine(rs, Map.empty, "sf0.1",
      suspects, Some(2.27))
    assert(line.length <= 1900)
    assert(line.contains(""""nsus":3"""))
    // worst recorded seconds first: q90 (12.33 s) > q50 > q3
    assert(line.contains(""""sus":["q90","q50","q3"]"""), line)
    assert(line.contains(""""slow":2.27"""), line)
  }

  test("sus list caps at the worst 12 but nsus keeps the true count") {
    val rs = synth(211)
    val suspects = (1 to 40).map(i => f"q${i}_synthetic_name_$i%03d")
    val line = Bench.compactArtifactLine(rs, Map.empty, "sf0.1",
      suspects, Some(2.3))
    assert(line.length <= 1900, s"len ${line.length}")
    assert(line.contains(""""nsus":40"""))
    // worst-first: q40 (5.48 s) leads; exactly 12 shown
    val sus = """"sus":\[([^\]]*)\]""".r.findFirstMatchIn(line)
      .map(_.group(1).split(",").toSeq).getOrElse(Nil)
    assert(sus.size === 12, line)
    assert(sus.head === "\"q40\"", line)
  }

  test("slowFactor is the median observed/expected over mapped queries") {
    // 6 queries with last-round entries, uniformly 2x their expected
    val rs = Seq("q1_agg", "q2_x", "q3_x", "q4_x", "q5_x", "q6_x")
      .map(n => n -> 0.6) // expected 0.3-0.5 in the last-round map
    val f = Bench.slowFactor(rs)
    assert(f.isDefined)
    assert(f.get > 1.0 && f.get < 3.0, s"factor ${f.get}")
    // under 5 mapped observations there is no meaningful host signal
    assert(Bench.slowFactor(rs.take(3)).isEmpty)
    // unmapped query names contribute nothing
    assert(Bench.slowFactor((1 to 50).map(i => s"zz$i" -> 9.9)).isEmpty)
  }
  // ── host-aware suspicion (the BENCH_r09 nsus:88 lesson) ─────────────

  test("suspicion scales by the host factor: uniform slowdown is not debris") {
    // derived from the live map (refresh-proof — the round-12 anchor on
    // a literal 0.3 s entry broke at the next wholesale refresh): the
    // contract is threshold = max(1, 1.8 * expected * max(1, slow))
    def thr(slow: Double) =
      math.max(1.0, 1.8 * Bench.expectedSec("q5_agg") * math.max(1.0, slow))
    assert(!Bench.suspicious("q5_agg", thr(1.0) * 0.9, 1.0))
    assert(Bench.suspicious("q5_agg", thr(1.0) * 1.1, 1.0))
    // on a 2.15x-degraded host an observation inside the host-scaled
    // threshold is the HOST, not debris — no suspect flag
    assert(!Bench.suspicious("q5_agg", thr(2.15) * 0.9, 2.15))
    // genuine debris (beyond the host factor) still flags
    assert(Bench.suspicious("q5_agg", thr(2.15) * 1.4, 2.15))
    // fast hosts never LOOSEN the threshold (max(1, slow))
    assert(Bench.suspicious("q5_agg", thr(1.0) * 1.1, 0.5))
  }

  // ── per_query_part chunks (round 14: restore the driver's per-query
  // measurement contract — the full line is ~8 KB at 257 queries and the
  // driver's ~2 KB tail capture lost it two rounds running) ────────────

  test("per_query_part chunks each fit the capture window and cover every query") {
    val rs = synth(257)
    val lines = Bench.perQueryPartLines(rs, "sf0.1")
    assert(lines.nonEmpty)
    lines.foreach(l => assert(l.length <= 1800, s"len ${l.length}: $l"))
    // self-describing chunk protocol: i/n consistent
    assert(lines.zipWithIndex.forall { case (l, i) =>
      l.startsWith(s"""{"metric":"per_query_part","i":$i,"n":${lines.size},""")
    }, lines.head)
    // union of chunks carries every query exactly once, FULL names
    val all = lines.flatMap(l =>
      """"(q\d+_synthetic_name_\d+)":([0-9.]+)""".r.findAllMatchIn(l)
        .map(m => m.group(1) -> m.group(2).toDouble))
    assert(all.size === 257)
    assert(all.map(_._1).toSet === rs.map(_._1).toSet)
    // 3-decimal precision: within half a millisecond of the true value
    val truth = rs.toMap
    all.foreach { case (n, v) =>
      assert(math.abs(v - truth(n)) <= 0.0005, s"$n: $v vs ${truth(n)}")
    }
    // heaviest queries ride the LAST chunk (tail-capture hedge)
    assert(lines.last.contains(""""q257_synthetic_name_257":"""))
    assert(lines.head.contains(""""q1_synthetic_name_001":"""))
    // 100+ chunks: the header's i/n grow to three digits and every
    // chunk must still fit, whatever the slack left under the limit
    (140 to 170).foreach { limit =>
      val many = Bench.perQueryPartLines(rs, "sf0.1", limit)
      assert(many.size >= 100, s"limit $limit: ${many.size} chunks")
      many.foreach(l => assert(l.length <= limit, s"limit $limit, len ${l.length}: $l"))
      assert(many.last.startsWith(
        s"""{"metric":"per_query_part","i":${many.size - 1},"n":${many.size},"""))
    }
  }

  test("per_query_part chunks are valid one-line JSON at any size") {
    assert(Bench.perQueryPartLines(Nil, "sf0.1").isEmpty)
    val one = Bench.perQueryPartLines(Seq("a1_x" -> 0.1234), "sf0.01")
    assert(one === Seq(
      """{"metric":"per_query_part","i":0,"n":1,"unit":"sec","sf":"sf0.01","queries":{"a1_x":0.123}}"""))
    // no chunk ever splits an entry, even with long names near the limit
    val long = (1 to 300).map(i => (s"q${i}_${"x" * 60}", i * 1.5))
    Bench.perQueryPartLines(long, "sf0.1").foreach { l =>
      assert(l.length <= 1800)
      assert(l.endsWith("}}"))
    }
  }

  test("per_query_part rejects an entry too long for a line of its own") {
    val name = "q1_" + "x" * 200
    // the one-entry line under the default limit is the shortest line
    // that can carry this entry
    val line = Bench.perQueryPartLines(Seq(name -> 0.5), "sf0.1").head
    assert(Bench.perQueryPartLines(Seq(name -> 0.5), "sf0.1", line.length) === Seq(line))
    val e = intercept[IllegalArgumentException](
      Bench.perQueryPartLines(Seq("a" -> 0.1, name -> 0.5), "sf0.1", line.length - 1))
    assert(e.getMessage.contains(name), e.getMessage)
  }

  test("prior-round isolated floors resolve by unique prefix") {
    // a1's ratcheted floor is the judge's 0.14 s isolated re-run, below
    // any rehearsal number — the floor only ever steps down
    assert(Bench.priorIsolatedMin("a1_avro_roundtrip").exists(_ <= 0.14))
    assert(Bench.priorIsolatedMin("zz_unknown").isEmpty)
  }

}
