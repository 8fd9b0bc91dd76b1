package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver archives only the last ~2000 chars of bench output and
  * parses the final line as JSON — so the emitted line must fit 1980 chars
  * under WORST-case per-query values, with the degrade ladder (2dp map →
  * 1dp map → headline+failures → headline) absorbing the overflow. The r7
  * line sat at ~1956/2000 chars; this spec exercises the ladder before the
  * driver ever needs it. */
class LineBudgetSpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keySet.toSeq.sorted

  test("gated query set is the 94 the line budget was sized for") {
    // adding a gated query without re-checking the budget is exactly the
    // failure mode this suite exists to catch — update the budget story
    // (or prefer a lib-level operator) before bumping this number
    // (r13: 90 → 92 with fuzzy_pairs + curation_gate; r14: 92 → 93 with
    // curation_recipe; r15: 93 → 94 with curation_increment; the
    // worst-case ladder tests below re-size the budget with the real
    // name set)
    assert(names.size == 94, s"query count changed: ${names.size}")
  }

  test("real names + realistic centisecond values fit with full detail") {
    val results = names.map(_ -> 3.21).toMap
    val line = Bench.formatLine(results, Nil, "sf0.1")
    assert(line.length <= 1980, s"len=${line.length}")
    // full per-query detail survived (no degrade)
    assert(names.forall(n => line.contains("\"" + n + "\":")))
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.endsWith(""","sf":"sf0.1"}"""))
  }

  test("worst realistic values (two digits, no strippable zeros) keep the per-query map") {
    // 99.99 bounds every per-query value ever recorded on a DRIVER leg
    // (slowest gated query across 12 rounds: ~1.7 s at sf0.1; the sf10
    // probe's worst is ~35 s — still two digits — and the one former
    // >100 s side-line, the fuzzy join, is now a gated query with a
    // FIXED key domain precisely so its value cannot grow with SF).
    // The map must survive at some rung for any value in this range.
    val results = names.map(_ -> 99.99).toMap
    val line = Bench.formatLine(results, Nil, "sf0.1")
    assert(line.length <= 1980, s"len=${line.length}")
    assert(names.forall(n => line.contains("\"" + n + "\":")),
      s"per-query map dropped at realistic values:\n$line")
  }

  test("pathological 4-digit values land on the alias rung, parseable and inside the window") {
    // at 94 full names an all-999.99 map fits NO full-name rung (r13:
    // two added names pushed even 1dp past the window). The r16 ladder
    // dropped the map entirely here; the alias rungs now absorb it —
    // every query stays on the line under its prefix-stripped key.
    val results = names.map(_ -> 999.99).toMap
    val line = Bench.formatLine(results, Nil, "sf0.1")
    assert(line.length <= 1980, s"degrade ladder failed: len=${line.length}")
    assert(line.startsWith("""{"metric":"total","value":"""))
    val aliases = Bench.aliasNames(names)
    assert(names.forall(n => line.contains("\"" + aliases(n) + "\":")),
      s"map dropped although the alias rung fits:\n$line")
  }

  test("mass failure degrades to a headline, never overflows") {
    // every query failed with a huge negative wall: failures list + map
    // can exceed the window together; the ladder may drop the map and
    // even the failures list, but the headline must survive intact
    val results = names.map(_ -> -999.99).toMap
    val line = Bench.formatLine(results, names.toList, "sf0.1")
    assert(line.length <= 1980, s"len=${line.length}")
    assert(line.startsWith("""{"metric":"total","value":"""))
  }

  test("health block rides the realistic driver line without costing the map") {
    // r15 verdict #2: BENCH_r{N}.json must carry {load, page-supply rate,
    // boot time} so a hot or slow-page-supply leg is machine-checkable in
    // the artifact, not just in forensics prose. The no-health 94-query
    // line sits at 1960/1980 (1dp rung), so health is the compact
    // positional array [load(1dp), mbs(int), boot_s(int)].
    val results = names.map(_ -> 3.21).toMap
    val health = Bench.healthJson(0.93, 5012.4, 2100)
    assert(health == """[0.9,5012,2]""", health)
    // r21 (r20 verdict #4): a leg whose wave re-run pass fired carries
    // the count as a 4th positional element; zero is omitted so a clean
    // leg's byte budget is unchanged
    assert(Bench.healthJson(0.93, 5012.4, 2100, waveReruns = 0)
      == """[0.9,5012,2]""")
    assert(Bench.healthJson(6.30, 240.0, 330000, waveReruns = 5)
      == """[6.3,240,330,5]""")
    val line = Bench.formatLine(results, Nil, "sf0.1", Some(health))
    assert(line.length <= 1980, s"len=${line.length}")
    assert(line.contains(""","h":[0.9,5012,2],"sf":"""), line)
    assert(names.forall(n => line.contains("\"" + n + "\":")),
      s"health block cost the per-query map at realistic values:\n$line")
  }

  test("worst-case 4-element health block (94 wave re-runs) keeps the full-name map") {
    // every gated query flagged and re-run: the 4th health element at its
    // widest realistic value (',94') must still fit the full-name line
    val results = names.map(_ -> 3.21).toMap
    val health = Bench.healthJson(0.93, 5012.4, 2100, waveReruns = 94)
    assert(health == """[0.9,5012,2,94]""", health)
    val line = Bench.formatLine(results, Nil, "sf0.1", Some(health))
    assert(line.length <= 1980, s"len=${line.length}")
    assert(line.contains(""","h":[0.9,5012,2,94],"sf":"""), line.takeRight(80))
    assert(names.forall(n => line.contains("\"" + n + "\":")),
      s"4-element health block cost the full-name map:\n$line")
  }

  test("wave re-runs ride the line even when the health probe failed") {
    // the probe reports mbs <= 0 when it could not run: no block for a
    // clean leg, but a leg whose wave pass fired keeps its annotation
    assert(Bench.healthBlock(0.93, -1.0, 2100, waveReruns = 0).isEmpty)
    assert(Bench.healthBlock(0.93, -1.0, 2100, waveReruns = 3)
      .contains("""[0.9,-1,2,3]"""))
    assert(Bench.healthBlock(0.93, 5012.4, 2100, waveReruns = 0)
      .contains("""[0.9,5012,2]"""))
  }

  test("alias rungs keep map AND health when full names + health no longer fit") {
    // the r16 ladder shed health here; the r17 priority is explicit:
    // full-name map > health > precision > aliased map. A wide health
    // block (sick box: big boot_s, hot load) that blows the full-1dp
    // rung now lands on the ALIASED map rung — every query still on the
    // line (under its prefix-stripped key), health retained.
    val results = names.map(_ -> 3.21).toMap
    val wide = Bench.healthJson(12.3, 1234567.0, 999999000)
    val line = Bench.formatLine(results, Nil, "sf0.1", Some(wide))
    assert(line.length <= 1980, s"len=${line.length}")
    assert(line.contains(""","h":[12.3,1234567,999999]"""), line.takeRight(120))
    val aliases = Bench.aliasNames(names)
    assert(names.forall(n => line.contains("\"" + aliases(n) + "\":")),
      s"map lost to a wide health block:\n$line")
    // mass failure blows every map rung; the headline rung keeps the
    // failed list AND health when both fit
    val failedLine = Bench.formatLine(
      names.map(_ -> -999.99).toMap, names.toList, "sf0.1",
      Some(Bench.healthJson(6.30, 240.0, 330000)))
    assert(failedLine.length <= 1980, s"len=${failedLine.length}")
    assert(failedLine.startsWith("""{"metric":"total","value":"""))
    assert(failedLine.contains(""""failed":["""), failedLine.take(200))
    assert(failedLine.contains(""""h":[6.3,240,330]"""), failedLine)
  }

  test("95th gated query: alias rungs keep the map AND health with >= 60 chars headroom (r16 verdict #8)") {
    // the full-name 94-query line sits at 1972/1980 — the next gated
    // query used to shed health silently. Worst-case 95th name: as long
    // as the longest current key.
    val names95 = names :+ "ts_window_tensorize_padded9"
    val results = names95.map(_ -> 3.21).toMap
    val line = Bench.formatLine(results, Nil, "sf0.1",
      Some(Bench.healthJson(0.93, 5012.4, 2100)))
    assert(line.length <= 1980 - 60,
      s"len=${line.length} — less than 60 chars of headroom at 95 queries")
    assert(line.contains(""","h":[0.9,5012,2]"""), line.takeRight(80))
    val aliases = Bench.aliasNames(names95)
    assert(names95.forall(n => line.contains("\"" + aliases(n) + "\":")),
      s"a query fell off the 95-name line:\n$line")
  }

  test("aliasNames strips family prefixes, keeps collisions in full, stays invertible") {
    val a = Bench.aliasNames(names)
    assert(a.size == names.size)
    // lossless: aliased keys stay pairwise distinct
    assert(a.values.toSet.size == names.size, "alias collision leaked")
    assert(a("ts_ewma") == "ewma" && a("q_funnel") == "funnel" &&
      a("dedup_exact") == "exact", a.toString)
    // a strip that collides (with another strip, or with a verbatim
    // unprefixed name) keeps BOTH sides in full
    val b = Bench.aliasNames(Seq("q_corr", "ts_corr", "plain"))
    assert(b == Map("q_corr" -> "q_corr", "ts_corr" -> "ts_corr",
      "plain" -> "plain"), b.toString)
  }

  test("headline rung prefers the diagnostic failed list over health when both cannot fit") {
    // the ADVICE ladder gap: in the window where headline + failed list
    // fits but + health does not, the old ladder shed the failed NAMES
    // in favor of 18 bytes of box stats. Diagnostics outrank telemetry.
    val fails = (0 until 210).map(i => f"qf$i%04d").toList
    val results = fails.map(_ -> -999.99).toMap
    val line = Bench.formatLine(results, fails, "sf0.1",
      Some(Bench.healthJson(6.3, 240.0, 330000)))
    assert(line.length <= 1980, s"len=${line.length}")
    assert(line.contains(""""failed":["qf0000""""), line.take(200))
    assert(!line.contains(""","h":"""),
      s"health must be shed before the failed list on the headline rungs:\n$line")
  }

  test("aliased-2dp-no-health rung exists: no decimal place is lost that aliased 2dp without health could keep (r17 ADVICE)") {
    // the r17 ladder fell from full-1dp-no-health straight to aliased
    // 1dp. The rung can only win in the window where every +health rung
    // overflows AND aliased 2dp (without health) still fits — health
    // wider than one char per query — so sweep a single padding name at
    // 1-char steps across that window and require the rung to fire.
    val wide = Bench.healthJson(12.3, 1234567.0, 999999000)
    val base = (1 to 15).map(i => f"dedup_fixed_name_q$i%02d_${"x" * 90}" -> 111.456)
    val hit = (0 to 240).exists { pad =>
      val results = (base :+ (s"dedup_pad_${"y" * pad}" -> 111.456)).toMap
      val line = Bench.formatLine(results, Nil, "sf0.1", Some(wide))
      val q = line.substring(line.indexOf(""""queries":"""))
      val chosen = !line.contains(""""h":""") && !q.contains("dedup_") &&
        q.contains("111.46")
      if (chosen) assert(line.length <= 1980, s"len=${line.length}")
      chosen
    }
    assert(hit, "no sweep point chose the aliased-2dp-no-health rung — " +
      "the ladder is losing a decimal place it could keep")
  }

  test("health probe measures a positive page-supply rate") {
    // shape test at 128 MB — the real 2 GiB default costs 10-20 s on a
    // slow-page-supply box, per sbt test run
    val (load, mbs, bootMs) = Bench.healthProbe(chunks = 1, chunkMb = 128)
    assert(mbs > 0, s"mbs=$mbs")
    assert(bootMs >= 0)
    // load average is -1 on platforms without the metric; accept either
    assert(load == -1.0 || load >= 0.0)
  }

  test("trailing-zero stripping keeps values valid JSON numbers") {
    val line = Bench.formatLine(
      Map("a" -> 0.50, "b" -> 1.00, "c" -> 0.001, "d" -> 12.30), Nil, "sf0.1")
    assert(line.contains("\"a\":0.5,\"b\":1,\"c\":0,\"d\":12.3"), line)
  }
}
