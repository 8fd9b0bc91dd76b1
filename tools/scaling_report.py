#!/usr/bin/env python3
"""Build SCALING_r{N}.json from two graft.Bench runs at different scale
factors (same box, same settings): per-query wall times, time ratios, and
outlier classification against the linear-scaling expectation.

Usage: scaling_report.py <bench_small.out> <bench_big.out> <data_ratio> <out.json>

The bench output files are full sbt logs; the one machine-readable line per
run is the {"metric": ...} JSON. A ratio well above <data_ratio> flags
superlinearity (subject to the box's 2-4x per-query noise band -- classify,
don't panic: the artifact records ratios, the SURVEY records root causes).
"""
import json
import re
import sys


def bench_line(path):
    with open(path) as f:
        for line in f:
            m = re.search(r'\{"metric".*\}', line)
            if m:
                return json.loads(m.group(0))
    raise SystemExit(f"no bench JSON line in {path}")


def index_build_sec(path):
    """The session cluster-index build is the largest single job in the
    suite but runs OUTSIDE the timed reps (amortized across the three
    dedup-cluster queries); lift it from the forensics stderr line so its
    scaling is diffable mechanically per leg (r9 verdict)."""
    with open(path) as f:
        for line in f:
            m = re.search(r"cluster-index build ([0-9.]+) s", line)
            if m:
                return float(m.group(1))
    return None


def gate_models_build_sec(path):
    """The curation_gate slot's session-scoped (LM, BPE) model build runs
    OUTSIDE the timed reps (clusterIndex precedent) — lift its forensics
    line so the amortized cost scales on the record too (r13)."""
    with open(path) as f:
        for line in f:
            m = re.search(r"gate-models build ([0-9.]+) s", line)
            if m:
                return float(m.group(1))
    return None


def health(path, bench_json):
    """Per-leg box-health block (r15 verdict #2): load average at launch,
    fresh-page supply rate (MB/s, 512 MB direct-buffer touch), and JVM
    uptime at main entry (bills the pinned-heap pre-touch). Emitted by
    graft.Bench as a [bench] health forensics line and embedded in the
    JSON line's "health" field; parse either so pre-r16 logs degrade to
    None instead of crashing."""
    with open(path) as f:
        for line in f:
            m = re.search(
                r"\[bench\] health load_avg=([0-9.]+) "
                r"pagetouch_mb_s=(\d+) jvm_boot_ms=(\d+)", line)
            if m:
                return {"load_avg": float(m.group(1)),
                        "pagetouch_mb_s": int(m.group(2)),
                        "jvm_boot_ms": int(m.group(3))}
    h = bench_json.get("h")
    if isinstance(h, list) and len(h) in (3, 4):
        # compact positional form [load(1dp), mbs, boot_s(, wave_reruns)]
        # — the driver line's 1980-char budget can't afford named keys;
        # the 4th element (r21) is emitted only when the leg's wave
        # re-run pass fired, i.e. when per-query medians may be polluted
        return {"load_avg": h[0], "pagetouch_mb_s": h[1],
                "jvm_boot_ms": h[2] * 1000,
                "wave_reruns": h[3] if len(h) == 4 else 0}
    return None


def health_gate(h, gap=None):
    """The r15 evidence: the sick box supplied fresh pages at ~240 MB/s
    aggregate (healthy: multiple GB/s) and the hot driver leg launched at
    load 6.3 (untouched queries +25%). Gate thresholds sit an order of
    magnitude inside both failure signatures. Two pinned-leg caveats
    (r16, sharpened r17): a pinned-heap leg's OWN AlwaysPreTouch (a)
    burns minutes of many-thread SYS before main runs, so the load read
    at main entry is self-contaminated, and (b) drains the host's fast
    page pool, so the boot-time page-supply probe reads the PERMANENT
    ~200 MB/s first-touch rate of this host class — not a sick-box
    signal (the r16/r17 pinned legs read 111-189 at boot and then ran
    clean in-band suites). A pinned leg (boot > 20 s — any pretouch
    takes >= 25 s, a fast-boot driver leg ~0.3 s) is therefore judged by
    the page supply its queries actually saw: the in-run gap-health
    MEDIAN, falling back to the boot probe only when no gap trace
    exists (pre-r16 jar)."""
    if h is None:
        return "MISSING: no health block (pre-r16 jar?)"
    bad = []
    pinned = h["jvm_boot_ms"] is not None and h["jvm_boot_ms"] > 20000
    if pinned and gap is not None:
        if gap["median_mb_s"] < 1000:
            bad.append(f"in-run gap-health median {gap['median_mb_s']} "
                       f"MB/s < 1000 (pinned leg judged by its in-run "
                       f"supply; boot probe {h['pagetouch_mb_s']} reads "
                       f"the drained-pool rate)")
    elif h["pagetouch_mb_s"] is not None and h["pagetouch_mb_s"] < 1000:
        bad.append(f"page supply {h['pagetouch_mb_s']} MB/s < 1000 "
                   f"(r15 sick box: ~240)")
    if (h["load_avg"] is not None and h["load_avg"] > 2.0 and not pinned):
        bad.append(f"load_avg {h['load_avg']} > 2.0 at launch "
                   f"(r15 hot leg: 6.3)")
    if not bad:
        return ("pass (pinned leg: in-run gap median "
                f"{gap['median_mb_s']} MB/s)" if pinned and gap is not None
                else "pass")
    return "FAIL: " + "; ".join(bad)


def _median(vals):
    s = sorted(vals)
    return s[len(s) // 2] if s else None


def rep_stats(path):
    """Per-query rep-level signals from the forensics lines: wall times
    and the in-task GC ratio (taskGc/task — the wave signature: a
    throttle window bills 6-10x task-CPU as GC at identical task
    counts). Used to corroborate a low gap sample."""
    walls, ratios = {}, {}
    with open(path) as f:
        for line in f:
            m = re.search(
                r"\[bench\] (\S+) rep\d+ ([0-9.]+) s gc=\d+ ms "
                r"task=(\d+)ms taskGc=(\d+)ms", line)
            if m:
                q = m.group(1)
                walls.setdefault(q, []).append(float(m.group(2)))
                ratios.setdefault(q, []).append(
                    int(m.group(4)) / max(int(m.group(3)), 1))
    return walls, ratios


def gap_health(path):
    """Per-query page-supply samples from the untimed gaps (r16): the
    slow-page-supply state strikes in waves, so the boot block alone
    cannot attribute a polluted median. r17 de-cliffs the detector (the
    r16 rule, gap < median/10, missed curation_recipe's 169 MB/s against
    a 165.7 cutoff by 2% — a cliff edge that blessed a polluted number):
    a query is a CANDIDATE at gap < median/5, and is labeled wave-hit
    only when the rep-level record corroborates it — in-task GC ratio an
    outlier against the leg's own median, or a >3x rep spread with real
    absolute swing. Candidates whose reps are clean are named separately
    (gap_low_unconfirmed): the gap sample alone is noisy at wave edges
    (r16: four sub-1000 gaps with flat reps)."""
    samples = {}
    with open(path) as f:
        for line in f:
            m = re.search(r"\[bench\] gap_health (\S+) mbs=(\d+)", line)
            if m:
                samples[m.group(1)] = int(m.group(2))
    if not samples:
        return None
    vals = sorted(samples.values())
    med = vals[len(vals) // 2]
    walls, ratios = rep_stats(path)
    max_ratio = {q: max(r) for q, r in ratios.items()}
    leg_ratio_med = _median(max_ratio.values()) or 0.0

    def corroborated(q):
        if q not in walls:
            return True  # no rep record (pre-r16 log): keep the old rule
        # floor 0.05: leg p90 of the max in-task-GC ratio runs 0.01-0.06
        # on the r16 record; the wave that hit ALL of a query's reps
        # (dedup_canonical_best, flat 25-27 s reps) shows 0.07 where the
        # leg median is ~0 — spread can't see a whole-block wave, the GC
        # ratio can
        if max_ratio.get(q, 0.0) > max(0.05, 3 * leg_ratio_med):
            return True
        w = walls[q]
        return (len(w) >= 2 and max(w) / max(min(w), 1e-9) > 3
                and max(w) - min(w) > 0.5)

    candidates = sorted(q for q, v in samples.items() if v < med / 5)
    return {"median_mb_s": med, "min_mb_s": vals[0], "max_mb_s": vals[-1],
            "wave_hit_queries": [q for q in candidates if corroborated(q)],
            "gap_low_unconfirmed": [q for q in candidates
                                    if not corroborated(q)]}


def wave_rerun(path):
    """Clean-window re-measurements appended by Bench's automated wave
    re-run pass (r16 verdict #3): flagged queries re-queued once at leg
    end, far from the wave. Returns {query: {clean_med_sec,
    rerun_gap_mbs, flagged_gap_mbs}}; the comparator prefers the clean
    median when the re-run's own gap sample is healthy, with both
    numbers on the record."""
    out = {}
    with open(path) as f:
        for line in f:
            m = re.search(
                r"\[bench\] wave_rerun (\S+) med=([0-9.]+) s "
                r"gap_mbs=(\d+) \(flagged: gap=(\d+)", line)
            if m:
                out[m.group(1)] = {
                    "clean_med_sec": float(m.group(2)),
                    "rerun_gap_mbs": int(m.group(3)),
                    "flagged_gap_mbs": int(m.group(4))}
    return out or None


# mirrored from graft.Bench.aliasPrefixes — change one, change both
ALIAS_PREFIXES = ["curation_", "pipeline_", "dedup_", "fuzzy_", "text_",
                  "doc_", "ann_", "mm_", "ts_", "q_"]


def canonicalize(qa, qb):
    """Undo Bench's contingency alias rung: a leg whose driver line
    overflowed the full-name budget carries prefix-stripped keys. Restore
    each side's keys against the OTHER side's full names (unique
    prefix-restorations only — an ambiguous or unknown short key stays as
    emitted rather than being guessed)."""
    def restore(short_map, full_keys):
        strip = {}
        for fk in full_keys:
            for p in ALIAS_PREFIXES:
                if fk.startswith(p):
                    strip.setdefault(fk[len(p):], []).append(fk)
                    break
        return {
            (strip[k][0] if k not in full_keys and len(strip.get(k, [])) == 1
             else k): v
            for k, v in short_map.items()}
    return restore(qa, set(qb)), restore(qb, set(qa))


def prefer_rerun(qmap, reruns, gap):
    """Substitute each wave-flagged query's clean-window re-run median
    when the re-run's own gap sample is healthy (>= a fifth of the leg
    median — the same bar that flags). Returns (updated map,
    {query: substituted_reason}); the original in-suite number stays on
    the record in the leg's wave_rerun block, and the reason names WHY
    the substitution happened (r17 verdict #5: a query can sit in
    gap_low_unconfirmed yet still have its clean re-run used — the
    cleaner window is preferred whenever the re-run's own gap is
    healthy, wave label or not; without the reason field that read as a
    contradiction).

    Requires a gap trace: with no per-query gap samples the "healthy
    re-run" bar is unevaluable, and substituting unconditionally would
    bless any number (r17 ADVICE: gap=None collapsed the gate to
    `rerun_gap_mbs >= 0`, so the documented health check never fired) —
    the in-suite medians are kept unchanged instead."""
    if not reruns:
        return qmap, {}
    med = (gap or {}).get("median_mb_s")
    if not med:
        return qmap, {}
    wave_hit = set((gap or {}).get("wave_hit_queries") or [])
    used = {}
    out = dict(qmap)
    for q, r in reruns.items():
        if q in out and r["rerun_gap_mbs"] >= med / 5:
            out[q] = r["clean_med_sec"]
            used[q] = (
                "wave_labeled: in-suite reps corroborated a wave; "
                "clean re-run gap healthy" if q in wave_hit else
                "clean_window_preferred: gap candidate unconfirmed by "
                "reps, but the re-run ran on a healthy window — the "
                "cleaner measurement wins either way")
    return out, used


def main():
    small_path, big_path, data_ratio, out_path = sys.argv[1:5]
    data_ratio = float(data_ratio)
    small, big = bench_line(small_path), bench_line(big_path)
    qs, qb = canonicalize(small["queries"], big["queries"])
    gap_small, gap_big = gap_health(small_path), gap_health(big_path)
    rr_small, rr_big = wave_rerun(small_path), wave_rerun(big_path)
    qs_eff, used_small = prefer_rerun(qs, rr_small, gap_small)
    qb_eff, used_big = prefer_rerun(qb, rr_big, gap_big)
    common = sorted(set(qs_eff) & set(qb_eff))
    ratios = {}
    for q in common:
        s, b = qs_eff[q], qb_eff[q]
        ratios[q] = round(b / s, 2) if s > 0 else None
    vals = sorted(r for r in ratios.values() if r is not None)
    median = vals[len(vals) // 2] if vals else None
    rnd = re.search(r"_r(\d+)", out_path)
    h_small, h_big = health(small_path, small), health(big_path, big)
    gates = {"small": health_gate(h_small, gap_small),
             "big": health_gate(h_big, gap_big)}
    out = {
        "round": int(rnd.group(1)) if rnd else None,
        "data_ratio": data_ratio,
        "health_gate": gates,
        "small": {"sf_dir": small.get("sf"), "total_sec": small["value"],
                  "health": h_small,
                  "gap_health": gap_small,
                  "wave_rerun": rr_small,
                  "index_build_sec": index_build_sec(small_path),
                  "gate_models_build_sec": gate_models_build_sec(small_path),
                  "queries": qs},
        "big": {"sf_dir": big.get("sf"), "total_sec": big["value"],
                "health": h_big,
                "gap_health": gap_big,
                "wave_rerun": rr_big,
                "index_build_sec": index_build_sec(big_path),
                "gate_models_build_sec": gate_models_build_sec(big_path),
                "queries": qb},
        "total_ratio": round(big["value"] / small["value"], 2),
        "median_query_ratio": median,
        # per-query ratios use each leg's clean-window re-run medians
        # where a wave was flagged AND re-measured on a healthy gap
        # (wave_rerun_used maps each substituted query to its
        # substituted_reason; in-suite numbers stay in each leg's
        # queries/wave_rerun blocks)
        "wave_rerun_used": {"small": used_small, "big": used_big},
        "query_ratios": ratios,
        # ratio > 1.5x the data ratio = superlinear beyond noise; ratio
        # below 0.3x the data ratio usually means fixed-cost-dominated
        # (sub-second query, overhead floor) -- both worth eyes-on
        "superlinear": {q: r for q, r in ratios.items()
                        if r is not None and r > 1.5 * data_ratio},
        "fixed_cost_dominated": {q: r for q, r in ratios.items()
                                 if r is not None and r < 0.3 * data_ratio},
    }
    # a failed gate doesn't block the artifact (the r15 disclosure was
    # only possible because the polluted legs stayed on the record) — it
    # labels it so no reader can mistake a host measurement for an
    # engine measurement, and the comparator prints the warning loudly
    failed_gates = {k: v for k, v in gates.items()
                    if not v.startswith("pass")}
    if failed_gates:
        out["health_warning"] = (
            "BOX HEALTH GATE FAILED — wall times in this artifact measure "
            "the host, not the engine; do not compare across rounds: "
            + "; ".join(f"{k}: {v}" for k, v in sorted(failed_gates.items())))
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    if failed_gates:
        print(f"*** {out['health_warning']}")
    print(f"total {small['value']:.1f}s -> {big['value']:.1f}s "
          f"(x{out['total_ratio']}) median query ratio {median} "
          f"superlinear {len(out['superlinear'])} "
          f"health_gate small={gates['small']} big={gates['big']}")


def selftest():
    """Pin the wave detector's de-cliffed behavior on a synthetic
    forensics file built from the r16 evidence (run by ToolsSelftestSpec
    in the sbt suite, so a detector regression fails the build):
      - curation_recipe: gap 169 vs leg median 1657 (the r16 near-miss —
        median/10 = 165.7 blessed it by 2%) WITH the in-task GC
        signature -> labeled;
      - dedup_clusters: gap 250 (candidate under median/5) but flat reps
        and no GC -> gap_low_unconfirmed, NOT labeled;
      - dedup_embed: gap 366 (above median/5) -> not even a candidate;
    plus the wave_rerun parse/preference and the alias round-trip."""
    import tempfile
    import os
    lines = []
    # ten background queries give the leg its median gap (~1657) and a
    # flat rep-ratio baseline
    for i in range(10):
        lines.append(f"[bench] gap_health bg{i} mbs={1600 + i * 12}")
        lines.append(f"[bench] bg{i} rep1 0.40 s gc=0 ms task=9000ms "
                     "taskGc=10ms sched=50ms ntasks=50")
        lines.append(f"[bench] bg{i} rep2 0.41 s gc=0 ms task=9100ms "
                     "taskGc=12ms sched=50ms ntasks=50")
    lines += [
        "[bench] gap_health curation_recipe mbs=169",
        "[bench] curation_recipe rep1 27.844 s gc=4838 ms task=144874ms "
        "taskGc=147769ms sched=5773ms ntasks=251",
        "[bench] curation_recipe rep2 27.800 s gc=4000 ms task=140000ms "
        "taskGc=120000ms sched=5000ms ntasks=251",
        "[bench] gap_health dedup_clusters mbs=250",
        "[bench] dedup_clusters rep1 0.52 s gc=0 ms task=11000ms "
        "taskGc=20ms sched=60ms ntasks=60",
        "[bench] dedup_clusters rep2 0.53 s gc=0 ms task=11100ms "
        "taskGc=21ms sched=60ms ntasks=60",
        "[bench] gap_health dedup_embed mbs=366",
        "[bench] dedup_embed rep1 0.95 s gc=0 ms task=15000ms "
        "taskGc=30ms sched=70ms ntasks=70",
        "[bench] wave_rerun curation_recipe med=2.451 s gap_mbs=1702 "
        "(flagged: gap=169 reps=27.84/27.80/28.73)",
    ]
    with tempfile.NamedTemporaryFile("w", suffix=".log",
                                     delete=False) as f:
        f.write("\n".join(lines) + "\n")
        path = f.name
    try:
        g = gap_health(path)
        assert g["wave_hit_queries"] == ["curation_recipe"], g
        assert g["gap_low_unconfirmed"] == ["dedup_clusters"], g
        assert "dedup_embed" not in (g["wave_hit_queries"]
                                     + g["gap_low_unconfirmed"]), g
        rr = wave_rerun(path)
        assert rr == {"curation_recipe": {
            "clean_med_sec": 2.451, "rerun_gap_mbs": 1702,
            "flagged_gap_mbs": 169}}, rr
        qmap, used = prefer_rerun(
            {"curation_recipe": 27.844, "q3_join": 2.9}, rr, g)
        assert sorted(used) == ["curation_recipe"] and \
            qmap["curation_recipe"] == 2.451 and qmap["q3_join"] == 2.9, \
            (qmap, used)
        # the substitution carries its reason: curation_recipe IS
        # wave-labeled here, so the reason names the wave
        assert used["curation_recipe"].startswith("wave_labeled"), used
        # an unconfirmed candidate's healthy re-run is still preferred,
        # but under the clean_window_preferred reason (the r17 ann_ivf
        # read: "unconfirmed" + substituted looked like a contradiction)
        rr2 = dict(rr, dedup_clusters={"clean_med_sec": 0.41,
                                       "rerun_gap_mbs": 1650,
                                       "flagged_gap_mbs": 250})
        qmap3, used3 = prefer_rerun({"dedup_clusters": 0.52}, rr2, g)
        assert used3["dedup_clusters"].startswith(
            "clean_window_preferred"), used3
        assert qmap3["dedup_clusters"] == 0.41, qmap3
        # a rerun that itself landed in a wave is NOT preferred
        sick = {"curation_recipe": dict(rr["curation_recipe"],
                                        rerun_gap_mbs=150)}
        qmap2, used2 = prefer_rerun({"curation_recipe": 27.844}, sick, g)
        assert used2 == {} and qmap2["curation_recipe"] == 27.844, \
            (qmap2, used2)
        # degraded/absent gap trace: the health bar is unevaluable, so
        # NOTHING is substituted (r17 ADVICE: gap=None used to collapse
        # the gate to rerun_gap_mbs >= 0 and substitute unconditionally)
        qmap4, used4 = prefer_rerun({"curation_recipe": 27.844}, rr, None)
        assert used4 == {} and qmap4["curation_recipe"] == 27.844, \
            (qmap4, used4)
        # alias round-trip: one aliased leg restored against the full leg;
        # ambiguous short keys stay as emitted
        full = {"ts_ewma": 1.0, "q_funnel": 2.0, "dedup_exact": 3.0}
        short = {"ewma": 1.1, "funnel": 2.1, "exact": 3.1}
        ra, rb = canonicalize(short, full)
        assert set(ra) == set(full) and rb == full, (ra, rb)
        amb = {"corr": 1.0}
        ra2, _ = canonicalize(amb, {"q_corr": 1.0, "ts_corr": 2.0})
        assert set(ra2) == {"corr"}, ra2
        # pinned-leg gate: boot probe reads the drained-pool rate, the
        # in-run gap median is the criterion (r17 legs: 178 at boot,
        # 1692 in-run, suite in band)
        pinned = {"load_avg": 20.9, "pagetouch_mb_s": 178,
                  "jvm_boot_ms": 136114}
        assert health_gate(pinned, {"median_mb_s": 1692}).startswith(
            "pass"), health_gate(pinned, {"median_mb_s": 1692})
        assert health_gate(pinned, {"median_mb_s": 400}).startswith(
            "FAIL"), "a pinned leg with a sick in-run median must fail"
        fast_sick = {"load_avg": 0.5, "pagetouch_mb_s": 240,
                     "jvm_boot_ms": 300}
        assert health_gate(fast_sick, None).startswith("FAIL")
        fast_hot = {"load_avg": 6.3, "pagetouch_mb_s": 2000,
                    "jvm_boot_ms": 300}
        assert health_gate(fast_hot, None).startswith("FAIL")
    finally:
        os.unlink(path)
    print("selftest pass")


if __name__ == "__main__":
    if len(sys.argv) == 2 and sys.argv[1] == "--selftest":
        selftest()
    else:
        main()
