#!/usr/bin/env python3
"""Round-over-round bench diff that tells "regressed" from "noisy".

Why: round 7's verdict found q93 (1.48->1.95 s) and q81 (0.43->0.91 s)
moved >30% between rounds with no code cause, and the per-round
comparison had no way to adjudicate — min-of-3 absolutes at the ~1 s
scale jitter hard on a shared sandbox. This tool makes the noise floor
MEASURED instead of guessed:

  calibrate: two bench runs of IDENTICAL code (same commit, same sf)
      -> per-query cross-run swing |a-b| plus global percentiles,
      written as a noise profile JSON. Run with the scale/processor
      profiles disabled so the headline queries are the measurement:
        SPARK_GRAFT_SCALE_BENCH=0 SPARK_GRAFT_PROC_BENCH=0 \
          SPARK_GRAFT_BENCH_OUT=runA.json sbt "runMain graft.Bench"
      (twice), then:
        tools/check_bench.py calibrate runA.json runB.json \
          -o bench_history/noise_sf0.1.json

  compare: OLD.json NEW.json [--noise noise.json]
      -> per-query classification. A delta is a REGRESSION only when it
      exceeds every component of the noise band:
        band(q) = max(abs_floor,
                      rel_floor * old(q),
                      noise_mult * measured_swing(q),   # from --noise
                      spread_mult * (spread_old(q) + spread_new(q)))
      spread_* comes from the bench line's "spread" object
      ([min, median, max] of the iterations, emitted since round 8);
      rounds before r8 have no spread and contribute 0 there.

Inputs are full bench lines (bench_result.json / bench_history/*.json),
NOT the driver's BENCH_rN.json wrappers (those keep only a 2 KB stdout
tail). Archive each round's bench_result.json under bench_history/.

Exit code: 0 = no regressions beyond the noise band, 1 = at least one.
"""
import argparse
import json
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    if "queries" not in d:
        # exit 3 = "could not analyze" — distinct from every verdict code
        # (compare: 1 = regression; anomaly: 1 = window, 2 = poisoned min),
        # so a caller gating on the verdict can't mistake a bad input for
        # a benign result
        print(f"{path}: not a full bench line (no 'queries' key) — "
              "use bench_result.json, not a driver BENCH_rN.json wrapper",
              file=sys.stderr)
        sys.exit(3)
    return d


def spread_width(d, q):
    s = d.get("spread", {}).get(q)
    return (s[2] - s[0]) if s else 0.0


def calibrate(args):
    a, b = load(args.runs[0]), load(args.runs[1])
    qa, qb = a["queries"], b["queries"]
    common = sorted(set(qa) & set(qb))
    swings = {}
    for q in common:
        if qa[q] < 0 or qb[q] < 0:
            continue
        swings[q] = round(abs(qa[q] - qb[q]), 3)
    vals = sorted(swings.values())
    rels = sorted(abs(qa[q] - qb[q]) / max(qa[q], 1e-9) for q in swings)

    def pct(xs, p):
        return round(xs[min(len(xs) - 1, int(p * len(xs)))], 3) if xs else 0.0
    prof = {
        "runs": args.runs,
        "n_queries": len(swings),
        "swing": swings,
        "abs_p50": pct(vals, 0.50), "abs_p90": pct(vals, 0.90),
        "abs_p99": pct(vals, 0.99), "abs_max": pct(vals, 1.0),
        "rel_p50": pct(rels, 0.50), "rel_p90": pct(rels, 0.90),
        "rel_max": pct(rels, 1.0),
    }
    out = json.dumps(prof, indent=1)
    if args.output:
        with open(args.output, "w") as f:
            f.write(out + "\n")
        print(f"wrote {args.output}: n={prof['n_queries']} "
              f"abs_p50={prof['abs_p50']} abs_p90={prof['abs_p90']} "
              f"abs_max={prof['abs_max']} rel={prof['rel_p50']}/"
              f"{prof['rel_p90']}/{prof['rel_max']} (p50/p90/max)")
    else:
        print(out)
    return 0


def compare(args):
    old, new = load(args.old), load(args.new)
    qo, qn = old["queries"], new["queries"]
    # Machine-epoch ratio (round 9): both lines may carry a "machine"
    # probe (fixed synthetic workload timed per run). A ratio far from
    # 1.0 means the HOST changed speed between the runs — absolute
    # deltas then measure the machine, not the code (the r8 q74 lesson:
    # an identical plan read 1.6x its recorded time a round later).
    # --epoch-normalize rescales OLD by the ratio before banding.
    # methodology guard (round 10): interleaved min-across-passes and
    # back-to-back min-of-N are different statistics (interleaved pays
    # in-sweep costs in every pass; back-to-back gets warm-cache runs),
    # so absolute deltas across the boundary partly measure the method
    if bool(old.get("interleaved")) != bool(new.get("interleaved")):
        print("warning: comparing a back-to-back line with an "
              "interleaved line — deltas partly reflect the iteration "
              "methodology, not the code", file=sys.stderr)
    epoch_ratio = None
    norm_ratio = None  # set only when --epoch-normalize is active
    mo, mn = old.get("machine"), new.get("machine")
    if mo and mn and mo.get("st_sec") and mn.get("st_sec"):
        epoch_ratio = mn["st_sec"] / mo["st_sec"]
        if getattr(args, "epoch_normalize", False):
            norm_ratio = epoch_ratio
            qo = {q: v * epoch_ratio if v and v > 0 else v
                  for q, v in qo.items()}
        elif abs(epoch_ratio - 1.0) > 0.15:
            print(f"warning: machine epoch ratio {epoch_ratio:.2f} "
                  f"(new st {mn['st_sec']} / old st {mo['st_sec']}) — "
                  "absolute deltas reflect the host, not the code; "
                  "consider --epoch-normalize or a same-day old-code rerun",
                  file=sys.stderr)
    if getattr(args, "epoch_normalize", False) and norm_ratio is None:
        # an EXPLICITLY requested normalization that cannot run must not
        # silently degrade to raw-seconds banding across a possible
        # host-speed change — that is the exact failure the flag exists
        # to prevent (and the silent no-op recorded a false required-
        # check failure in the first r10 exit evidence). Exit 3 =
        # could-not-analyze, distinct from every verdict code.
        missing = "OLD" if not (mo and mo.get("st_sec")) else "NEW"
        print(f"error: --epoch-normalize requested but the {missing} "
              "line carries no machine probe — normalization is "
              "impossible; re-pick a probe-bearing baseline or drop "
              "the flag to compare raw seconds", file=sys.stderr)
        sys.exit(3)
    noise = {}
    noise_meta = {}
    if args.noise:
        with open(args.noise) as f:
            prof = json.load(f)
        noise = prof.get("swing", {})
        noise_meta = {k: prof[k] for k in ("abs_p90", "abs_max", "rel_p90")
                      if k in prof}
    # a query absent from the calibration (new this round, or errored in a
    # calibration run) falls back to the profile's p90 swing
    fallback_swing = noise_meta.get("abs_p90", 0.0)

    rows = []
    for q in sorted(set(qo) | set(qn)):
        o, n = qo.get(q), qn.get(q)
        # error checks FIRST: a query new this round whose iterations all
        # failed (n < 0) must be an exit-affecting error, not a benign
        # "added" (the original order silently shipped broken new queries)
        if n is not None and n < 0:
            cls = "still_error" if (o is not None and o < 0) else "error"
            # still_error = broken in BOTH runs: reported loudly but not a
            # REGRESSION (nothing changed); the bench's own errors[] list
            # is the gate for standing breakage
            rows.append({"query": q, "class": cls, "old": o, "new": n})
            continue
        if o is None:
            rows.append({"query": q, "class": "added", "new": n})
            continue
        if n is None:
            rows.append({"query": q, "class": "removed", "old": o})
            continue
        if o < 0:
            rows.append({"query": q, "class": "fixed", "new": n})
            continue
        # when normalizing epochs, everything measured in OLD-epoch
        # seconds must be rescaled too, or the band is understated by the
        # ratio (a 1.6x-slower host would flag pure jitter as regression):
        # the old run's iteration spread scales exactly; the calibrated
        # noise profile's epoch is unknown, so scale it by max(ratio, 1)
        # — never SHRINK a band because the host got faster
        old_scale = norm_ratio if norm_ratio else 1.0
        noise_scale = max(norm_ratio, 1.0) if norm_ratio else 1.0
        band = max(
            args.abs_floor,
            args.rel_floor * o,
            args.noise_mult * noise.get(q, fallback_swing) * noise_scale,
            args.spread_mult * (spread_width(old, q) * old_scale +
                                spread_width(new, q)),
        )
        delta = n - o
        if delta > band:
            cls = "regression"
        elif delta < -band:
            cls = "improvement"
        else:
            cls = "noise"
        rows.append({"query": q, "class": cls, "old": o, "new": n,
                     "delta": round(delta, 3), "band": round(band, 3)})

    counts = {}
    for r in rows:
        counts[r["class"]] = counts.get(r["class"], 0) + 1
    interesting = [r for r in rows if r["class"] not in ("noise",)]
    if args.all:
        interesting = rows
    for r in interesting:
        print(json.dumps(r))
    print(json.dumps({"summary": counts,
                      "old_total": old.get("value"),
                      "old_total_normalized":
                          round(old["value"] * norm_ratio, 3)
                          if norm_ratio and old.get("value") else None,
                      "new_total": new.get("value"),
                      "noise_profile": args.noise or None,
                      "noise_meta": noise_meta or None,
                      "machine_epoch_ratio":
                          round(epoch_ratio, 3) if epoch_ratio else None,
                      "epoch_normalized":
                          bool(getattr(args, "epoch_normalize", False))
                          and epoch_ratio is not None}))
    # removed queries (lost coverage) surface on stderr so a rename/drop
    # can't pass silently, but don't fail the exit by themselves
    for r in rows:
        if r["class"] == "removed":
            print(f"note: query removed since OLD run: {r['query']}",
                  file=sys.stderr)
        if r["query"].startswith("q106b_"):
            print(f"note: {r['query']}: r15 capped the needle set at "
                  "doc_id < 500 (less work, same oracle), so deltas across "
                  "r15 are not comparable", file=sys.stderr)
    return 1 if counts.get("regression") or counts.get("error") else 0


def growth(args):
    """sf-to-sf growth table: NEW (larger sf) vs OLD (smaller sf), one
    row per query with the time ratio. A shipped path should grow about
    linearly with the data factor; --flag-above names the suspects
    (default 1.5 x the data factor, the round-8 verdict's bar)."""
    old, new = load(args.old), load(args.new)
    qo, qn = old["queries"], new["queries"]
    flag_at = args.flag_above if args.flag_above else 1.5 * args.data_factor
    rows = []
    for q in sorted(set(qo) & set(qn)):
        o, n = qo[q], qn[q]
        if o is None or n is None or o < 0 or n < 0:
            rows.append({"query": q, "class": "error", "old": o, "new": n})
            continue
        # sub-second queries are overhead-dominated at BOTH sfs; their
        # ratio measures scheduling, not the operator — still reported,
        # but only flagged when the new-side absolute is material
        ratio = n / o if o > 0 else float("inf")
        cls = ("flagged" if ratio > flag_at and n >= args.min_new_sec
               else "ok")
        rows.append({"query": q, "class": cls, "old": o, "new": n,
                     "ratio": round(ratio, 2)})
    flagged = [r for r in rows if r["class"] != "ok"]
    shown = rows if args.all else flagged
    for r in sorted(shown, key=lambda r: -r.get("ratio", 0)):
        print(json.dumps(r))
    ratios = sorted(r["ratio"] for r in rows if "ratio" in r)
    summary = {
        "summary": {
            "n": len(rows), "flagged": len(flagged),
            "data_factor": args.data_factor, "flag_above": round(flag_at, 2),
            "ratio_p50": round(ratios[len(ratios) // 2], 2) if ratios else None,
            "ratio_p90": round(ratios[int(0.9 * len(ratios))], 2) if ratios else None,
            "ratio_max": round(ratios[-1], 2) if ratios else None,
            "old_total": old.get("value"), "new_total": new.get("value"),
        }
    }
    print(json.dumps(summary))
    return 1 if flagged else 0


def _analyze_passes(names, passes, probes, args):
    """Core of the anomaly detector over ONE (names-in-run-order,
    pass-matrix, boundary-stamps) section; shared by the headline
    queries matrix and (since round 11) the scale block's per-case
    per-leg matrices."""
    flagged = {}  # pass index -> run-order indices of flagged rows
    for qi, q in enumerate(names):
        ts = passes[q]
        ok = [t for t in ts if t >= 0]
        if not ok:
            continue
        mn = min(ok)
        for i, t in enumerate(ts):
            if t >= 0 and t > args.ratio * mn and t - mn > args.abs_floor:
                flagged.setdefault(i, []).append(qi)
    blocks = []
    for i, idxs in sorted(flagged.items()):
        idx_set = set(idxs)

        def neutral(qi):
            # a row that ERRORED in this pass (or has no usable min)
            # gives no evidence either way — it must not split a load
            # window into sub-min_block fragments
            ts = passes[names[qi]]
            return (i >= len(ts) or ts[i] < 0 or
                    not any(t >= 0 for t in ts))
        run = []
        for qi in list(range(len(names))) + [None]:
            if qi is not None and qi in idx_set:
                run.append(qi)
                continue
            if qi is not None and run and neutral(qi):
                continue  # gap carries no evidence; run stays open
            if len(run) >= args.min_block:
                qs = [names[x] for x in run]
                blocks.append({
                    "pass": i, "queries": qs,
                    "slowdowns": {q: round(passes[q][i] /
                                           max(min(t for t in passes[q]
                                                   if t >= 0), 1e-9), 1)
                                  for q in qs},
                })
            run = []
    probe_suspects = []
    start_suspect = set()
    if probes:
        mnp = min(probes)
        # stamp k is taken at the START of pass k (0-based); stamp k+1
        # at its end -- an elevated stamp implicates both passes it
        # borders (the load window could span either side of it)
        elevated = [k for k, v in enumerate(probes)
                    if v > args.probe_ratio * mnp]
        probe_suspects = sorted({pi for k in elevated for pi in (k - 1, k)
                                 if 0 <= pi < len(probes) - 1})
        # for POISONING only a pass whose own START stamp is elevated is
        # suspect — the looser bordering rule above is informational
        start_suspect = {k for k, v in enumerate(probes[:-1])
                         if v > args.probe_ratio * mnp}
    # min poisoned: the row sits inside a flagged block in some pass AND
    # the pass its min came from is itself load-suspect per the stamps —
    # conservative by design; the remedy is a re-run.
    block_qs = {q for b in blocks for q in b["queries"]}

    def argmin_pass(q):
        ts = passes[q]
        ok = [(t, i) for i, t in enumerate(ts) if t >= 0]
        return min(ok)[1] if ok else -1
    poisoned = sorted(q for q in block_qs if argmin_pass(q) in start_suspect)
    n_cells = sum(len(v) for v in flagged.values())
    return blocks, poisoned, n_cells, probe_suspects


def anomaly(args):
    """Transient-host-load detector over ONE interleaved bench line.

    Round 9's official record read 208 s for a 117 s engine: a
    minutes-long external load window inflated the contiguous
    alphabetical block q43->q49 in every back-to-back iteration, and
    min-of-3 couldn't filter it. Since round 10 Bench interleaves at
    the suite level and emits the raw per-pass matrix ("passes") plus
    pass-boundary load stamps ("pass_probes"); since round 11 the
    scale profile does the same inside the "scale" object (per-case
    "x1_passes"/"xr_passes" in run order + "scale_probes"), and this
    mode analyzes BOTH sections. It flags:

      * per-(row, pass) cells far above the row's own cross-pass min
        (ratio > --ratio AND delta > --abs-floor),
      * CONTIGUOUS run-order blocks of >= --min-block flagged rows
        within one pass -- the load-window signature (independent
        per-row jitter doesn't line up in run order),
      * elevated pass stamps (> --probe-ratio x the min stamp).

    The reported min stays valid as long as at least one pass of each
    row is clean; exit 1 when a block is found in either section so
    the round's record can note the window, exit 2 if some block row's
    min itself came from a load-suspect pass (re-run), 3 when neither
    section carries an analyzable matrix."""
    d = load(args.run)
    sections = []
    passes = d.get("passes")
    if passes:
        sections.append(("queries", sorted(passes), passes,
                         d.get("pass_probes") or []))
    sc = d.get("scale") or {}
    sc_passes = {}
    for name, obj in (sc.get("queries") or {}).items():
        # insertion order IS run order: each pass times every case's
        # x1 leg then its xr leg, in emitted case order
        if isinstance(obj, dict) and "x1_passes" in obj:
            sc_passes[name + ".x1"] = obj["x1_passes"]
            sc_passes[name + ".xr"] = obj.get("xr_passes", [])
    if sc_passes:
        sections.append(("scale", list(sc_passes), sc_passes,
                         sc.get("scale_probes") or []))
    if not sections:
        # exit 3 (NOT 1): "could not analyze" must be distinguishable
        # from the benign "window flagged, min valid" verdict — a caller
        # accepting exit 1 would otherwise record an anomaly check as
        # done when no analysis ran at all (pre-r10 line, iters=1 run)
        print(f"{args.run}: no 'passes' matrix and no scale pass "
              "matrices — produced by interleaved Bench runs (round "
              "10+; scale block round 11+) with iters >= 2",
              file=sys.stderr)
        return 3
    all_blocks, all_poisoned = [], []
    per_section = {}
    for label, names, matrix, probes in sections:
        blocks, poisoned, n_cells, probe_suspects = _analyze_passes(
            names, matrix, probes, args)
        for b in blocks:
            b["section"] = label
            print(json.dumps(b))
        all_blocks += blocks
        all_poisoned += poisoned
        per_section[label] = {
            "n_rows": len(names),
            "n_passes": max(len(v) for v in matrix.values()),
            "n_flagged_cells": n_cells, "blocks": len(blocks),
            "probe_suspect_passes": probe_suspects,
            "pass_probes": probes,
            "min_poisoned": poisoned,
        }
    # back-compat top-level fields mirror the queries section when
    # present (the pre-r11 shape test_check_bench.sh pins), else the
    # only section analyzed
    lead = per_section.get("queries") or per_section[sections[0][0]]
    print(json.dumps({"summary": {
        "n_queries": lead["n_rows"], "n_passes": lead["n_passes"],
        "n_flagged_cells": sum(v["n_flagged_cells"]
                               for v in per_section.values()),
        "blocks": len(all_blocks),
        "probe_suspect_passes": lead["probe_suspect_passes"],
        "pass_probes": lead["pass_probes"],
        "min_poisoned_queries": sorted(all_poisoned),
        "ratio": args.ratio, "min_block": args.min_block,
        "sections": per_section}}))
    return 2 if all_poisoned else (1 if all_blocks else 0)


def main():
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="mode", required=True)
    c = sub.add_parser("calibrate", help="two identical-code runs -> noise profile")
    c.add_argument("runs", nargs=2)
    c.add_argument("-o", "--output")
    g = sub.add_parser("growth", help="smaller-sf vs larger-sf growth table")
    g.add_argument("old", help="bench line at the smaller sf")
    g.add_argument("new", help="bench line at the larger sf")
    g.add_argument("--data-factor", type=float, default=10.0)
    g.add_argument("--flag-above", type=float, default=None,
                   help="flag ratio threshold (default 1.5 * data factor)")
    g.add_argument("--min-new-sec", type=float, default=1.0,
                   help="only flag when the larger-sf time is at least this")
    g.add_argument("--all", action="store_true")
    d = sub.add_parser("compare", help="old vs new bench line")
    d.add_argument("old")
    d.add_argument("new")
    d.add_argument("--noise", help="noise profile from calibrate")
    # defaults: abs floor covers sub-100ms absolute jitter always present
    # in a JVM; rel floor 0.25 protects sub-second queries where a single
    # GC pause is a large fraction; multipliers treat the measured
    # one-pair swing as a ~1-sigma-ish estimate (x3) and within-run
    # spread as a weak lower bound (x2)
    d.add_argument("--abs-floor", type=float, default=0.1)
    d.add_argument("--rel-floor", type=float, default=0.25)
    d.add_argument("--noise-mult", type=float, default=3.0)
    d.add_argument("--spread-mult", type=float, default=2.0)
    d.add_argument("--all", action="store_true", help="print noise rows too")
    d.add_argument("--epoch-normalize", action="store_true",
                   help="rescale OLD by the machine-probe st ratio before "
                        "banding (both lines must carry a 'machine' object)")
    a = sub.add_parser(
        "anomaly", help="flag transient-host-load windows in one "
                        "interleaved bench line (passes matrix)")
    a.add_argument("run", help="full bench line with a 'passes' matrix")
    # ratio 3 / floor 0.3 s: the r9 poisoning read 8-70x with multi-second
    # absolutes; genuine JVM jitter on these queries stays well under 3x
    # past a 0.3 s delta
    a.add_argument("--ratio", type=float, default=3.0)
    a.add_argument("--abs-floor", type=float, default=0.3)
    a.add_argument("--min-block", type=int, default=3,
                   help="contiguous flagged queries that make a block")
    # 2.0: JVM warmth wobbles the ~15 ms stamp up to ~1.5x on its own
    # (r10 runA/runB first-pass stamps); a real load window reads 7x+
    a.add_argument("--probe-ratio", type=float, default=2.0)
    args = p.parse_args()
    # crashes exit 3 ("could not analyze"), NEVER a verdict code: an
    # uncaught exception's default exit 1 collides with compare's
    # "regression" and anomaly's benign "window flagged, min valid", so
    # a gate treating those as tolerable would record a crashed check
    # as having run (round_exit.sh tolerates bench_anomaly rc==1)
    try:
        sys.exit({"calibrate": calibrate, "growth": growth,
                  "compare": compare, "anomaly": anomaly}[args.mode](args))
    except SystemExit:
        raise
    except Exception:
        import traceback
        traceback.print_exc()
        print(f"check_bench.py {args.mode}: crashed — exit 3 "
              "(could not analyze)", file=sys.stderr)
        sys.exit(3)


if __name__ == "__main__":
    main()
