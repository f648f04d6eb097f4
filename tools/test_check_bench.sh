#!/usr/bin/env bash
# Self-test for check_bench.py's anomaly exit contract (round 10):
#   0 = clean, 1 = load-window block flagged (per-query min still valid),
#   2 = some block query's min itself came from a load-suspect pass
#       (re-run the bench).
# Exercised on synthetic pass matrices because exit 2 should never occur
# in a healthy recorded line — without this test the path would be
# permanently unexecuted.
set -euo pipefail
cd "$(dirname "$0")/.."
W=$(mktemp -d /tmp/cbtest.XXXXXX)
trap 'rm -rf "$W"' EXIT

py() { python3 - "$@"; }

# clean: mild jitter only
py <<'EOF'
import json
json.dump({"queries": {},
           "passes": {f"q_{c}": [0.5, 0.52, 0.51] for c in "abcdefg"},
           "pass_probes": [0.015, 0.015, 0.016, 0.015]},
          open("/tmp/cbtest_clean.json", "w"))
EOF
rc=0; python3 tools/check_bench.py anomaly /tmp/cbtest_clean.json >/dev/null || rc=$?
test "$rc" -eq 0 || { echo "clean line: expected exit 0, got $rc"; exit 1; }

# window: contiguous block slow in ONE pass, min pass clean
py <<'EOF'
import json
p = {f"q_{c}": [0.5, 5.0, 0.51] for c in "bcdef"}
p["q_a"] = [0.5, 0.52, 0.51]; p["q_g"] = [0.4, 0.41, 0.4]
json.dump({"queries": {}, "passes": p,
           "pass_probes": [0.015, 0.15, 0.015, 0.015]},
          open("/tmp/cbtest_window.json", "w"))
EOF
rc=0; python3 tools/check_bench.py anomaly /tmp/cbtest_window.json >/dev/null || rc=$?
test "$rc" -eq 1 || { echo "window line: expected exit 1, got $rc"; exit 1; }

# poisoned: blocks in passes 0 and 1 (windows that began after those
# passes' stamps), and the pass the mins come from STARTED under load
# (its stamp is elevated) — nothing in the line is trustworthy
py <<'EOF'
import json
p = {f"q_{c}": [5.0, 5.1, 0.5] for c in "bcdef"}
p["q_a"] = [0.5, 0.52, 0.51]; p["q_g"] = [0.4, 0.41, 0.4]
json.dump({"queries": {}, "passes": p,
           "pass_probes": [0.015, 0.015, 0.15, 0.015]},
          open("/tmp/cbtest_poisoned.json", "w"))
EOF
rc=0; python3 tools/check_bench.py anomaly /tmp/cbtest_poisoned.json >/dev/null || rc=$?
test "$rc" -eq 2 || { echo "poisoned line: expected exit 2, got $rc"; exit 1; }

# could-not-analyze: no passes matrix (pre-round-10 line or iters=1 run)
# must be exit 3 — NOT 1, which a caller treats as the benign
# window-flagged verdict
py <<'EOF'
import json
json.dump({"queries": {"q_a": 0.5}}, open("/tmp/cbtest_nopasses.json", "w"))
EOF
rc=0; python3 tools/check_bench.py anomaly /tmp/cbtest_nopasses.json \
  >/dev/null 2>&1 || rc=$?
test "$rc" -eq 3 || { echo "no-passes line: expected exit 3, got $rc"; exit 1; }

# error gap: a query that ERRORED in the loaded pass must not split the
# window into sub-min_block fragments (q_c errors in pass 1; q_b/q_d/q_e
# are still ONE block)
py <<'EOF'
import json
p = {f"q_{c}": [0.5, 5.0, 0.51] for c in "bde"}
p["q_c"] = [0.5, -1, 0.5]
p["q_a"] = [0.5, 0.52, 0.51]; p["q_g"] = [0.4, 0.41, 0.4]
json.dump({"queries": {}, "passes": p,
           "pass_probes": [0.015, 0.15, 0.015, 0.015]},
          open("/tmp/cbtest_gap.json", "w"))
EOF
rc=0; out=$(python3 tools/check_bench.py anomaly /tmp/cbtest_gap.json) || rc=$?
test "$rc" -eq 1 || { echo "error-gap line: expected exit 1, got $rc"; exit 1; }
echo "$out" | grep -q '"blocks": 1' \
  || { echo "error-gap line: expected 1 block"; echo "$out"; exit 1; }

# crash channel: an unreadable input (or any uncaught exception) must
# exit 3 like every other could-not-analyze — Python's default crash
# exit 1 would collide with the benign window-flagged verdict that
# round_exit.sh tolerates for bench_anomaly
rc=0; python3 tools/check_bench.py anomaly /nonexistent_cbtest.json \
  >/dev/null 2>&1 || rc=$?
test "$rc" -eq 3 || { echo "crash: expected exit 3, got $rc"; exit 1; }
rc=0; python3 tools/check_bench.py anomaly "$W" >/dev/null 2>&1 || rc=$?
test "$rc" -eq 3 || { echo "dir input: expected exit 3, got $rc"; exit 1; }

# scale block coverage (round 11): a line whose headline matrix is clean
# but whose scale block has a one-pass load window must exit 1 with a
# "scale" section block; legs are rows in run order (case.x1, case.xr)
py <<'EOF'
import json
sq = {f"case_{c}": {"x1": 0.5, "x20": 1.0, "growth": 2.0,
                    "x1_passes": [0.5, 4.0], "xr_passes": [1.0, 8.0]}
      for c in "abc"}
sq["case_z"] = {"x1": 0.4, "x20": 0.8, "growth": 2.0,
                "x1_passes": [0.4, 0.41], "xr_passes": [0.8, 0.82]}
json.dump({"queries": {},
           "passes": {f"q_{c}": [0.5, 0.52, 0.51] for c in "abcdefg"},
           "pass_probes": [0.015, 0.015, 0.016, 0.015],
           "scale": {"replicas": 20, "scale_probes": [0.015, 0.14, 0.015],
                     "queries": sq}},
          open("/tmp/cbtest_scalewin.json", "w"))
EOF
rc=0; out=$(python3 tools/check_bench.py anomaly /tmp/cbtest_scalewin.json) || rc=$?
test "$rc" -eq 1 || { echo "scale window: expected exit 1, got $rc"; exit 1; }
echo "$out" | grep -q '"section": "scale"' \
  || { echo "scale window: expected a scale-section block"; echo "$out"; exit 1; }

# scale poisoned: the pass the scale mins come from started under load
py <<'EOF'
import json
sq = {f"case_{c}": {"x1": 0.5, "x20": 1.0, "growth": 2.0,
                    "x1_passes": [4.0, 0.5], "xr_passes": [8.0, 1.0]}
      for c in "abc"}
json.dump({"queries": {},
           "scale": {"replicas": 20, "scale_probes": [0.015, 0.14, 0.015],
                     "queries": sq}},
          open("/tmp/cbtest_scalepoison.json", "w"))
EOF
rc=0; python3 tools/check_bench.py anomaly /tmp/cbtest_scalepoison.json \
  >/dev/null || rc=$?
test "$rc" -eq 2 || { echo "scale poisoned: expected exit 2, got $rc"; exit 1; }

# a scale-only line (no headline passes matrix) is still analyzable —
# NOT the exit-3 could-not-analyze path
py <<'EOF'
import json
sq = {"case_a": {"x1": 0.5, "x20": 1.0, "growth": 2.0,
                 "x1_passes": [0.5, 0.52], "xr_passes": [1.0, 1.04]}}
json.dump({"queries": {},
           "scale": {"replicas": 20, "scale_probes": [0.015, 0.015, 0.015],
                     "queries": sq}},
          open("/tmp/cbtest_scaleonly.json", "w"))
EOF
rc=0; python3 tools/check_bench.py anomaly /tmp/cbtest_scaleonly.json \
  >/dev/null || rc=$?
test "$rc" -eq 0 || { echo "scale-only clean: expected exit 0, got $rc"; exit 1; }

# compare --epoch-normalize with a probe-less side: must exit 3, not
# silently band raw seconds across a host-speed change (the first r10
# exit evidence did exactly that against a probe-less r07 baseline)
py <<'EOF'
import json
json.dump({"queries": {"q_a": 0.5}, "machine": {"st_sec": 0.1}},
          open("/tmp/cbtest_probed.json", "w"))
json.dump({"queries": {"q_a": 0.5}}, open("/tmp/cbtest_noprobe.json", "w"))
EOF
rc=0; python3 tools/check_bench.py compare /tmp/cbtest_noprobe.json \
  /tmp/cbtest_probed.json --epoch-normalize >/dev/null 2>&1 || rc=$?
test "$rc" -eq 3 || { echo "normalize w/o old probe: expected 3, got $rc"; exit 1; }
rc=0; python3 tools/check_bench.py compare /tmp/cbtest_probed.json \
  /tmp/cbtest_noprobe.json --epoch-normalize >/dev/null 2>&1 || rc=$?
test "$rc" -eq 3 || { echo "normalize w/o new probe: expected 3, got $rc"; exit 1; }
# ...and WITHOUT the flag the same pair compares fine (raw seconds)
rc=0; python3 tools/check_bench.py compare /tmp/cbtest_noprobe.json \
  /tmp/cbtest_probed.json >/dev/null 2>&1 || rc=$?
test "$rc" -eq 0 || { echo "raw compare: expected 0, got $rc"; exit 1; }

# q106b rows carry the r15 needle-cap note; the note changes neither the
# classification nor the exit code (a 10x "improvement" stays one)
py <<'EOF'
import json
json.dump({"queries": {"q106b_verbatim_leak_contains": 5.0, "q_a": 0.5}},
          open("/tmp/cbtest_q106b_old.json", "w"))
json.dump({"queries": {"q106b_verbatim_leak_contains": 0.5, "q_a": 0.5}},
          open("/tmp/cbtest_q106b_new.json", "w"))
EOF
rc=0; out=$(python3 tools/check_bench.py compare /tmp/cbtest_q106b_old.json \
  /tmp/cbtest_q106b_new.json 2>"$W/q106b.err") || rc=$?
test "$rc" -eq 0 || { echo "q106b note: expected exit 0, got $rc"; exit 1; }
grep -q "q106b_verbatim_leak_contains: r15 capped .*not comparable" "$W/q106b.err" \
  || { echo "q106b note: missing"; cat "$W/q106b.err"; exit 1; }
echo "$out" | grep -q '"class": "improvement"' \
  || { echo "q106b note: classification changed"; echo "$out"; exit 1; }
if grep -q "q_a" "$W/q106b.err"; then
  echo "q106b note: printed for another query"; exit 1
fi

# baseline pick: round tag order, never mtime; prefer finals; never a
# rerun line; never the excluded round; empty -> exit 1
PICKDIR="$W/bh"; mkdir -p "$PICKDIR"
touch "$PICKDIR/r07_sf0.1.json" \
      "$PICKDIR/r09_sf0.1_final.json" \
      "$PICKDIR/r09_sf0.1_queries_runA.json" \
      "$PICKDIR/r09_sf0.1_r7code_rerun.json" \
      "$PICKDIR/r09_final_sf0.1_oracle_gate.json" \
      "$PICKDIR/r10_sf0.1_runA.json" "$PICKDIR/r10_sf0.1_runB.json"
# make r07 the mtime-newest — the pick must STILL return the r09 final
touch -d "2030-01-01" "$PICKDIR/r07_sf0.1.json" 2>/dev/null || true
got=$(python3 tools/pick_prev_bench.py "$PICKDIR" r10)
test "$got" = "$PICKDIR/r09_sf0.1_final.json" \
  || { echo "pick: expected r09 final, got $got"; exit 1; }
rm "$PICKDIR/r09_sf0.1_final.json"
got=$(python3 tools/pick_prev_bench.py "$PICKDIR" r10)
test "$got" = "$PICKDIR/r09_sf0.1_queries_runA.json" \
  || { echo "pick sans final: expected r09 runA (never the rerun), got $got"; exit 1; }
got=$(python3 tools/pick_prev_bench.py "$PICKDIR" r09)
test "$got" = "$PICKDIR/r10_sf0.1_runB.json" \
  || { echo "pick excl r09: expected r10 runB, got $got"; exit 1; }
# an unpadded tag must exclude the same round as its zero-padded form
# (round_exit.sh passes TAG verbatim; 'r9' failing to exclude r09 files
# would compare the round against its own sibling, vacuously green)
rc=0; python3 tools/pick_prev_bench.py "$PICKDIR" r9 >/dev/null
got=$(python3 tools/pick_prev_bench.py "$PICKDIR" r9)
test "$got" = "$PICKDIR/r10_sf0.1_runB.json" \
  || { echo "unpadded tag: expected r10 runB, got $got"; exit 1; }
rm "$PICKDIR"/r09_sf0.1_queries_runA.json
rc=0; python3 tools/pick_prev_bench.py "$PICKDIR" r10 >/dev/null || rc=$?
# r09 now holds ONLY the rerun adjudication line: the round is skipped
# (never a baseline), falling back to the next older round
touch "$PICKDIR/r08_sf0.1_runA.json"
got=$(python3 tools/pick_prev_bench.py "$PICKDIR" r10)
test "$got" = "$PICKDIR/r08_sf0.1_runA.json" \
  || { echo "all-rerun round: expected fallback to r08, got $got"; exit 1; }
# NEW_BENCH itself must never be its own baseline, even when a
# mislabeled TAG fails to exclude it by round
got=$(python3 tools/pick_prev_bench.py "$PICKDIR" r11 "$PICKDIR/r10_sf0.1_runB.json")
test "$got" = "$PICKDIR/r10_sf0.1_runA.json" \
  || { echo "exclude-file: expected r10 runA, got $got"; exit 1; }
rm "$PICKDIR"/r*.json
rc=0; python3 tools/pick_prev_bench.py "$PICKDIR" r10 >/dev/null || rc=$?
test "$rc" -eq 1 || { echo "empty pick: expected exit 1, got $rc"; exit 1; }

echo "check_bench anomaly exit contract: 0/1/2/3 + error-gap + crash=3 + scale-block coverage verified; compare normalize-impossible=3 + q106b cap note; baseline pick by round tag verified"
