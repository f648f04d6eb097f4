#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and
the benchmark JVM into `.bench_build/perfbench` and generates the fixture
tables; later runs reuse both. Each run generates its inputs from
`--seed`, starts one JVM that runs the workload through the program's
public functions, checks every output, and prints one line per metric
followed by one JSON line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics; `--trace 1` registers Spark's
listeners from the benchmark's code, reports the per-layer metrics, and
writes every span and per-op layer row to `.bench_build/perfbench/traces`.
Workload sizes live in `perfbench/workloads.json`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import checks  # noqa: E402
import gen_tables  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

E2E = [("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "rows/s"),
       ("op_p50_s", "s"), ("op_tail_s", "s"), ("peak_rss_mb", "MB"),
       ("live_heap_mb", "MB")]

# op_tail_s percentile. A run holds 10 unit ops (the run-time budget:
# 48 runs in 3420 s), too few for a percentile with 10 samples beyond it.
TAIL_P = 90

ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def load_spec():
    return json.loads((BENCH / "workloads.json").read_text())


def ensure_fixture(out, common):
    """Fixture tables (main and tiny), regenerated when the generator or
    its parameters change."""
    fx = out / f"fixture-{fixture_key(common)}"
    if not (fx / "done").exists():
        shutil.rmtree(fx, ignore_errors=True)
        for name, scale in (("main", common["fixture_scale"]),
                            ("tiny", common["tiny_scale"])):
            gen_tables.write(fx / name, scale, common["fixture_seed"])
        (fx / "done").write_text("")
    return fx / "main", fx / "tiny"


def fixture_key(common):
    h = hashlib.sha256((BENCH / "gen_tables.py").read_bytes())
    h.update(json.dumps([common["fixture_scale"], common["tiny_scale"],
                         common["fixture_seed"]]).encode())
    return h.hexdigest()[:12]


def make_config(args, spec, run_dir, fixture, tiny):
    common = spec["common"]
    cfg = {"workload": args.workload, "seed": args.seed, "trace": bool(args.trace),
           "corrupt": args.corrupt, "fixture": str(fixture.resolve()),
           "tiny": str(tiny.resolve()), "warmup_query": common["warmup_query"],
           "op_timeout_s": common["op_timeout_s"]}
    expect = {}
    w = spec[args.workload]
    # a traced run times untraced, traced, untraced passes (Harness.tracePass)
    passes = 3 if args.trace else w["passes"]
    if args.workload == "pipeline":
        prime, timed, lists = inputs.pipeline_inputs(args.seed, dict(w, passes=passes),
                                                     run_dir)
        cfg["pipeline"] = dict(w, prime_list=prime, url_lists=timed)
        expect["url_lists"] = lists
    else:
        cfg["queries"] = {"order": inputs.query_order(args.seed, w["queries"]),
                          "passes": passes}
        files, kinds, total = inputs.ingest_inputs(
            args.seed, w["ingest"], fixture / "documents.parquet", run_dir / "stage")
        cfg["ingest"] = dict(w["ingest"], files=files, total_rows=total)
        expect.update(kinds=kinds, total_rows=total)
    return cfg, expect


def run_jvm(classes, run_dir, heap, timeout):
    """Run the benchmark JVM; it times its set-up from the launch time
    passed to it."""
    jars = build.spark_jars()
    # a fixed-size heap takes the collector's heap-growth timing out of
    # peak_rss_mb (it moved the peak by ~20% between identical runs)
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={run_dir / 'spark-local'}",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes.resolve()}:{jars}/*", "perfbench.Harness",
            str(run_dir.resolve())]
    (run_dir / "tmp").mkdir()
    with open(run_dir / "jvm.log", "w") as log:
        cmd.append(str(int(time.time() * 1000)))
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    return code


def e2e_metrics(result, workload, spec):
    """End-to-end metrics and the timed ops behind op_p50/op_tail."""
    ops = result["ops"]
    passes = [p for p in result["passes"] if p["phase"] == "timed"]
    # set-up: launch of the JVM until the first timed op is ready (the
    # session, tables, warm-up query and the cold prime pass)
    first = min(o["start"] for o in ops if o["phase"] == "timed" and o["kind"] != "file")
    live = [o["live_heap_mb"] for o in ops if o["live_heap_mb"]]
    live.append(result["extra"].get("ingest_live_heap_mb", 0.0))
    m = {"setup_s": (first - result["setup"]["launch_ms"]) / 1e3,
         "peak_rss_mb": result["peak_rss_mb"], "live_heap_mb": max(live)}
    if workload == "pipeline":
        unit = [o for o in ops if o["phase"] == "timed" and o["kind"] == "batch"]
        m["wall_s"] = stats.median(p["wall_s"] for p in passes)
        m["rows_per_s"] = (sum(p["urls"] for p in passes) /
                           sum(p["process_s"] + p["aggregate_s"] for p in passes))
    else:
        unit = [o for o in ops if o["phase"] == "timed" and o["kind"] == "query"]
        files = [o for o in ops if o["kind"] == "file"]
        ingest_wall = (max(o["end"] for o in files) - min(o["due"] for o in files)) / 1e3
        m["wall_s"] = stats.median(p["wall_s"] for p in passes) + ingest_wall
        m["rows_per_s"] = spec["curation"]["ingest"]["files"] * \
            spec["curation"]["ingest"]["docs_per_file"] / ingest_wall
    lat = [(o["end"] - o["start"]) / 1e3 for o in unit]
    m["op_p50_s"] = stats.median(lat)
    m["op_tail_s"] = stats.percentile(lat, TAIL_P)
    return m, len(lat)


def check(result, workload, spec, expect):
    ops = result["ops"]
    if workload == "pipeline":
        return checks.check_pipeline(ops, result["passes"], expect["url_lists"],
                                     spec["pipeline"]["batch_size"])
    digests = json.loads((BENCH / "digests.json").read_text())
    bad = checks.check_queries([o for o in ops if o["kind"] == "query"], digests)
    bad.update(checks.check_ingest([o for o in ops if o["kind"] == "file"],
                                   result["extra"]["ingest"], expect["kinds"],
                                   expect["total_rows"]))
    return bad


def main():
    ap = argparse.ArgumentParser(description="perfbench: one workload run")
    ap.add_argument("--workload", required=True, choices=["pipeline", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one output per phase on purpose (checker self-test)")
    ap.add_argument("--record-digests", action="store_true",
                    help="curation: print the prime pass's query digests as JSON "
                         "(the content of digests.json) instead of checking them")
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: run from the root of a checkout (no src/main/scala/graft)")
    spec = load_spec()
    out = root / build.OUT
    classes = build.ensure(root)
    fixture, tiny = ensure_fixture(out, spec["common"])

    run_dir = out / "runs" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        cfg, expect = make_config(args, spec, run_dir, fixture, tiny)
        (run_dir / "config.json").write_text(json.dumps(cfg))
        code = run_jvm(classes, run_dir, spec["common"]["jvm_heap"],
                       spec["common"]["jvm_timeout_s"])
        result_file = run_dir / "result.json"
        if code != 0 or not result_file.exists():
            sys.stderr.write((run_dir / "jvm.log").read_text()[-3000:])
            sys.exit(f"perfbench: benchmark JVM ended with {code}")
        result = json.loads(result_file.read_text())
        if args.record_digests:
            print(json.dumps({o["name"]: {"rows": o["facts"]["rows"],
                                          "digest": o["facts"]["digest"]}
                              for o in result["ops"]
                              if o["kind"] == "query" and o["phase"] == "prime"},
                             indent=1, sort_keys=True))
            return
        report(args, spec, result, expect, out)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(args, spec, result, expect, out):
    bad = check(result, args.workload, spec, expect)
    attempted = len(result["ops"])
    for op_id, why in sorted(bad.items()):
        op = next(o for o in result["ops"] if o["id"] == op_id)
        print(f"FAILED {op['kind']} {op['name']} ({op['phase']}): {why}")
    e2e, n = e2e_metrics(result, args.workload, spec)
    rule_p = stats.tail_percentile(n)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"ops_failed_share={stats.failed_share(attempted, len(bad)):.4f} "
          f"({len(bad)}/{attempted}) op_tail_s=p{TAIL_P} of {n} unit ops "
          f"(highest percentile with 10 beyond: "
          f"{'p%d' % rule_p if rule_p else 'none, under 20 ops'})")
    if args.trace:
        metrics, rows = layers.compute(result, args.workload)
        units = dict(layers.METRICS)
        trace_dir = out / "traces"
        trace_dir.mkdir(exist_ok=True)
        path = trace_dir / f"{args.workload}-seed{args.seed}.json"
        path.write_text(json.dumps({"metrics": metrics, "ops": rows,
                                    "spans": result["trace"]["spans"]}))
        for r in rows:
            top = sorted(r["self_s"].items(), key=lambda kv: -kv[1])[:4]
            print(f"# layers {r['op']:28s} wall={r['wall_s']:.3f}s " +
                  " ".join(f"{k}={v:.3f}" for k, v in top))
        print(f"# spans and per-op layer rows: {path}")
    else:
        metrics, units = e2e, dict(E2E)
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": len(bad),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
