"""Per-layer metrics of a traced run, named after the program's modules.

Per-op values are means over the run's traced timed ops (queries for
`curation`, processor batches for `pipeline`); `stream.*` and
`loadgen.*` come from the ingest phase. A layer that does no work on a
workload reports 0.
"""
from stats import layer_self_times, median, union_length

MB = 1e6

# Every per-layer metric, with its unit, in report order.
METRICS = [
    ("session.start_s", "s"), ("session.tables_s", "s"), ("session.warmup_s", "s"),
    ("session.prime_s", "s"),
    ("queries.build_s", "s"), ("queries.eager_jobs", "count"),
    ("planner.analysis_s", "s"), ("planner.optimization_s", "s"),
    ("planner.planning_s", "s"), ("planner.aqe_updates", "count"),
    ("codegen.compile_s", "s"), ("codegen.classes", "count"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.driver_only_s", "s"), ("sched.stage_skew", "ratio"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.peak_mem_mb", "MB"), ("exec.spill_mb", "MB"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("shuffle.fetch_wait_s", "s"),
    ("io.scan_mb", "MB"), ("io.scan_rows", "count"), ("io.write_mb", "MB"),
    ("io.write_rows", "count"), ("io.files_written", "count"),
    ("pins.left_after_op", "count"), ("pins.cached_mb", "MB"),
    ("enrich.records", "count"), ("enrich.dead", "count"),
    ("enrich.failed_attempts", "count"), ("enrich.yield", "ratio"),
    ("pipeline.canary_s", "s"), ("pipeline.plan_s", "s"), ("pipeline.process_s", "s"),
    ("pipeline.jobs_per_batch", "count"), ("pipeline.aggregate_s", "s"),
    ("agg.listing_s", "s"), ("agg.shard_files", "count"), ("agg.jobs", "count"),
    ("agg.driver_only_s", "s"),
    ("stream.batches", "count"), ("stream.add_batch_s", "s"),
    ("stream.machinery_s", "s"), ("stream.rows_in", "count"),
    ("stream.appended_share", "ratio"), ("stream.backlog_files_max", "count"),
    ("stream.corpus_files", "count"),
    ("loadgen.late_max_s", "s"), ("trace.overhead_share", "ratio"),
]

# A stage's layer is the module of the innermost project frame of its call
# site (Tracer.moduleOf); "exec" is a stage of an action the benchmark
# issued itself, "spark" one with no project frame at all.
SELF_LAYERS = ["driver", "queries", "sched", "exec", "ops", "io", "agg",
               "enrich", "pipeline", "graft", "spark"]
METRICS += [(f"self.{layer}_s", "s") for layer in SELF_LAYERS]


def _mean(values):
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def op_spans(op, spans):
    """The op's span tree: op root, its build span (queries), and its job
    and stage spans. Jobs started while the frame was built hang under
    the build span. Times in ms."""
    root = {"id": f"o{op['id']}", "parent": None, "layer": "driver",
            "start": op["start"], "end": op["end"]}
    out = [root]
    has_build = op.get("build_end", 0) > op.get("build_start", 0)
    if has_build:
        out.append({"id": f"b{op['id']}", "parent": root["id"], "layer": "queries",
                    "start": op["build_start"], "end": op["build_end"]})
    for s in spans:
        if s["op"] != op["id"]:
            continue
        s = dict(s)
        if s["kind"] == "job":
            in_build = has_build and op["build_start"] <= s["start"] <= op["build_end"]
            s["parent"] = f"b{op['id']}" if in_build else root["id"]
            # a job's own time outside its stages is scheduling
            s["layer"] = "sched"
        out.append(s)
    return out


def op_row(op, spans, counters):
    """Layer row of one op: self time per layer plus its counters."""
    tree = op_spans(op, spans)
    jobs = [(s["start"], s["end"]) for s in tree if s.get("kind") == "job"]
    dur = op["end"] - op["start"]
    row = {"op": op["name"], "kind": op["kind"], "pass": op["pass"],
           "wall_s": dur / 1e3,
           "driver_only_s": max(0.0, dur - union_length(jobs)) / 1e3,
           "self_s": {k: v / 1e3 for k, v in layer_self_times(tree).items()},
           "codegen_classes": op.get("codegen_classes", 0),
           "codegen_s": op.get("codegen_ms", 0.0) / 1e3,
           "pins_left": op["pins_left"], "pins_mb": op["pins_mb"]}
    row.update(counters.get(str(op["id"]), {}))
    return row


def compute(result, workload):
    """(metrics, per-op layer rows) of a traced run."""
    trace = result["trace"]
    spans, counters = trace["spans"], trace["counters"]
    ops = result["ops"]
    timed = [o for o in ops if o["phase"] == "timed" and o["kind"] in ("query", "batch")]
    traced = [o for o in timed if o["pass"] == 1]
    rows = [op_row(o, spans, counters) for o in traced]
    m = {name: 0.0 for name, _ in METRICS}

    for k in ("start_s", "tables_s", "warmup_s"):
        m[f"session.{k}"] = result["setup"][k]
    prime = [o for o in ops if o["phase"] == "prime"]
    m["session.prime_s"] = sum(o["end"] - o["start"] for o in prime) / 1e3

    def mean(key, scale=1.0):
        return _mean(r.get(key, 0.0) * scale for r in rows)

    m["queries.build_s"] = _mean((o["build_end"] - o["build_start"]) / 1e3
                                 for o in traced if o["kind"] == "query")
    m["queries.eager_jobs"] = mean("eager_jobs")
    m["planner.analysis_s"] = mean("analysis_ms", 1e-3)
    m["planner.optimization_s"] = mean("optimization_ms", 1e-3)
    m["planner.planning_s"] = mean("planning_ms", 1e-3)
    m["planner.aqe_updates"] = mean("aqe_updates")
    m["codegen.compile_s"] = mean("codegen_s")
    m["codegen.classes"] = mean("codegen_classes")
    m["sched.jobs"] = mean("jobs")
    m["sched.stages"] = mean("stages")
    m["sched.tasks"] = mean("tasks")
    m["sched.driver_only_s"] = mean("driver_only_s")
    skews = [r["stage_skew"] for r in rows if r.get("stage_skew")]
    m["sched.stage_skew"] = median(skews) if skews else 0.0
    m["exec.run_s"] = mean("run_ms", 1e-3)
    m["exec.cpu_s"] = mean("cpu_ns", 1e-9)
    m["exec.gc_s"] = mean("gc_ms", 1e-3)
    m["exec.peak_mem_mb"] = max([r.get("peak_mem_b", 0.0) for r in rows] or [0.0]) / MB
    m["exec.spill_mb"] = mean("spill_b", 1 / MB)
    m["shuffle.write_mb"] = mean("shuffle_write_b", 1 / MB)
    m["shuffle.read_mb"] = mean("shuffle_read_b", 1 / MB)
    m["shuffle.fetch_wait_s"] = mean("fetch_wait_ms", 1e-3)
    m["io.scan_mb"] = mean("input_b", 1 / MB)
    m["io.scan_rows"] = mean("input_rows")
    m["io.write_mb"] = mean("output_b", 1 / MB)
    m["io.write_rows"] = mean("output_rows")
    m["pins.left_after_op"] = mean("pins_left")
    m["pins.cached_mb"] = mean("pins_mb")
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = _mean(r["self_s"].get(layer, 0.0) for r in rows)

    timed_passes = [p for p in result["passes"] if p["phase"] == "timed"]
    walls = [p["wall_s"] for p in timed_passes]
    m["trace.overhead_share"] = walls[1] / ((walls[0] + walls[2]) / 2) - 1

    if workload == "pipeline":
        _pipeline(m, result, timed_passes, spans, counters)
    else:
        _stream(m, result)
        phase = result["extra"]["ingest_phase"]
        rows.append(op_row({"id": -1, "name": "ingest", "kind": "ingest", "pass": 1,
                            "pins_left": 0, "pins_mb": 0.0, **phase}, spans, counters))
    return m, rows


def _pipeline(m, result, passes, spans, counters):
    """pipeline.* are medians over the three timed passes; enrich.*, io
    and agg.* counts come from the traced pass."""
    ops = {o["id"]: o for o in result["ops"]}
    for k in ("canary_s", "plan_s", "process_s", "aggregate_s"):
        m[f"pipeline.{k}"] = median(p[k] for p in passes)
    traced = passes[1]
    batches = [ops[i] for i in traced["op_ids"] if ops[i]["kind"] == "batch"]
    agg = ops[traced["op_ids"][-1]]
    m["io.files_written"] = traced["files_written"]
    m["enrich.records"] = sum(b["facts"]["produced"] for b in batches)
    m["enrich.dead"] = sum(b["facts"]["dead"] for b in batches)
    m["enrich.failed_attempts"] = sum(b["facts"]["failed_attempts"] for b in batches)
    m["enrich.yield"] = m["enrich.records"] / (m["enrich.records"] + m["enrich.dead"])
    m["pipeline.jobs_per_batch"] = _mean(
        counters.get(str(b["id"]), {}).get("jobs", 0) for b in batches)
    m["agg.listing_s"] = agg["facts"]["listing_s"]
    m["agg.shard_files"] = agg["facts"]["shard_files"]
    m["agg.jobs"] = counters.get(str(agg["id"]), {}).get("jobs", 0)
    m["agg.driver_only_s"] = op_row(agg, spans, counters)["driver_only_s"]


def _stream(m, result):
    extra = result["extra"]
    facts = extra["ingest"]
    progress = [p for p in result["trace"]["stream_progress"] if p["rows"] > 0]
    m["stream.batches"] = len(progress)
    m["stream.add_batch_s"] = _mean(p["add_batch_ms"] / 1e3 for p in progress)
    m["stream.machinery_s"] = _mean((p["trigger_ms"] - p["add_batch_ms"]) / 1e3
                                    for p in progress)
    m["stream.rows_in"] = facts["rows_in_reported"]
    appended = facts["corpus_rows"] - facts["corpus_before"]
    m["stream.appended_share"] = appended / facts["rows_in"] if facts["rows_in"] else 0.0
    m["stream.corpus_files"] = facts["corpus_files"]
    files = [o for o in result["ops"] if o["kind"] == "file"]
    drops = sorted(o["facts"]["dropped"] for o in files)
    commits = sorted(o["end"] for o in files)
    backlog = 0
    for t in drops:
        backlog = max(backlog, sum(d <= t for d in drops) - sum(c <= t for c in commits))
    m["stream.backlog_files_max"] = backlog
    m["loadgen.late_max_s"] = max((o["facts"]["dropped"] - o["due"]) / 1e3 for o in files)
    m["io.files_written"] = facts["corpus_files"]
