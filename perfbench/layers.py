"""Per-layer metrics from a traced run's spans.

Spans (spans.jsonl): one root span per op (`op.<route>`), one child span
per call into a program module (`lifecycle.auth`, `store.read`, ...), and
one span per Spark job (`spark.job`) or SQL execution (`sql.execution`) the
op launched. A job belongs to the module call whose interval holds its
start. Self time is a span's duration minus the part its children cover.
"""

import json
import os
import statistics

import gen

HTTP_ROUTES = ["stats", "aggregate", "run_get", "download", "list_runs", "stats_runs",
               "upload", "patch", "delete"]
ROUTES = HTTP_ROUTES + ["bulk"]
# module call spans reported as <name>_ms (median per call) and <name>_jobs
# (Spark jobs per call)
CALLS = ["lifecycle.auth", "lifecycle.get_run", "lifecycle.get_file", "lifecycle.list",
         "lifecycle.patch", "lifecycle.delete", "store.read", "ingest.upload", "ingest.bulk"]
CHILD_KINDS = ("spark.job", "sql.execution")
# fewest ops of a route, run in both the HTTP window and the traced replay,
# from which its HTTP overhead is reported
MIN_PAIRS = 3
# OpListener.Totals order
TOTALS = ["jobs", "stages", "tasks", "run_ms", "cpu_ms", "shuffle_write_bytes",
          "spill_bytes", "input_bytes", "executions", "files_read", "analysis_ms",
          "optimization_ms", "planning_ms"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of intervals."""
    total, end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def load_spans(work):
    with open(os.path.join(work, "spans.jsonl")) as f:
        return [json.loads(l) for l in f if l.strip()]


def per_layer(observed, work, cores, input_bytes):
    spans = load_spans(work)
    ops = observed["ops"]
    traced_ids = {o[0] for o in ops if o[2] == "traced"}
    roots, calls, children, probes = {}, {}, {}, []
    for s in spans:
        if s["name"] in CHILD_KINDS:
            children.setdefault(s["op"], []).append(s)
        elif s["parent"] == -1 and s["name"].startswith("op."):
            roots[s["op"]] = s
        elif s["parent"] == -1:
            probes.append(s)
        else:
            calls.setdefault(s["op"], []).append(s)

    def dur(s):
        return s["end_ms"] - s["start_ms"]

    # attribute each job / SQL execution to the module call that launched it
    jobs_in = {}   # call span id -> jobs
    job_ms = []    # per op: time covered by its Spark jobs
    for op in traced_ids:
        cs = sorted(calls.get(op, []), key=lambda s: s["start_ms"])
        kids = children.get(op, [])
        for k in kids:
            if k["name"] != "spark.job":
                continue
            owner = None
            for c in cs:
                if int(c["start_ms"]) <= k["start_ms"] <= c["end_ms"] + 1:
                    owner = c
            if owner:
                jobs_in[owner["id"]] = jobs_in.get(owner["id"], 0) + 1
        root = roots.get(op)
        if root:
            job_ms.append(covered([(k["start_ms"], k["end_ms"]) for k in kids
                                   if k["name"] == "spark.job"],
                                  int(root["start_ms"]), root["end_ms"] + 1))

    m = {}

    # per-op latencies of each phase; the replays ran the HTTP window's ops,
    # so a route's figures in every phase come from the same ops
    def by_op(phase):
        return {o[0]: (o[1], o[4] - o[3]) for o in ops if o[2] == phase}

    http, direct = by_op("http"), by_op("direct")
    traced = {op: dur(r) for op, r in roots.items() if op in traced_ids}
    report = {}
    trace_costs = []
    for route in ROUTES:
        ids = sorted(op for op, (r, _) in http.items() if r == route)
        m[f"route.{route}_p50_ms"] = (median([http[op][1] for op in ids]), "ms")
        paired = [op for op in ids if op in traced]
        if route in HTTP_ROUTES:
            # HTTP p50 minus traced p50 over the same ops; with fewer than
            # MIN_PAIRS of them the figure is unresolved and reads 0
            over = median([http[op][1] for op in paired]) - median([traced[op] for op in paired]) \
                if len(paired) >= MIN_PAIRS else 0.0
            m[f"http.{route}.overhead_ms"] = (over, "ms")
            m[f"http.{route}.samples"] = (len(paired), "count")
        trace_costs += [traced[op] - direct[op][1] for op in paired if op in direct]
        # decomposition of the route's traced root span
        layer_ms, root_self = {}, []
        for op in paired:
            r = roots[op]
            cs = calls.get(op, [])
            for c in cs:
                layer_ms.setdefault(c["name"], []).append(dur(c))
            root_self.append(dur(r) - covered([(c["start_ms"], c["end_ms"]) for c in cs],
                                              r["start_ms"], r["end_ms"]))
        if root_self:
            report[route] = {
                "samples": len(paired),
                "http_p50_ms": median([http[op][1] for op in paired]),
                "direct_p50_ms": median([direct[op][1] for op in paired if op in direct]),
                "traced_p50_ms": median([traced[op] for op in paired]),
                "layers_p50_ms": {k: median(v) for k, v in sorted(layer_ms.items())},
                "root_self_p50_ms": median(root_self),
            }
    m["trace.overhead_ms"] = (median(trace_costs), "ms")
    m["trace.ops"] = (len(traced_ids), "count")

    # module calls
    def call_spans(name):
        return [c for op in traced_ids for c in calls.get(op, []) if c["name"] == name]

    for name in CALLS:
        cs = call_spans(name)
        if name == "ingest.bulk":
            m["ingest.bulk_ms_per_run"] = (median([dur(c) / gen.BULK_RUNS for c in cs]), "ms")
        else:
            m[f"{name}_ms"] = (median([dur(c) for c in cs]), "ms")
        m[f"{name}_jobs"] = (mean([jobs_in.get(c["id"], 0) for c in cs]), "count")
    m["stats.build_ms"] = (median([dur(c) for c in call_spans("stats.build")]), "ms")
    m["render.ms"] = (median([dur(c) for c in call_spans("render")]), "ms")
    m["pipelines.validate_ms"] = (median([dur(p) for p in probes
                                          if p["name"] == "pipelines.validate"
                                          and p["op"] in traced_ids]), "ms")

    # Spark and SQL totals per traced op
    rows = [dict(zip(TOTALS, observed.get("op_totals", {}).get(str(op), [0] * len(TOTALS))))
            for op in traced_ids]

    def per_op(k):
        return mean([r[k] for r in rows])

    m["spark.jobs_per_op"] = (per_op("jobs"), "count")
    m["spark.stages_per_op"] = (per_op("stages"), "count")
    m["spark.tasks_per_op"] = (per_op("tasks"), "count")
    m["spark.job_ms_per_op"] = (mean(job_ms), "ms")
    m["spark.executor_run_ms_per_op"] = (per_op("run_ms"), "ms")
    m["spark.executor_cpu_ms_per_op"] = (per_op("cpu_ms"), "ms")
    traced_ms = sum(traced.values())
    m["spark.core_busy_frac"] = (sum(r["run_ms"] for r in rows) / (traced_ms * cores)
                                 if traced_ms else 0.0, "ratio")
    m["spark.shuffle_write_bytes_per_op"] = (per_op("shuffle_write_bytes"), "B")
    m["spark.spill_bytes_per_op"] = (per_op("spill_bytes"), "B")
    m["spark.input_bytes_per_op"] = (per_op("input_bytes"), "B")
    m["spark.files_read_per_op"] = (per_op("files_read"), "count")
    m["sql.executions_per_op"] = (per_op("executions"), "count")
    m["sql.analysis_ms"] = (per_op("analysis_ms"), "ms")
    m["sql.optimization_ms"] = (per_op("optimization_ms"), "ms")
    m["sql.planning_ms"] = (per_op("planning_ms"), "ms")

    # warehouse
    writes = [observed.get("op_writes", {}).get(str(op), [0, 0]) for op in traced_ids]
    m["store.files_total"] = (observed["store_files"], "count")
    m["store.bytes_per_input_byte"] = (observed["store_bytes"] / input_bytes, "ratio")
    m["store.files_written_per_op"] = (mean([w[0] for w in writes]), "count")
    m["store.bytes_written_per_op"] = (mean([w[1] for w in writes]), "B")

    # JVM, over the untraced HTTP window
    w = observed["windows"]["http"]
    m["jvm.gc_ms_per_op"] = (w["gc_ms"] / max(len(http), 1), "ms")
    m["jvm.jit_ms"] = (w["jit_ms"], "ms")
    m["jvm.rss_peak_mb"] = (observed["rss_peak_mb"], "MB")
    return m, report


def format_report(report):
    """One line per route: where its traced time went."""
    out = []
    for route, r in report.items():
        parts = " + ".join(f"{k} {v:.1f}" for k, v in r["layers_p50_ms"].items())
        http = f"http {r['http_p50_ms']:.1f} ms" if route in HTTP_ROUTES else "no http route"
        if route in HTTP_ROUTES and r["samples"] < MIN_PAIRS:
            http += " (overhead unresolved)"
        out.append(f"route {route} (n={r['samples']}): {http}, "
                   f"direct {r['direct_p50_ms']:.1f}, traced {r['traced_p50_ms']:.1f} = "
                   f"{parts} + self {r['root_self_p50_ms']:.1f}")
    return out
