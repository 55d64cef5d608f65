#!/usr/bin/env python3
"""Service benchmark: HTTP read traffic and write/ingest traffic against
the unchanged program, measured end to end (untraced run) or per layer
(traced run).

    python3 perfbench/run.py --workload service_read --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt) and the corpus warehouse;
both are kept under .bench_build/ (or $CARGO_TARGET_DIR) for later runs.
Prints its settings, then one JSON line: correct, attempted, failed and the
metrics. Exits 1 when a correctness check fails, 2 when it cannot run.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import gen
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = {
    # name: (closed-loop clients, ops generated, seconds of closed-loop
    # warm-up after the first op of each route). Read latency falls by about
    # a third over the first 20 s of load while the JIT compiles, and where
    # a run's window fell in that fall was the largest cause of spread
    # between runs. Writes get no warm-up loop: each write adds warehouse
    # files and later writes are slower for it, so a loop only moves the
    # window to a larger store and leaves fewer ops in it.
    "service_read": (4, 4000, 5),
    "ingest_write": (1, 600, 0),
}
SPARK_CORES = 4
JVM_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build ---------------------------------------------------------------------

def digest_of(*tops):
    """sha256 over the paths and bytes of every file under `tops`."""
    h = hashlib.sha256()
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile the program (by its own build) and the harness once per
    source state; returns the runtime classpath and the JVM options the
    program's build gives its forked runs."""
    stamp = os.path.join(build_dir, "build.stamp")
    out_file = os.path.join(build_dir, "build.json")
    digest = digest_of(os.path.join(root, "src", "main"), os.path.join(root, "build.sbt"),
                       os.path.join(root, "project", "build.properties"),
                       os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                       os.path.join(HERE, "project", "build.properties"))
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(out_file):
        with open(out_file) as f:
            b = json.load(f)
        return b["classpath"], b["java_options"]
    os.makedirs(build_dir, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-J-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", *opts, "compile", "export Runtime/fullClasspath",
                            "writeJavaOptions"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    jopts_file = os.path.join(HERE, "target", "program-java-options.txt")
    if r.returncode != 0 or not cp or not os.path.exists(jopts_file):
        fail(f"build failed, see {log}")
    java_options = [l for l in open(jopts_file).read().splitlines() if l]
    with open(out_file, "w") as f:
        json.dump({"classpath": cp[-1].strip(), "java_options": java_options}, f)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp[-1].strip(), java_options


# ---- run -------------------------------------------------------------------------

def corpus_cache(root, build_dir):
    """Directory of the corpus warehouse built by this program from this
    generator; caches built by other sources are removed."""
    key = digest_of(os.path.join(root, "src", "main"), os.path.join(HERE, "gen.py"))[:16]
    for d in os.listdir(build_dir):
        if d.startswith("corpus-") and d != f"corpus-{key}":
            shutil.rmtree(os.path.join(build_dir, d), ignore_errors=True)
    cache = os.path.join(build_dir, f"corpus-{key}")
    os.makedirs(cache, exist_ok=True)
    return cache


def java(build, work, *args, timeout):
    """Run the harness JVM with the program's JVM options; its output goes
    to work/jvm.log."""
    classpath, java_options = build
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *java_options,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'sw')}",
           "-cp", classpath, "perfbench.Harness", *map(str, args)]
    with open(os.path.join(work, "jvm.log"), "a") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness timed out", 1)
    if code != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        fail(f"harness exited with {code}:\n{tail}", 1)


def run_harness(build, work, seconds, trace, clients, warm_s, cache):
    corpus = os.path.join(cache, "warehouse")
    if not os.path.exists(corpus):
        java(build, work, "--build-corpus", work, cache, SPARK_CORES, timeout=600)
    java(build, work, work, seconds, trace, clients, SPARK_CORES, corpus, warm_s,
         timeout=JVM_TIMEOUT_S)
    with open(os.path.join(work, "observed.json")) as f:
        return json.load(f)


# ---- correctness -----------------------------------------------------------------

def expected_state(model, ops_by_id, executed_ok):
    """Live runs and their facts after the executed ops, from the model."""
    live = {r[0]: r[1:] for r in model["corpus"]}   # name -> pipeline, user, md5, nS, nRG, size
    new_by_op = {}
    for i, name, *facts in model["new"]:
        new_by_op.setdefault(i, []).append((name, facts))
    for i in sorted(executed_ok):
        op = ops_by_id[i]
        if op["route"] == "delete":
            live.pop(op["target"], None)
        for name, facts in new_by_op.get(i, []):
            live[name] = facts
    rollup = {}
    for pipe, _, _, ns, nrg, _ in live.values():
        t = rollup.setdefault(pipe, [0, 0, 0])
        t[0] += 1
        t[1] += ns
        t[2] += nrg
    agg = {p: sum(v[3] for v in live.values() if v[0] == p) for p in ("maple", "pref", "pann")}
    return {"live_runs": len(live), "rollup": rollup, "aggregate_n": agg, "live": live,
            "new_by_op": new_by_op}


def final_checks(observed, expected):
    """(checks made, list of mismatches) for the end-of-run state."""
    got = observed["final"]
    bad = []
    if got["live_runs"] != expected["live_runs"]:
        bad.append(f"live runs {got['live_runs']} != {expected['live_runs']}")
    rollup = {r["pipeline"]: [r["nRuns"], r["nSamples"], r["nReadGroups"]]
              for r in (got["rollup"] or [])}
    if rollup != expected["rollup"]:
        bad.append(f"rollup {rollup} != {expected['rollup']}")
    for p, n in expected["aggregate_n"].items():
        if got["aggregate_n"].get(p) != n:
            bad.append(f"aggregate n {p} {got['aggregate_n'].get(p)} != {n}")
    for label, md5 in got["downloads"].items():
        if label.startswith("op:"):
            want = expected["new_by_op"][int(label[3:])][0][1][2]
        else:
            run = expected["live"].get(label[len("{run:"):-1])
            want = run[2] if run else "410"
        if md5 != want:
            bad.append(f"download {label}: {md5} != {want}")
    return 2 + len(expected["aggregate_n"]) + len(got["downloads"]), bad


# ---- metrics ---------------------------------------------------------------------

def interquartile_mean(xs):
    """Mean of the middle half of `xs`: the lowest and highest quarter are
    left out, the values on either edge weighted by the part of them inside."""
    xs = sorted(xs)
    lo, hi = len(xs) / 4, len(xs) * 3 / 4
    return sum(x * max(0.0, min(i + 1, hi) - max(i, lo)) for i, x in enumerate(xs)) / (hi - lo)


def end_to_end(observed, clients):
    timed = [o for o in observed["ops"] if o[2] == "http"]
    lat = [o[4] - o[3] for o in timed]
    setup = observed["setup"]
    return {
        "setup_s": (setup["session_s"] + setup["load_s"] + setup["warm_s"], "s"),
        # Little's law for a closed loop: clients over the mean latency, here
        # the mean of the middle half, so that one stalled op among the few
        # of a window does not move the rate by a quarter
        "ops_per_s": (clients / interquartile_mean(lat) * 1000 if lat else 0.0, "1/s"),
        "latency_p50_ms": (statistics.median(lat) if lat else 0.0, "ms"),
        "heap_live_mb": (observed["heap_live_mb"], "MB"),
    }, len(timed)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    fixtures = os.path.join(root, "src", "test", "resources", "fixtures")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")) or not os.path.isdir(fixtures):
        fail("run from the root of a checkout of the program (src/main and the fixtures are missing)")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    built = build(root, build_dir)

    clients, n_ops, warm_s = WORKLOADS[a.workload]
    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        model = gen.generate(a.workload, a.seed, fixtures, work, n_ops)
        ops_by_id = {}
        with open(os.path.join(work, "ops.jsonl")) as f:
            for line in f:
                op = json.loads(line)
                ops_by_id[op["id"]] = op
        # a corpus run whose stored bytes are checked at the end (the run
        # may delete it)
        sample = random.Random(a.seed).sample([r[0] for r in model["corpus"]], 1)
        with open(os.path.join(work, "final_ids.txt"), "w") as f:
            f.write("".join("{run:%s}\n" % name for name in sample))

        t0 = time.time()
        observed = run_harness(built, work, a.seconds, a.trace, clients, warm_s,
                               corpus_cache(root, build_dir))
        wall = time.time() - t0

        errors = [o for o in observed["ops"] if o[6]]
        executed_ok = {o[0] for o in observed["ops"] if not o[6]}
        expected = expected_state(model, ops_by_id, executed_ok)
        n_final, bad_final = final_checks(observed, expected)
        attempted = len(observed["ops"]) + n_final
        failed = len(errors) + len(bad_final)

        e2e, n_timed = end_to_end(observed, clients)
        print(f"settings: workload={a.workload} seed={a.seed} trace={a.trace} "
              f"seconds={a.seconds} warm_loop_s={warm_s} clients={clients} spark_cores={SPARK_CORES} "
              f"corpus_runs={gen.CORPUS_RUNS} corpus_batches={gen.CORPUS_BATCHES} "
              f"ops_timed={n_timed} wall_s={wall:.1f}")
        setup = observed["setup"]
        print(f"setup: session_s={setup['session_s']:.2f} load_s={setup['load_s']:.2f} "
              f"warm_s={setup['warm_s']:.2f}")
        print(f"ops: attempted={attempted} failed={failed} "
              f"failed_frac={failed / attempted:.4f}")
        for o in errors[:10]:
            print(f"failed op {o[0]} ({o[1]}, {o[2]}): {o[6]}")
        for b in bad_final[:10]:
            print(f"failed final-state check: {b}")

        if a.trace:
            input_bytes = sum(r[-1] for r in model["corpus"]) + sum(
                r[-1] for r in model["new"] if r[0] in executed_ok)
            metrics, report = layers.per_layer(observed, work, SPARK_CORES, input_bytes)
            with open(os.path.join(build_dir, f"trace_{a.workload}.json"), "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                           "metrics": metrics, "routes": report}, f, indent=1, sort_keys=True)
            for line in layers.format_report(report):
                print(line)
        else:
            metrics = e2e
            by_route = {}
            for o in observed["ops"]:
                if o[2] == "http":
                    by_route.setdefault(o[1], []).append(o[4] - o[3])
            for route, lat in sorted(by_route.items()):
                print(f"route {route}: n={len(lat)} p50={statistics.median(lat):.1f} ms")
            for k, (v, u) in metrics.items():
                print(f"metric {k} = {v:.6g} {u}")
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": u}
                                      for k, (v, u) in metrics.items()}}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
