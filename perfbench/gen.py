"""Seeded run-summary generator and state model for the benchmark.

Expands the ten fixture run summaries under src/test/resources/fixtures/
into any number of distinct, schema-valid runs per pipeline, and turns a
workload name plus a seed into:

  corpus   the runs bulk-loaded into the warehouse before timing (batches
           of one pipeline each); the same for every seed
  ops      the seeded request stream, each op with its expected outcome
  model    per-run facts (owner, pipeline, unit counts, md5 of the bytes)
           from which the expected final state is computed

Ops name runs and samples by their labels, as `{run:<runName>}` and
`{sample:<runName>/<sampleName>}`; the harness replaces these with the ids
the program assigned, so the benchmark does not depend on how ids are made.

Everything is a pure function of (workload, seed): the same seed gives
byte-identical inputs.
"""

import copy
import hashlib
import json
import os
import random

PIPELINES = ["maple", "pref", "pann", "plain"]
PIPELINE_WEIGHTS = [0.4, 0.2, 0.2, 0.2]
USERS = ["alice", "bob", "carol", "dave"]
ADMIN = "admin"
PASSWORD = "Bench1Pass"

# Corpus shared by both service workloads. It does not depend on the run's
# seed, so one built copy serves every run of a checkout; the seed drives
# the op stream and the runs it uploads.
CORPUS_SEED = 0
# Seed of the read ops' shapes, fixed for the same reason: with a few dozen
# ops per run, a seed that drew more full-table queries or more point reads
# of maple runs (the pipeline with the most units per run) than another
# would move the run's median by itself.
SHAPE_SEED = 1
CORPUS_RUNS = 2000
CORPUS_BATCHES = 8

# The traffic weights below (route mixes, pipeline shares, upload outcomes,
# bulk batch size) are assumptions, not measured traffic; README.md gives the
# reason for each value.

# Route mixes, as op counts per cycle. Routes follow one fixed interleaved
# cycle (the seed picks targets, parameters and contents, not the order), so
# even the few ops of a short run have close to the nominal mix.
READ_MIX = {"stats": 6, "aggregate": 3, "run_get": 3, "download": 3,
            "list_runs": 3, "stats_runs": 2}
WRITE_MIX = {"upload": 5, "patch": 2, "delete": 2, "bulk": 1}
# uploads cycle through these outcomes: a new run (201), a repeat of a
# stored run (409) and a schema violation (422)
UPLOAD_KINDS = ["new", "new", "duplicate", "new", "new", "new", "invalid", "new"]
PATCH_KINDS = ["rename", "tag", "sample"]
BULK_RUNS = 40


def md5hex(data):
    return hashlib.md5(data).hexdigest()


def load_templates(fixtures):
    out = {}
    for p in PIPELINES:
        d = os.path.join(fixtures, p)
        out[p] = [json.load(open(os.path.join(d, f)))
                  for f in sorted(os.listdir(d)) if f.endswith(".json")]
        if not out[p]:
            raise SystemExit(f"no {p} fixtures under {fixtures}")
    return out


class Run:
    """One generated run summary and the facts the model needs about it."""

    def __init__(self, pipeline, uploader, doc):
        self.pipeline = pipeline
        self.uploader = uploader
        self.name = doc["runName"]
        self.content = json.dumps(doc, separators=(",", ":")).encode()
        self.md5 = md5hex(self.content)
        self.ref = "{run:%s}" % self.name
        self.samples = []      # (sample placeholder, number of read groups)
        if pipeline in ("maple", "pref", "pann"):
            for sname, s in doc["samples"].items():
                n_rg = len(s.get("readGroups", {})) if pipeline == "maple" else 0
                self.samples.append(("{sample:%s/%s}" % (self.name, sname), n_rg))

    @property
    def n_samples(self):
        return len(self.samples)

    @property
    def n_read_groups(self):
        return sum(n for _, n in self.samples)

    def facts(self):
        return [self.name, self.pipeline, self.uploader, self.md5,
                self.n_samples, self.n_read_groups, len(self.content)]

    def upload_row(self):
        return {"fileName": f"{self.name}.json", "uploaderId": self.uploader,
                "content": self.content.decode()}


class Generator:
    def __init__(self, fixtures, seed, tag):
        self.templates = load_templates(fixtures)
        self.rng = random.Random(seed)
        self.tag = tag
        self.serial = 0

    def _samples(self, template, make):
        n = max(1, len(template["samples"]) + self.rng.randint(-1, 2))
        return {f"S{i}": make(i) for i in range(n)}

    def doc(self, pipeline):
        r = self.rng
        t = copy.deepcopy(r.choice(self.templates[pipeline]))
        self.serial += 1
        name = f"{pipeline.capitalize()}_{self.tag}_{self.serial}"
        if pipeline == "maple":
            def sample(_):
                rgs = {}
                for j in range(r.randint(1, 3)):
                    reads = r.randint(1000, 200000)
                    rgs[f"rg{j + 1}"] = {"nReadsInput": reads,
                                         "nReadsAligned": int(reads * r.uniform(0.5, 0.99))}
                return {"readGroups": rgs, "nSnps": r.randint(10, 900)}
            return {"runName": name, "samples": self._samples(t, sample)}
        if pipeline in ("pref", "pann"):
            t["runName"] = name
            t["samples"] = self._samples(t, lambda _: {"num": r.randint(1, 1000)})
            return t
        # plain: any non-empty object
        return {"runName": name, "a": r.randint(0, 10 ** 6),
                "values": [r.randint(0, 99) for _ in range(r.randint(1, 6))]}

    def run(self, pipeline=None):
        pipeline = pipeline or self.rng.choices(PIPELINES, PIPELINE_WEIGHTS)[0]
        return Run(pipeline, self.rng.choice(USERS), self.doc(pipeline))

    def invalid(self, pipeline):
        """A well-formed JSON upload the pipeline's schema rejects (422)."""
        self.serial += 1
        name = f"Bad_{self.tag}_{self.serial}"
        if pipeline == "maple":
            return self.rng.choice([
                {"runName": name, "samples": {"S": {"nSnps": 5}}},
                {"runName": name, "samples": {"S": {"nSnps": "many", "readGroups": {
                    "rg1": {"nReadsInput": 1, "nReadsAligned": 1}}}}},
                {"samples": {"S": {"nSnps": 5, "readGroups": {}}}},
            ])
        if pipeline == "pref":
            return {"runName": name, "samples": {"S": {"num": 1}}}
        return {"runName": name, "annotations": {"bed": {"path": "/x.bed"}},
                "samples": {"S": {"num": 1}}}


def routes(mix, n_ops):
    """n_ops route names in smooth weighted round-robin order."""
    total = sum(mix.values())
    credit = dict.fromkeys(mix, 0)
    out = []
    while len(out) < n_ops:
        for r, k in mix.items():
            credit[r] += k
        pick = max(credit, key=credit.get)
        credit[pick] -= total
        out.append(pick)
    return out


def build_corpus(gen):
    """CORPUS_RUNS runs in CORPUS_BATCHES single-pipeline bulk batches."""
    runs = [gen.run() for _ in range(CORPUS_RUNS)]
    by_pipe = {p: [x for x in runs if x.pipeline == p] for p in PIPELINES}
    per_pipe = CORPUS_BATCHES // len(PIPELINES)
    batches = []
    for k in range(per_pipe):
        for p in PIPELINES:
            rs = by_pipe[p]
            chunk = rs[k * len(rs) // per_pipe:(k + 1) * len(rs) // per_pipe]
            batches.append({"pipeline": p, "runs": chunk})
    return runs, batches


def q(**kv):
    return "&".join(f"{k}={v}" for k, v in kv.items() if v is not None)


def rollup(live):
    out = {}
    for p in PIPELINES:
        rs = [x for x in live if x.pipeline == p]
        if rs:
            out[p] = [len(rs), sum(x.n_samples for x in rs), sum(x.n_read_groups for x in rs)]
    return out


# ---- read workload -----------------------------------------------------------

def read_ops(gen, runs, n_ops):
    """Reads whose shapes (pipeline, unit level, how many runs a query
    names, limit, sort, filters, the user whose runs are listed) come from
    a fixed sequence, the same for every seed, so every seed asks the same
    kinds of query; the seed picks the runs they name."""
    r = gen.rng
    shape = random.Random(SHAPE_SEED)
    by_pipe = {p: [x for x in runs if x.pipeline == p] for p in PIPELINES}
    by_user = {u: [x for x in runs if x.uploader == u] for u in USERS}
    ops = []
    for i, route in enumerate(routes(READ_MIX, n_ops)):
        op = {"id": i, "route": route}
        if route in ("stats", "aggregate"):
            p = shape.choice(["maple", "maple", "pref", "pann"])
            level = shape.choice(["sample", "readGroup"]) if p == "maple" else "sample"
            chosen = by_pipe[p]
            if shape.random() < 0.5:
                chosen = r.sample(chosen, shape.randint(1, 8))
                ids = ",".join(x.ref for x in chosen)
            else:
                ids = None
            units = sum(x.n_samples if level == "sample" else x.n_read_groups
                        for x in chosen)
            lib = "paired" if p == "maple" and level == "readGroup" and shape.random() < 0.3 \
                else None
            params = {"accLevel": level, "runIds": ids, "libType": lib}
            if route == "stats":
                n_limit = shape.choice([None, 10, 100, 1000])
                params.update(nLimit=n_limit, timeSorted="true" if shape.random() < 0.5 else None)
                rows = units if n_limit is None else min(units, n_limit)
                op.update(pipeline=p, params=params, path=f"/stats/{p}?{q(**params)}",
                          expect={"status": 200, "rows": rows})
            else:
                metrics = (["nSnps"] if level == "sample" else
                           ["nReadsInput", "nReadsAligned"]) if p == "maple" else ["num"]
                op.update(pipeline=p, params=params,
                          path=f"/stats/{p}/aggregate?{q(**params)}",
                          expect={"status": 200, "rows": 1, "n": {m: units for m in metrics}})
        elif route in ("run_get", "download"):
            x = r.choice(by_pipe[shape.choices(PIPELINES, PIPELINE_WEIGHTS)[0]])
            dl = "true" if route == "download" else None
            op.update(user=x.uploader, runId=x.ref,
                      path=f"/runs/{x.ref}?{q(userId=x.uploader, download=dl)}",
                      expect={"status": 200, "rows": 1, "runId": x.ref}
                      if route == "run_get" else {"status": 200, "md5": x.md5})
        elif route == "list_runs":
            u = shape.choice(USERS)
            p = shape.choice([None, shape.choice(PIPELINES)])
            rows = sum(1 for x in by_user[u] if p is None or x.pipeline == p)
            op.update(user=u, pipelines=p, path=f"/runs?{q(userId=u, pipelines=p)}",
                      expect={"status": 200, "rows": rows})
        else:
            op.update(path="/stats/runs", expect={"status": 200, "rollup": rollup(runs)})
        ops.append(op)
    return ops, []


# ---- write workload ----------------------------------------------------------

def write_ops(gen, runs, n_ops):
    """Writes whose outcomes do not depend on the order they run in: every
    delete and patch targets its own corpus run, and a duplicate upload only
    ever repeats a corpus run that is never deleted. Each route cycles
    through the pipelines (and patches through their kinds) in a fixed
    order, so a short run does the same kinds of work whatever the seed."""
    r = gen.rng
    keep, doomed = {}, {}
    for p in PIPELINES:
        pool = [x for x in runs if x.pipeline == p]
        r.shuffle(pool)
        keep[p] = pool[:len(pool) // 2]          # never deleted: patch + dup targets
        doomed[p] = iter(pool[len(pool) // 2:])  # deleted once each
    patchable = {p: iter(keep[p]) for p in PIPELINES}
    turns = {}

    def turn(key, choices):
        """The next of `choices`, in order, for this key."""
        turns[key] = turns.get(key, -1) + 1
        return choices[turns[key] % len(choices)]

    ops, new_runs = [], []
    for i, route in enumerate(routes(WRITE_MIX, n_ops)):
        op = {"id": i, "route": route}
        if route == "upload":
            kind = turn("upload", UPLOAD_KINDS)
            if kind == "duplicate":
                x = r.choice(keep[turn(kind, PIPELINES)])
                op.update(user=x.uploader, pipeline=x.pipeline, body=x.content.decode(),
                          expect={"status": 409, "runId": x.ref})
            elif kind == "invalid":
                p = turn(kind, ["maple", "pref", "pann"])
                op.update(user=r.choice(USERS), pipeline=p,
                          body=json.dumps(gen.invalid(p), separators=(",", ":")),
                          expect={"status": 422})
            else:
                x = gen.run(pipeline=turn(kind, PIPELINES))
                new_runs.append((i, x))
                op.update(user=x.uploader, pipeline=x.pipeline, body=x.content.decode(),
                          expect={"status": 201})
            op.update(kind=kind, path=f"/runs?{q(userId=op['user'], pipeline=op['pipeline'])}")
        elif route == "patch":
            x = next(patchable[turn(route, PIPELINES)])
            patch, counts = patch_for(r, x, i, turn("patch kind", PATCH_KINDS))
            op.update(user=x.uploader, runId=x.ref, body=json.dumps(patch),
                      path=f"/runs/{x.ref}?userId={x.uploader}",
                      expect={"status": 200, "counts": counts})
        elif route == "delete":
            x = next(doomed[turn(route, PIPELINES)])
            op.update(user=x.uploader, runId=x.ref, target=x.name,
                      path=f"/runs/{x.ref}?userId={x.uploader}", expect={"status": 204})
        else:
            p = turn(route, PIPELINES)
            batch = [gen.run(pipeline=p) for _ in range(BULK_RUNS)]
            new_runs.extend((i, x) for x in batch)
            op.update(pipeline=p, runs=[x.upload_row() for x in batch],
                      expect={"count": len(batch)})
        ops.append(op)
    return ops, new_runs


def patch_for(r, x, i, kind):
    """A label patch and the (runs, samples, read groups) modified counts.
    Runs without samples (plain) get a tag instead of a sample rename."""
    if kind == "rename":
        return ([{"op": "replace", "path": "/labels/runName", "value": f"renamed_{i}"}],
                [1, x.n_samples, x.n_read_groups])
    if kind == "tag" or not x.samples:
        return ([{"op": "add", "path": "/labels/tags/batch", "value": f"b{i}"}], [1, 0, 0])
    sid, n_rg = r.choice(x.samples)
    return ([{"op": "replace", "path": f"/sampleLabels/{sid}/sampleName",
              "value": f"sample_{i}"}], [1, 1, n_rg])


# ---- entry point -------------------------------------------------------------

def generate(workload, seed, fixtures, out_dir, n_ops):
    """Write corpus.jsonl, ops.jsonl and model.json under out_dir."""
    runs, batches = build_corpus(Generator(fixtures, CORPUS_SEED, tag="c"))
    gen = Generator(fixtures, seed, tag=f"s{seed}")
    make, mix = {"service_read": (read_ops, READ_MIX),
                 "ingest_write": (write_ops, WRITE_MIX)}[workload]
    ops, new_runs = make(gen, runs, n_ops)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "corpus.jsonl"), "w") as f:
        for b in batches:
            f.write(json.dumps({"pipeline": b["pipeline"],
                                "runs": [x.upload_row() for x in b["runs"]]}) + "\n")
    with open(os.path.join(out_dir, "ops.jsonl"), "w") as f:
        for op in ops:
            f.write(json.dumps(op) + "\n")
    model = {
        "users": USERS, "admin": ADMIN, "password": PASSWORD,
        "corpus": [x.facts() for x in runs],
        "new": [[i] + x.facts() for i, x in new_runs],
        # ops in one turn of the route cycle; the timed window holds a whole
        # number of turns, so every run times the same ops
        "cycle": sum(mix.values()),
    }
    with open(os.path.join(out_dir, "model.json"), "w") as f:
        json.dump(model, f)
    return model
