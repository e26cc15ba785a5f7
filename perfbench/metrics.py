"""Metrics from one run's records: end-to-end from the timed passes,
per-layer from the traced passes, the direct layer calls and the Spark
jobs and stages the listener saw."""
import bisect
import statistics
from collections import defaultdict

PHASES = ("build", "plan", "execute")

# Seconds the reference job (see harness Main) took on the 4-core host the
# benchmark was defined on, in a quiet spell: the host speed that
# normalized times are expressed at.
REFERENCE_S = 0.25


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """p-th percentile (0 < p < 100), linear between closest ranks."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


class Trace:
    """Spans, jobs and stages of one run, with jobs attributed to spans."""

    def __init__(self, lines):
        self.spans = {s["id"]: s for s in lines if s["kind"] == "span"}
        self.jobs = [j for j in lines if j["kind"] == "job"]
        self.stages = [s for s in lines if s["kind"] == "stage"]
        self.children = defaultdict(list)
        for s in self.spans.values():
            self.children[s["parent"]].append(s)
        # A job belongs to the span whose id it carries; a job that carries
        # none falls back to the innermost span open when it started.
        leaves = [s for s in self.spans.values() if not self.children[s["id"]]]
        self.by_time = 0
        for j in self.jobs:
            if j["span"] is None:
                inside = [s for s in leaves
                          if s["start_ms"] <= j["start_ms"] <= s["end_ms"]]
                j["span"] = inside[0]["id"] if inside else None
                self.by_time += 1
        self.jobs_of = defaultdict(list)
        for j in self.jobs:
            self.jobs_of[j["span"]].append(j)
        # A stage runs in the first job that lists it; later jobs skip it.
        stage_job = {}
        for j in sorted(self.jobs, key=lambda j: j["job"]):
            for sid in j["stages"]:
                stage_job.setdefault(sid, j)
        self.stages_of = defaultdict(list)
        for s in self.stages:
            j = stage_job.get(s["stage"])
            if j is not None and s["tasks"] > 0:
                self.stages_of[j["job"]].append(s)

    def of_type(self, kind):
        return [s for s in self.spans.values() if s["type"] == kind]

    def passes(self, kind):
        return sorted((p for p in self.of_type("pass") if p["pass"] == kind),
                      key=lambda p: p["id"])

    def queries(self, pass_span):
        return sorted(self.children[pass_span["id"]], key=lambda s: s["id"])


def timed(trace, wrong, scale):
    """Throughput and latency over the timed passes, each query's wall
    multiplied by `scale(query)`. `wrong` holds queries whose checked
    result was wrong: none of their executions counts as answered.
    Latency is taken over answered executions only, so a query that fails
    early cannot read as fast; throughput counts them over the wall of
    every execution."""
    qs = [q for p in trace.passes("timed") for q in trace.queries(p)]
    answered = [q["s"] * scale(q) for q in qs if q["ok"] and q["name"] not in wrong]
    return {
        "throughput_qps": len(answered) / sum(q["s"] * scale(q) for q in qs),
        "latency_p50_s": median(answered) if answered else None,
        "latency_p90_s": percentile(answered, 90) if answered else None,
    }


def end_to_end(trace, setup_s, wrong):
    """End-to-end metrics in host-normalized seconds, and the same figures
    in wall seconds.

    Each query's wall is scaled by REFERENCE_S over the mean time of the
    reference job's runs just before and just after it, so a spell in
    which the shared host runs all Spark work slower does not read as a
    slower program. `setup_s`, a cold start that the warm reference job
    does not track, stays in wall seconds."""
    refs = sorted((r for r in trace.of_type("reference")
                   if r["name"] != "reference-0"), key=lambda r: r["start_ms"])
    starts = [r["start_ms"] for r in refs]

    def scale(q):
        i = bisect.bisect(starts, q["start_ms"])
        return REFERENCE_S / statistics.mean(r["s"] for r in refs[max(i - 1, 0):i + 1])
    m = timed(trace, wrong, scale)
    m["setup_s"] = setup_s
    raw = timed(trace, wrong, lambda q: 1.0)
    raw["reference_s"] = median([r["s"] for r in refs])
    return m, raw


def pass_layer(trace, p, cores):
    """Per-pass totals of the build/plan/execute layers of one pass."""
    out = defaultdict(float)
    for q in trace.queries(p):
        out["plan.exchanges"] += q.get("plan_exchanges", 0)
        out["plan.broadcasts"] += q.get("plan_broadcasts", 0)
        for ph in trace.children[q["id"]]:
            if ph["type"] not in PHASES:
                continue
            key = "exec" if ph["type"] == "execute" else ph["type"]
            jobs = trace.jobs_of[ph["id"]]
            out[f"{key}.s"] += ph["s"]
            out[f"{key}.jobs"] += len(jobs)
            if key != "exec":
                continue
            for j in jobs:
                for st in trace.stages_of[j["job"]]:
                    out["exec.stages"] += 1
                    out["exec.tasks"] += st["tasks"]
                    out["exec.shuffle_write_mb"] += st["shuffle_write_bytes"] / 1e6
                    out["exec.shuffle_read_mb"] += st["shuffle_read_bytes"] / 1e6
                    out["exec.spill_mb"] += st["spill_bytes"] / 1e6
                    out["exec.cpu_s"] += st["cpu_ns"] / 1e9
                    out["exec.gc_s"] += st["gc_ms"] / 1e3
                    out["exec.run_s"] += st["run_ms"] / 1e3
    jobs = max(out["exec.jobs"], 1)
    out["exec.tasks_per_job"] = out["exec.tasks"] / jobs
    out["exec.s_per_job"] = out["exec.s"] / jobs
    out["exec.core_util"] = out["exec.run_s"] / max(out["exec.s"] * cores, 1e-9)
    del out["exec.run_s"]
    return out


def per_layer(trace, cores):
    traced = trace.passes("traced")
    untraced = trace.passes("untraced")
    per_pass = [pass_layer(trace, p, cores) for p in traced]
    m = {k: median([pp[k] for pp in per_pass]) for k in set().union(*per_pass)}

    first = trace.passes("warmup")[0]
    m["build.jobs_first_pass"] = sum(
        len(trace.jobs_of[s["id"]]) for q in trace.queries(first)
        for s in trace.children[q["id"]] if s["type"] == "build")

    layers = trace.of_type("layer")

    def by_rep(prefix):
        reps = defaultdict(lambda: [0.0, 0])
        for s in layers:
            if s["name"].startswith(prefix):
                reps[s["rep"]][0] += s["s"]
                reps[s["rep"]][1] += len(trace.jobs_of[s["id"]])
        return ([r[0] for r in reps.values()], [r[1] for r in reps.values()])

    secs, jobs = by_rep("tables.")
    m["tables.load_s"], m["tables.load_jobs"] = median(secs), median(jobs)
    for op in ("cc", "pagerank", "kcore", "gram_pca"):
        secs, jobs = by_rep(f"operators.{op}")
        m[f"operators.{op}_s"], m[f"operators.{op}_jobs"] = median(secs), median(jobs)
    for fn in ("cosine", "int_dot", "word_ngrams", "lsh_bucket", "top_cells"):
        spans = [s for s in layers if s["name"] == f"functions.{fn}"]
        m[f"functions.{fn}.rows_per_s"] = spans[0]["rows"] / median([s["s"] for s in spans])

    m["cache.retained_mb"] = statistics.mean(
        q["retained_mb"] for p in traced for q in trace.queries(p))

    def wall(passes):
        return sum(q["s"] for p in passes for q in trace.queries(p))
    m["trace.overhead_ratio"] = wall(traced) / wall(untraced)
    return m


def self_checks(trace):
    """The trace's own invariants, over the traced passes:
    phase_gap — largest |wall - (build + plan + execute)| / wall of a query;
    jobs_total / jobs_attributed — jobs the listener saw start inside the
    traced passes, and those attributed to a build, plan or execute span."""
    traced = trace.passes("traced")
    gap = 0.0
    attributed = 0
    for p in traced:
        for q in trace.queries(p):
            phases = [s for s in trace.children[q["id"]] if s["type"] in PHASES]
            gap = max(gap, abs(q["s"] - sum(s["s"] for s in phases)) / q["s"])
            attributed += sum(len(trace.jobs_of[s["id"]]) for s in phases)
    lo = min(p["start_ms"] for p in traced)
    hi = max(p["end_ms"] for p in traced)
    total = sum(1 for j in trace.jobs if lo <= j["start_ms"] <= hi)
    return {"phase_gap": gap, "jobs_total": total,
            "jobs_attributed": attributed, "jobs_by_time": trace.by_time}
