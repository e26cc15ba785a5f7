#!/usr/bin/env python3
"""The repository's benchmark: one workload of registry queries, timed end
to end on a noop write of every output column, checked against the DuckDB
oracle. See perfbench/README.md.

    python3 perfbench/run.py --workload dataframe --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt (offline) into .bench_build/; later runs reuse the build
while the sources are unchanged. The last line of stdout is the result
JSON; lines before it starting with `#` are the run header and a readable
summary. Exit status: 0 when every result is right, 1 when one is wrong,
2 when the benchmark could not run.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
from oracle import Oracle  # noqa: E402

FIXTURES = HERE / "fixtures" / "sf0.1"
HARNESS = HERE / "harness"
DEADLINE_S = 170          # a run ends within this, build excluded
BUILD_DEADLINE_S = 700
HEAP = "4g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_spec():
    spec = json.loads((HERE / "workloads.json").read_text())
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    return spec, bench


def pass_count(seconds, pass_s, trace):
    """Pass orders a run's plan holds. A traced run times half of them
    traced and half untraced: as many as fill `seconds` at the workload's
    nominal pass time. An untraced run times passes until `seconds` have
    gone by, so its plan holds three times the nominal count."""
    nominal = max(2, round(seconds / pass_s))
    return nominal if trace else 3 * nominal


def plan_for(queries, workload, seed, passes):
    """The run's inputs from its seed: the warm-up order and one order per
    timed pass, each a permutation of the same query set."""
    rng = random.Random(f"{workload}:{seed}")

    def order():
        q = list(queries)
        rng.shuffle(q)
        return q
    return {"warmup": order(), "passes": [order() for _ in range(passes)],
            "verify": sorted(queries)}


def program_files(root):
    """What the program's build reads, relative to `root`: its build files
    and main sources."""
    files = [Path("build.sbt"), Path("project/build.properties")]
    for pattern in ("*.sbt", "*.scala"):
        files += sorted(p.relative_to(root) for p in (root / "project").glob(pattern))
    files += sorted(p.relative_to(root) for p in (root / "src" / "main").rglob("*")
                    if p.is_file())
    for f in files:
        if not (root / f).is_file():
            fail(f"missing {root / f}: run from a full checkout")
    return files


def source_digest(root, files):
    """Digest of everything the build reads: the program's files and the
    harness."""
    harness = sorted(p.relative_to(HARNESS) for p in (HARNESS / "src").rglob("*")
                     if p.is_file())
    harness += [Path("build.sbt"), Path("project/build.properties")]
    h = hashlib.sha256()
    for base, rels in ((root, files), (HARNESS, harness)):
        for f in rels:
            h.update(str(f).encode())
            h.update((base / f).read_bytes())
    return h.hexdigest()


def run_group(argv, log, timeout, **kw):
    """Run argv in its own process group with output to `log`; on timeout
    or when this process is told to stop, kill the whole group and wait
    for it. Returns the exit code, or None on timeout."""
    with open(log, "w") as out:
        proc = subprocess.Popen(argv, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True, **kw)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)
        prior = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            for s, h in prior.items():
                signal.signal(s, h)


def build(root, files, digest, out):
    """Compile the program and the harness once per source digest; return
    the java command prefix.

    The program is built from a copy of its sources in a directory named
    by the digest, never in its own `target/`, so the classes a launch
    file points at are always the ones its digest names: an edit, a
    revert or an `sbt compile` in the checkout cannot change them."""
    key = digest[:16]
    launch = out / f"launch-{key}.txt"
    if not launch.exists():
        program = out / f"program-{key}"
        shutil.rmtree(program, ignore_errors=True)
        for f in files:
            (program / f).parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(root / f, program / f)
        env = dict(os.environ, COURSIER_MODE="offline",
                   PERFBENCH_PROGRAM_ROOT=str(program))
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       "-Dsbt.offline=true -Xmx2g")
        tmp = launch.with_suffix(".part")
        log = out / "build.log"
        try:
            rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            f"benchLaunch {tmp}"], log, BUILD_DEADLINE_S,
                           cwd=HARNESS, env=env)
        except OSError as exc:
            fail(f"cannot start sbt: {exc}")
        if rc != 0 or not tmp.exists():
            sys.stderr.write(log.read_text()[-3000:])
            fail(f"build failed (exit {rc}), log in {log}")
        tmp.rename(launch)
    lines = launch.read_text().splitlines()
    cp = next(l[len("classpath="):] for l in lines if l.startswith("classpath="))
    jvm = [l[len("jvm="):] for l in lines if l.startswith("jvm=")]
    return ["java", *jvm, f"-Xmx{HEAP}", "-cp", cp, "perfbench.Main"]


def child_env():
    """The environment the program sees: no SPARK_GRAFT_* switch, and no
    SPARK_LOCAL_DIRS (it would move Spark's scratch out of the checkout)."""
    dropped = sorted(k for k in os.environ
                     if k.startswith("SPARK_GRAFT_") or k == "SPARK_LOCAL_DIRS")
    return {k: v for k, v in os.environ.items() if k not in dropped}, dropped


def verify_fixtures():
    sums = (FIXTURES / "SHA256SUMS").read_text().split("\n")
    for line in filter(None, sums):
        want, name = line.split()
        got = hashlib.sha256((FIXTURES / name).read_bytes()).hexdigest()
        if got != want:
            fail(f"fixture {name} does not match SHA256SUMS")


def run_jvm(cmd, work, plan, args, cores, env, deadline):
    plan_file = work / "plan.txt"
    plan_file.write_text("warmup " + " ".join(plan["warmup"]) + "\n"
                         + "".join("pass " + " ".join(p) + "\n" for p in plan["passes"])
                         + "verify " + " ".join(plan["verify"]) + "\n")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    argv = cmd[:1] + [f"-Djava.io.tmpdir={work / 'tmp'}"] + cmd[1:] + [
        "--plan", str(plan_file), "--out", str(work),
        "--fixtures", str(FIXTURES), "--cpus", str(cores),
        "--trace", str(args.trace), "--seconds", str(args.seconds),
        "--launch-ms", str(int(time.time() * 1000))]
    log = work / "jvm.log"
    rc = run_group(argv, log, max(deadline - time.monotonic(), 1), cwd=work, env=env)
    if rc is None:
        fail(f"run exceeded its deadline; log in {log}")
    if rc != 0:
        sys.stderr.write(log.read_text()[-3000:])
        fail(f"harness exited {rc}; log in {log}")


def read_jsonl(path):
    return [json.loads(l) for l in path.read_text().splitlines() if l]


def git_sha(root):
    if not (root / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--root", type=Path, default=HERE.parent,
                    help="program checkout to measure (default: this one)")
    args = ap.parse_args()
    root = args.root.resolve()
    out = root / ".bench_build" / "perfbench"

    spec, bench = load_spec()
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload!r}")
    verify_fixtures()
    wl = spec["workloads"][args.workload]
    files = program_files(root)
    digest = source_digest(root, files)
    cmd = build(root, files, digest, out)
    deadline = time.monotonic() + DEADLINE_S

    cores = len(os.sched_getaffinity(0))
    plan = plan_for(wl["queries"], args.workload, args.seed,
                    pass_count(args.seconds, wl["pass_s"], args.trace))
    work = out / "runs" / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env, dropped = child_env()
    run_jvm(cmd, work, plan, args, cores, env, deadline)

    records = read_jsonl(work / "records.jsonl")
    trace = metrics.Trace(read_jsonl(work / "trace.jsonl"))
    env_rec = next(r for r in records if r["kind"] == "env")
    header = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "git_sha": git_sha(root), "source_sha256": digest,
        "nproc": cores, "spark": env_rec["spark"], "java": env_rec["java"],
        "scala": env_rec["scala"], "heap": HEAP,
        "session_conf": env_rec["conf"],
        "scrubbed_env": dropped, "fixtures": "perfbench/fixtures/sf0.1",
        "queries": wl["queries"], "warmup_order": plan["warmup"],
        "timed_passes": len(trace.passes("traced" if args.trace else "timed")),
    }
    print("# header " + json.dumps(header))

    # Correctness: outside the timed passes, every query's full result.
    oracle = Oracle(root, FIXTURES)
    wrong = {}
    for r in (r for r in records if r["kind"] == "verify"):
        err = r["error"] or oracle.check(
            work / "results" / r["q"], r["sql"],
            spec["digests"].get(r["q"]))
        if err:
            wrong[r["q"]] = err
            print(f"# WRONG {r['q']}: {err}")
    missing = set(wl["queries"]) - {r["q"] for r in records if r["kind"] == "verify"}
    for q in missing:
        wrong[q] = "not verified"

    if args.trace:
        m = metrics.per_layer(trace, cores)
        specs, kinds = bench["per_layer"], ("untraced", "traced")
        print("# checks " + json.dumps(metrics.self_checks(trace)))
        spans = out / "trace" / f"{args.workload}-seed{args.seed}.spans.jsonl"
        spans.parent.mkdir(parents=True, exist_ok=True)
        shutil.copy(work / "trace.jsonl", spans)
        print(f"# spans {spans}")
    else:
        setup_s = next(r["s"] for r in records if r["kind"] == "setup")
        m, raw = metrics.end_to_end(trace, setup_s, wrong)
        specs, kinds = bench["end_to_end"], ("timed",)
    qs = [q for k in kinds for p in trace.passes(k) for q in trace.queries(p)]
    attempted = len(qs)
    failed = sum(1 for q in qs if not q["ok"] or q["name"] in wrong)
    if not args.trace:
        retained = next(r["mb"] for r in records if r["kind"] == "retained")
        n, ok = attempted, attempted - failed
        passes = len(trace.passes("timed"))
        print(f"# throughput_qps {m['throughput_qps']:.4f} 1/s  "
              f"(wall {raw['throughput_qps']:.4f})  n={passes} passes, {ok} correct queries")
        for k in ("latency_p50_s", "latency_p90_s"):
            print(f"# {k} {m[k] or 0:.4f} s  (wall {raw[k] or 0:.4f})  n={ok} correct queries")
        print(f"# setup_s {m['setup_s']:.4f} s  n=1 (launch to end of warm-up pass)")
        print(f"# reference_s {raw['reference_s']:.4f} s  n={n + 1}")
        print(f"# failed_ratio {failed / n:.4f}  n={n}")
        print(f"# retained_cache_mb {retained:.3f} MB  n=1")
    shutil.rmtree(work / "results", ignore_errors=True)
    shutil.rmtree(work / "spark-local", ignore_errors=True)
    correct = not wrong and failed == 0
    result = {x["name"]: {"value": m[x["name"]], "unit": x["unit"]} for x in specs}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
