"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The engine and harness are compiled on the
first run (see build.py); every run then works in its own directory under
`.bench_work/`, generates its inputs from the seed, runs one JVM with
Spark `local[nproc]` and one client thread, checks the outputs, and prints
as its last line one JSON object with `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics of BENCHMARK.json untraced, the
per-layer ones traced).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("medallion_etl", "curation_intake", "ann_retrieval")
TIMEOUT_S = 170

# the query family reads fixture-sized tables; intake needs enough
# documents for its batches
TABLE_SIZES = {
    "ann_retrieval": dict(docs=500, vectors=500),
    "curation_intake": dict(docs=1400, vectors=16),
}

def die(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def git_commit():
    """The checkout's commit, or `unknown` outside a git work tree of its own."""
    def git(*args):
        return subprocess.run(["git", *args], cwd=ROOT, text=True, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL).stdout.strip()
    try:
        if os.path.realpath(git("rev-parse", "--show-toplevel") or "/") != os.path.realpath(ROOT):
            return "unknown"
        return git("rev-parse", "--short", "HEAD") or "unknown"
    except OSError:
        return "unknown"


def run_jvm(out, args, work, timeout):
    cmd = build.java_cmd(ROOT, work, f"-XX:SharedArchiveFile={out}/classes.jsa") + args
    with open(f"{work}/jvm.out", "w") as so, open(f"{work}/jvm.err", "w") as se:
        p = subprocess.Popen(cmd, stdout=so, stderr=se, env=build.java_env(work), cwd=work,
                             start_new_session=True)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            die(f"JVM exceeded {timeout:.0f}s")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    lines = [l for l in open(f"{work}/jvm.out") if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        sys.stderr.write("".join(open(f"{work}/jvm.err").readlines()[-40:]))
        die(f"JVM exited with {p.returncode} and no result")
    return json.loads(lines[-1][len("PERFBENCH "):])


def check_digest(workload, seed, digest, errors):
    """Outputs that depend only on the seed must match earlier runs of it."""
    if not digest:
        return
    path = os.path.join(ROOT, ".bench_work", "digests", f"{workload}-{seed}")
    if os.path.exists(path):
        prev = open(path).read()
        if prev != digest:
            errors.append(f"output digest {digest} differs from an earlier run of seed {seed}: {prev}")
    else:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    out = build.ensure(ROOT)

    t0 = time.time()  # set-up starts here: the build is not set-up
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    build.make_work(work)
    try:
        if a.workload in TABLE_SIZES:
            import tables
            tables.generate(f"{work}/tables", a.seed, **TABLE_SIZES[a.workload])
        res = run_jvm(out, [a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
                                str(int(t0 * 1000))], work, TIMEOUT_S - (time.time() - start))
        errors = list(res["errors"])
        if a.workload == "ann_retrieval":
            import oracle
            errors += oracle.compare(f"{work}/tables", f"{work}/results")
        check_digest(a.workload, a.seed, res["digest"], errors)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    key = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in spec[key]:
        v = res["metrics"].get(m["name"])
        if v is None and a.trace:
            v = 0.0  # a layer this workload does not exercise
        if v is None:
            errors.append(f"metric {m['name']} was not measured")
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted = max(1, res["attempted"])
    failed = res["failed"] + (1 if errors and res["failed"] == 0 else 0)
    for e in errors:
        print(f"error: {e}")
    print(f"context: workload={a.workload} seed={a.seed} cores={res['cores']} "
          f"heap_max_gb={res['heap_max_gb']:.1f} commit={git_commit()} loadavg_1m={res['loadavg_1m']} "
          f"gc_s={res['gc_s']:.2f} samples={res['samples']} wall_s={time.time() - start:.1f}")
    print(json.dumps({"correct": not errors and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
