"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark (perfbench/build.py), runs one
workload in a fresh JVM (`local[4]`, one caller thread, closed loop),
checks its outputs, prints every figure of the workload by name and unit,
and ends with one JSON line: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. Exits nonzero when a check fails.
Everything it writes stays under the build dir (`.bench_build`).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = sorted(metrics.CYCLES)
# the JVM's share of the 180 s a run may take once the build is done
JVM_LIMIT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_jvm(cp, args, work, out, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", str(build.BENCH / "data"), "--work", work, "--out", out]
    with subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr) as proc:
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"run exceeded {timeout:.0f} s and was stopped")
            return None


def check_ledger(path, ledger, keep_new):
    """Digests must match every earlier run of the same build, workload
    and seed in this checkout. Returns the mismatching keys. New keys are
    kept only when `keep_new` (the run had no other problem) and nothing
    mismatched, so a failed run never becomes the reference."""
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    bad = [k for k, v in ledger.items() if k in seen and seen[k] != v]
    new = {k: v for k, v in ledger.items() if k not in seen}
    if keep_new and not bad and new:
        seen.update(new)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(seen, f, indent=1, sort_keys=True)
    return bad


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    cp, stamp = build.build()
    out_dir = build.build_dir()
    work = str(out_dir / "work" / f"{args.workload}-{os.getpid()}")
    record_path = os.path.join(work, "record.json")
    shutil.rmtree(work, ignore_errors=True)
    try:
        rc = run_jvm(cp, args, work, record_path, JVM_LIMIT_S)
        if rc != 0 or not os.path.exists(record_path):
            log(f"benchmark JVM failed (exit {rc})")
            return 1
        with open(record_path) as f:
            record = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    runs = out_dir / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    kept = runs / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(kept, "w") as f:
        json.dump(record, f)

    problems = [f"call {c['id']}: {c['error']}" for c in record["calls"] if not c["ok"]]
    problems += [f"check {c['name']}: {c['detail']}" for c in record["checks"] if not c["ok"]]
    try:
        e2e = metrics.end_to_end(record)
    except ValueError as e:
        problems.append(str(e))
        e2e = None
    # one ledger per build: a source change may legitimately change a digest
    ledger = out_dir / "ledger" / stamp[:16] / f"{args.workload}-{args.seed}.json"
    for k in check_ledger(str(ledger), record["ledger"], keep_new=not problems):
        problems.append(f"digest {k} differs from an earlier run of this build with seed {args.seed}")

    mode = "traced" if args.trace else "untraced"
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} {mode}; "
          f"{len(record['calls'])} timed calls")
    print("# set-up rounds " + " ".join(f"{x:.2f}" for x in record["setup_s"])
          + f" s; warm-up {record['warm_s']:.2f} s; measured loop {record['loop_s']:.2f} s")
    print("# steps (wall s / share of the machine's CPU time stolen by the host): "
          + " ".join(f"{st['wall_s']:.2f}/{100 * st['steal']:.1f}%" for st in record["steps"]))
    for name, v in metrics.detail(record).items():
        extra = f" (p{v[3]:.1f})" if len(v) > 3 else ""
        print(f"{name} {fmt(v[0])} {v[1]} n={v[2]}{extra}")
    total, worst = metrics.leak_delta(record["calls"])
    if total:
        print(f"# persisted RDDs grew by {total} over the timed calls; most by {worst}")
    print(f"# run record (calls; spans and job records when traced): {kept}")
    if args.trace:
        for name, (v, unit) in metrics.layers(record).items():
            print(f"{name} {fmt(v)} {unit}")
        untraced = runs / f"{args.workload}-seed{args.seed}-trace0.json"
        if e2e and untraced.exists():
            with open(untraced) as f:
                base = metrics.end_to_end(json.load(f))
            print("# tracing overhead (this run minus the untraced run of this seed): "
                  + ", ".join(f"{k} {e2e[k][0] - base[k][0]:+.4f} {e2e[k][1]}" for k in e2e))
        result = metrics.per_layer(record)
    else:
        result = e2e or {}
    for msg in problems:
        print(f"# FAIL {msg}")
    attempted = len(record["calls"])
    failed = sum(1 for c in record["calls"] if not c["ok"])
    correct = not problems
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
