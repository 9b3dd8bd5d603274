#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use (sbt,
cached under .bench_build/perfbench), generates the workload's inputs from
the seed, runs the measurement in one JVM, checks the outputs, and prints
as its last stdout line one JSON object with `correct`, `attempted`,
`failed` and `metrics`. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer ones and writes the recorded spans. Exits 1
when a correctness check fails, 2 when the program sources are missing,
3 when the build fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("sql_analyst", "curation", "lake_dml", "speed_layer")
SETUP_REPS = 3
HEAP = "3g"
RUN_LIMIT_S = 170.0

# tables (None: all, as the oracle compare reads every table) and sizes
# each workload generates per setup repetition
INPUTS = {
    "sql_analyst": (None, dict(
        n_lineitem=60000, n_events=10000, event_days=30, n_docs=1, n_embeddings=1)),
    "curation": (None, dict(
        n_lineitem=4, n_events=1, event_days=1, n_docs=48, n_embeddings=1)),
    "lake_dml": (["events"], dict(
        n_lineitem=4, n_events=5000, event_days=1, n_docs=1, n_embeddings=1)),
    "speed_layer": ([], None),
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    """Usable cores: the affinity mask, clamped to a cgroup CPU quota."""
    n = len(os.sched_getaffinity(0))
    try:
        quota, period = open("/sys/fs/cgroup/cpu.max").read().split()
        if quota != "max":
            n = min(n, max(1, -(-int(quota) // int(period))))
    except (OSError, ValueError):
        pass
    return n


def host_shape():
    shape = {"nproc": len(os.sched_getaffinity(0)), "cpus_used": cpus()}
    try:
        shape["cgroup_cpu_max"] = open("/sys/fs/cgroup/cpu.max").read().strip()
    except OSError:
        shape["cgroup_cpu_max"] = None
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                shape["mem_total_kb"] = int(line.split()[1])
    except OSError:
        pass
    return shape


def git_sha():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def fingerprint():
    """Hash of every build input, to decide whether the cached build is stale."""
    h = hashlib.sha256(HEAP.encode())
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")]:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(cache):
    """Compile graft and the benchmark; returns (classpath, jvm options)."""
    spec, stamp = os.path.join(cache, "launch.txt"), os.path.join(cache, "launch.fingerprint")
    fp = fingerprint()
    if not (os.path.exists(spec) and os.path.exists(stamp) and open(stamp).read() == fp):
        log("building graft and the benchmark with sbt")
        env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
        env.setdefault("COURSIER_MODE", "offline")
        with open(os.path.join(cache, "build.log"), "w") as out:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                timeout=850).returncode
        if rc != 0:
            log(open(os.path.join(cache, "build.log")).read()[-4000:])
            log(f"build failed (exit {rc})")
            sys.exit(3)
        shutil.copyfile(os.path.join(HERE, "target", "launch.txt"), spec)
        with open(stamp, "w") as f:
            f.write(fp)
    lines = open(spec).read().splitlines()
    return lines[0], [x for x in lines[1:] if x]


def run_jvm(cmd, log_path, timeout_s):
    """Run the measurement JVM in its own process group; kill the group on
    timeout, or when this process is told to stop."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return p.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def check_batch(input_dir, check_dir):
    """Compare every dumped key with its DuckDB oracle through
    scripts/check_oracle.py, the repository's own compare; returns failures."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check_oracle.py"),
                        input_dir, check_dir], capture_output=True, text=True, timeout=120)
    failures = [line for line in p.stdout.splitlines() if line.startswith("FAIL")]
    if p.returncode != 0 and not failures:
        failures.append(f"check_oracle.py exited {p.returncode}: {p.stderr[-500:]}")
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"graft sources not found: {os.path.join(ROOT, need)} is missing")
            sys.exit(2)

    cache = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(cache, "work")
    runs = os.path.join(cache, "runs")
    os.makedirs(cache, exist_ok=True)
    classpath, jvm_opts = build(cache)

    t_start = time.monotonic()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(runs, exist_ok=True)

    import gen  # numpy/pyarrow only after the build, so a missing tree fails fast
    names, sizes = INPUTS[a.workload]
    inputs, input_s, row_counts = [], [], {}
    for rep in range(SETUP_REPS):
        d = os.path.join(work, "inputs", f"rep{rep}")
        os.makedirs(d)
        t0 = time.perf_counter()
        if sizes is not None:
            row_counts = gen.write(d, a.seed, names=names, **sizes)
        input_s.append(time.perf_counter() - t0)
        inputs.append(d)

    out = os.path.join(work, "result.json")
    main_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--cpus", str(cpus()), "--work", work,
                 "--inputs", ",".join(inputs),
                 "--inputs-s", ",".join(f"{x:.6f}" for x in input_s), "--out", out]
    cmd = ["java", *jvm_opts, "-cp", classpath, "graftbench.Main", *main_args]
    # Spark's temporary checkpoints land in the checkout, not in /tmp
    cmd[1:1] = [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    jvm_log = os.path.join(work, "jvm.log")
    rc = run_jvm(cmd, jvm_log, RUN_LIMIT_S - (time.monotonic() - t_start))
    if rc != 0 or not os.path.exists(out):
        log(open(jvm_log, errors="replace").read()[-6000:])
        log("measurement JVM " + ("timed out" if rc is None else f"exited {rc}"))
        sys.exit(1)

    res = json.load(open(out))
    errors = list(res["errors"])
    failed, attempted = res["failed"], res["attempted"]
    check_dir = res["record"].get("oracle_dir")
    if check_dir:
        bad = check_batch(inputs[-1], check_dir)
        failed += len(bad)
        errors += bad
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e, layer = res["end_to_end"], res["per_layer"]
    for name in (m["name"] for m in spec["end_to_end"]):
        if not isinstance(e2e.get(name), (int, float)):
            failed += 1
            errors.append(f"metric {name} has no samples")

    last_path = os.path.join(cache, f"last_untraced_{a.workload}.json")
    if a.trace == 0:
        json.dump(e2e, open(last_path, "w"))
    else:
        # tracing overhead: this run's op latency against the last untraced
        # run in this checkout, else the recorder's own share of the wall
        base = json.load(open(last_path)) if os.path.exists(last_path) else {}
        now, then = e2e.get("op_ms"), base.get("op_ms")
        layer["trace.overhead_pct"] = (100.0 * (now - then) / then if now and then
                                       else 100.0 * layer.get("trace.recorder_share", 0.0))

    correct = failed == 0
    # every metric BENCHMARK.json names; a layer this workload does not
    # exercise reports 0
    chosen, values = ((spec["end_to_end"], e2e) if a.trace == 0 else (spec["per_layer"], layer))
    out_metrics = {}
    for m in chosen:
        v = values.get(m["name"])
        out_metrics[m["name"]] = {"value": float(v) if isinstance(v, (int, float)) else 0.0,
                                  "unit": m["unit"]}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_sha": git_sha(), "host": host_shape(),
        "input_rows": row_counts, "input_sizes": sizes,
        "correct": correct, "attempted": attempted, "failed": failed, "errors": errors,
        "end_to_end": e2e, "per_layer": layer, "jvm": res["record"],
        "run_wall_s": time.monotonic() - t_start,
    }
    stem = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    json.dump(record, open(stem + ".json", "w"), indent=1)
    if a.trace == 1 and os.path.exists(out + ".spans.json"):
        shutil.copyfile(out + ".spans.json", stem + ".spans.json")
    for e in errors[:20]:
        log(f"FAILED {e}")
    log(f"run record: {stem}.json")
    if correct:  # a failed run keeps its work directory for diagnosis
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
