#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one report.

    python3 perfbench/run.py --workload export --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft and the
benchmark runner with sbt (offline); later runs reuse the build until a
source changes. The run generates the seed's inputs, measures set-up
(JVM start to a ready SparkSession and one warm-up job), then runs one
closed-loop client: a cold first pass and warm passes for `--seconds`
(at least three). Every output is checked outside the timed region: query
keys against their DuckDB oracle and the first pass's fingerprint, export
packages by structure, digest and an import round trip. With `--trace 1`
the run reports per-layer metrics instead of end-to-end ones.

It prints a readable report, then, as the last line of stdout, one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--out FILE`
also appends the full run record to FILE (see report.py). Everything the
benchmark writes goes under perfbench/.work.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import inputs  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ["export", "analytics"]
RUN_TIMEOUT_S = 170

END_TO_END = [("setup_s", "s"), ("first_pass_s", "s"), ("pass_s", "s"), ("heap_peak_mb", "MB")]

JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]] + [
    "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap():
    """Half the machine's memory, between 2 and 8 GiB, as graft's test runs use."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the runner once per source state; return the classpath."""
    for p in ["build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")]:
        if not os.path.isfile(os.path.join(ROOT, p)):
            raise SystemExit(f"[perfbench] graft sources not found ({p}); run from a full checkout")
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = sources_stamp(), os.path.join(out, "classpath")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    cmd = ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    log("building graft and the runner with sbt")
    t0 = time.time()
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                              text=True, timeout=870)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def jvm(cp, run_dir, args, deadline):
    out = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", *JVM_FLAGS, "-cp", cp,
           "perfbench.Main", "--work", run_dir, "--out", out, *args]
    t0 = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "a") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("[perfbench] run exceeded its time limit")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as lf:
            sys.stderr.write("".join(lf.readlines()[-30:]))
        raise SystemExit(f"[perfbench] runner exited with {rc}")
    log(f"runner took {time.time() - t0:.1f} s")
    with open(out) as f:
        return json.load(f)


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def evaluate(res, data_dir, seed):
    """Count attempted and failed operations. The runner compares every
    pass's output with the first pass's; a key whose dumped output
    differs from its DuckDB oracle therefore fails in every pass."""
    import oracle  # DuckDB and pandas load only when a run has outputs to compare
    oracle_cache = os.path.join(WORK, "oracle", f"seed-{seed}")
    bad = {}
    for key, dump in res["dumps"].items():
        sql = res["oracle_sql"].get(key)
        if sql is not None:
            t0 = time.time()
            try:
                bad[key] = oracle.check(data_dir, key, sql, dump, oracle_cache)
            except Exception as e:  # an oracle that cannot run is a failed check
                bad[key] = [f"{key}: oracle error {type(e).__name__}: {e}"]
            log(f"checked {key} against its oracle in {time.time() - t0:.1f} s")
    attempted = failed = 0
    problems = []
    for p in res["passes"]:
        for op in p["ops"]:
            attempted += 1
            probs = op["problems"] + bad.get(op["name"], [])
            if probs:
                failed += 1
                problems += [f"pass {p['id']} {op['name']}: {x}" for x in probs]
    return attempted, failed, sorted(set(problems))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="append the full run record to this JSON-lines file")
    a = ap.parse_args()
    deadline = time.time() + RUN_TIMEOUT_S

    cp = build()
    deadline = max(deadline, time.time() + 150)  # a fresh build does not eat the run's budget
    data_dir = inputs.generate(a.seed, os.path.join(WORK, "data"))
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = jvm(cp, run_dir, ["--workload", a.workload, "--data", data_dir,
                                "--seconds", str(a.seconds), "--trace", str(a.trace)], deadline)
        attempted, failed, problems = evaluate(res, data_dir, a.seed)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    untimed = [p for p in res["passes"] if not p["traced"]]
    warm = [p["wall_ms"] / 1000 for p in untimed[1:]] or [untimed[0]["wall_ms"] / 1000]
    samples = {
        "setup_s": [res["setup_s"]],
        "first_pass_s": [res["passes"][0]["wall_ms"] / 1000],
        "pass_s": warm,
        "heap_peak_mb": [res["heap_peak_mb"]],
    }
    units = dict(END_TO_END)
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"passes {len(res['passes'])}  ops attempted {attempted}  failed {failed}")
    for name, xs in samples.items():
        q1, med, q3 = quartiles(xs)
        print(f"  {name:<14} {med:12.4f} {units[name]:<4} q1 {q1:.4f}  q3 {q3:.4f}  n={len(xs)}")
    for p in res["passes"]:
        ops = "  ".join(f"{o['name']} {o['ms'] / 1000:.3f}s" for o in p["ops"])
        print(f"  pass {p['id']}{' traced' if p['traced'] else ''}: {p['wall_ms'] / 1000:.3f} s "
              f"(checks {p['untimed_ms'] / 1000:.1f} s)  {ops}")
    for pr in problems[:20]:
        print(f"  FAILED {pr}")
    if a.trace:
        for k, v in res["layers"].items():
            print(f"  {k:<40} {v:.4f}")
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": quartiles(samples[k])[1], "unit": units[k]} for k, _ in END_TO_END}
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
              "samples": samples, "metrics": metrics, "attempted": attempted, "failed": failed,
              "problems": problems, "spans": res["spans"], "time": time.time()}
    if a.out:
        with open(a.out, "a") as f:
            f.write(json.dumps(record) + "\n")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def layer_unit(name):
    if name.endswith("_ms") or name.endswith(".ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_jobs") or name.endswith(".jobs") or name.endswith("rows_scanned"):
        return "count"
    if name.endswith("_per_s"):
        return "1/s"
    return "ratio"


if __name__ == "__main__":
    main()
