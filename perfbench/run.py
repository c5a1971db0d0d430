#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the harness from
source (once per source state), runs one workload in one JVM on
local[nproc], checks its outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 the
per-layer metrics of a separate traced run. A fuller record (host shape,
every sample, warm-up curve, exact/varying counts) goes to
.bench_build/results/, and a traced run also writes its spans there.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "harness", "launch.txt")
EXPECTED = os.path.join(HERE, "expected", "entries.json")
# the warehouse directory some entries keep fixtures in (graft's own
# constant); the harness file system maps it into the work directory
WAREHOUSE = "/tmp/graft_warehouse"
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
# per-layer counts reported as totals over the traced units, not medians
TOTALS = {"ledger.skips", "ledger.skips_expected"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(LAUNCH) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
                                "-J-XX:-UsePerfData", "bench/launchFile"],
                               cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out", 3)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        sys.stderr.write(open(os.path.join(BUILD, "build.log")).read()[-3000:])
        fail("build failed", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp


def run_jvm(args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    launch = open(LAUNCH).read().split("\n")[:-1]
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dgraftbench.redirect.from={WAREHOUSE}",
           f"-Dgraftbench.redirect.to={os.path.join(work, 'warehouse')}"] + launch + \
          ["graftbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        code = None
        try:
            code = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if code is None:  # timed out, or this script was interrupted
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail("benchmark JVM " + ("timed out" if code is None else f"exited with {code}"), 4)


def median(xs):
    return statistics.median(xs) if xs else None


def quartile_spread(xs):
    if len(xs) < 2:
        return None
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="write the entries' digests to this file instead of checking")
    ap.add_argument("--inputs-only", action="store_true",
                    help="generate the inputs, print their checksums and expected results, stop")
    a = ap.parse_args()
    # a terminated run still stops its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("program sources not found next to perfbench/ (run from a full checkout)")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    stamp = build()
    t_built = time.time()

    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(nproc), "--work", work, "--out", out]
    if a.inputs_only:
        args += ["--inputs-only", "1"]
    if a.record:
        args += ["--record", os.path.abspath(a.record)]
    elif a.workload == "queries":
        args += ["--expected", EXPECTED]
    if a.workload == "queries":
        args += ["--tables", os.path.join(BUILD, f"tables-{stamp[:16]}")]
    t_launch = time.time()
    try:
        run_jvm(args, work, t_built + RUN_LIMIT_S)
        rec = json.load(open(out))
        spans = out + ".spans.jsonl"
        results = os.path.join(BUILD, "results")
        os.makedirs(results, exist_ok=True)
        base = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        if os.path.exists(spans):
            shutil.copy(spans, base + ".spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.inputs_only:
        print(json.dumps(rec["inputs"], sort_keys=True))
        return
    ops = rec["ops"]
    errors = [o for o in ops if o["error"]]
    units = rec["units"]
    timed = [u for u in units if u["phase"] in ("timed", "traced") and not u["skipped"]]
    plain = [u["wall_ms"] for u in units if u["phase"] == "plain" and not u["skipped"]]
    walls = [u["wall_ms"] for u in timed]
    # one unit's wall time, from per-operation medians: the median import
    # or drop, or the sum over a pass's entries of each entry's median
    # (cpu_ms likewise, from the JVM's CPU time during each operation)
    timed_ids = {u["index"] for u in timed}
    per_op, per_op_cpu = {}, {}
    for o in ops:
        if o["unit"] in timed_ids:
            per_op.setdefault(o["name"], []).append(o["wall_ms"])
            per_op_cpu.setdefault(o["name"], []).append(o["cpu_ms"])
    wall = sum(median(v) for v in per_op.values())
    cpu = sum(median(v) for v in per_op_cpu.values())
    setup_s = rec["setup_s"] + (t_launch - t_built)
    e2e = {"wall_ms": (wall, "ms"), "cpu_ms": (cpu, "ms"), "setup_s": (setup_s, "s")}

    layer, exact = {}, {}
    units_of = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for name, unit in units_of.items():
        if name in TOTALS:
            vals = [u["metrics"].get(name, 0.0) for u in units if u["phase"] == "traced"]
            layer[name] = sum(vals)
            continue
        vals = [u["metrics"][name] for u in timed if name in u["metrics"]]
        if not vals and name in rec["summary"]:
            vals = [rec["summary"][name]]
        if name == "peak_rss_mb":
            vals = [rec["peak_rss_mb"]]
        if name == "trace.overhead_frac" and plain and walls:
            vals = [median(walls) / median(plain) - 1]
        layer[name] = median(vals) if vals else 0.0
        if unit == "count" and vals:
            exact[name] = "exact" if len(set(vals)) == 1 else "varying"

    chosen = e2e if a.trace == 0 else {k: (v, units_of[k]) for k, v in layer.items()}
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}
    n = len(walls)
    p90 = None
    if n >= 100:  # a p90 needs at least ten samples beyond it
        p90 = statistics.quantiles(walls, n=10)[8]
    full = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "host": dict(rec["host"], nproc=nproc, source_stamp=stamp,
                     commit=git_commit()),
        "end_to_end": {k: {"value": v, "unit": u, "samples": 1 if k == "setup_s" else n}
                       for k, (v, u) in e2e.items()},
        "wall_ms_p90": p90, "wall_ms_spread": quartile_spread(walls),
        "warmup_ms": [u["wall_ms"] for u in units if u["phase"] == "warmup"],
        "samples_ms": walls, "untraced_samples_ms": plain,
        "op_median_ms": {k: median(v) for k, v in per_op.items()},
        "per_layer": layer if a.trace else None, "counts": exact if a.trace else None,
        "attempted": len(ops), "failed": len(errors),
        "errors": [{"op": o["name"], "unit": o["unit"], "error": o["error"]} for o in errors[:20]],
        "summary": rec["summary"],
    }
    with open(base + ".json", "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    print(f"{a.workload} seed={a.seed} trace={a.trace} on local[{nproc}]: " + ", ".join(
        f"{k} {m['value']:.4g} {m['unit']} (n={m['samples']})" for k, m in full["end_to_end"].items())
          + (f", wall_ms p90 {p90:.1f} ms" if p90 else "")
          + f", failed {len(errors)}/{len(ops)}, checks {'pass' if not errors else 'FAIL'}")
    for o in errors[:5]:
        print(f"  failed {o['name']} (unit {o['unit']}): {o['error']}")
    print(json.dumps({"correct": not errors, "attempted": len(ops), "failed": len(errors),
                      "metrics": metrics}))


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
