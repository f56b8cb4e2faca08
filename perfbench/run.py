"""Benchmark entry point.

    python3 perfbench/run.py --workload <relational|corpus|store_ops> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the client from
source on first use (perfbench/build.py), runs one workload in one JVM
with one client thread, checks every output, and prints as its last line
one JSON object: correct, attempted, failed and metrics. With --trace 0
the metrics are the end-to-end metrics; with --trace 1 the client records
spans and the metrics are the per-layer ones. Each run also writes a run
record with its per-query (or per-op-type) breakdown to
.bench_build/results/. See perfbench/README.md for the workloads and the
metric map.
"""
import argparse
import json
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import metrics  # noqa: E402
import plan  # noqa: E402

ROOT = build.ROOT
FIXTURE = os.path.join(HERE, "fixture")
RESULTS = os.path.join(build.BUILD, "results")
# the JVM stops starting new passes or ops this long after it started,
# and is killed if it is still running this long after the run began
JVM_DEADLINE_S = 140
RUN_LIMIT_S = 175
OP_TIMEOUT_S = 40
# nominal seconds of one registry pass and of one store_ops block on a
# 4-core host, which turn --seconds into a pass or block count
PASS_S = 3.0
BLOCK_S = 4.0
COPY_TS_BASE = 1800000000000
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def load_json(name):
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


def cores():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far: on a shared virtual
    machine, time stolen by other guests slows a run without any load of
    its own showing."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def make_plan(workload, seed, seconds, trace, spec, work):
    """The run does a fixed amount of work sized to take about `seconds`
    on a 4-core host: whole registry passes or whole store_ops blocks. A
    count that depended on elapsed time would let host speed change how
    warm the measured passes are."""
    p = {"workload": workload, "trace": bool(trace),
         "fixture": FIXTURE, "work": work, "cores": cores(),
         "op_timeout_s": OP_TIMEOUT_S, "deadline_s": JVM_DEADLINE_S}
    if workload == "store_ops":
        blocks = max(2, math.ceil(seconds / BLOCK_S))
        p.update(ops=plan.store_ops(seed, blocks), block=len(plan.BLOCK),
                 copy_ts_base=COPY_TS_BASE)
    else:
        queries = spec["workloads"][workload]["queries"]
        passes = max(3, math.ceil(seconds / PASS_S))
        p.update(queries=queries, pass_orders=plan.query_orders(len(queries), seed, passes))
    return p


def run_client(p, classpath, work, limit_s):
    """Runs the JVM client on plan `p`; returns its raw output."""
    plan_file = os.path.join(work, "plan.json")
    out_file = os.path.join(work, "out.json")
    with open(plan_file, "w") as fh:
        json.dump(p, fh)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for o in JAVA_OPENS for a in ("--add-opens", o + "=ALL-UNNAMED")]
           + ["-Xmx2g", "-Djava.io.tmpdir=" + tmp, "-Dgraft.warehouse=" + os.path.join(work, "warehouse"),
              "-cp", classpath, "perfbench.Harness", plan_file, out_file])
    log = open(os.path.join(work, "client.log"), "wb")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"client did not finish within {limit_s:.0f} s")
    finally:
        log.close()
    if code != 0 or not os.path.exists(out_file):
        with open(os.path.join(work, "client.log"), "rb") as fh:
            sys.stderr.write(fh.read()[-3000:].decode(errors="replace"))
        raise RuntimeError(f"client exited with code {code}")
    with open(out_file) as fh:
        return json.load(fh)


def source_id():
    """The commit when the checkout is a git repository, else the hash of
    the compiled sources."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "sources:" + build.fingerprint(build.sources())[:16]


def evaluate(workload, raw, trace, spec, goldens):
    """Checks the outputs and computes the metrics of one run."""
    ops = raw["ops"]
    if workload == "store_ops":
        failures = checks.check_store(ops, raw["keys"], raw["info"]["base_ts"])
    else:
        failures = checks.check_registry(ops, goldens)
    good = [o for o in ops if not o.get("err")]
    if not good:
        raise RuntimeError("no op completed")
    if trace:
        m, traced = metrics.per_layer(raw, good, raw["info"]["cores"])
        side = metrics.sidecar(good, traced, None if workload == "store_ops" else spec["modules"])
    else:
        m = metrics.end_to_end(raw, good)
        side = metrics.sidecar(good, [], None if workload == "store_ops" else spec["modules"])
    return failures, m, side


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["relational", "corpus", "store_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    started = time.time()
    spec = load_json("workloads.json")
    goldens = load_json("goldens.json")
    already_built = os.path.exists(os.path.join(build.BUILD, "classes.stamp"))
    classpath = build.build()
    # a run that had to compile may take longer; otherwise the limit counts
    # from the start of this run
    limit = RUN_LIMIT_S - (time.time() - started if already_built else 0)
    load_before = loadavg()
    ticks_before = cpu_ticks()
    work = os.path.join(build.BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        p = make_plan(args.workload, args.seed, args.seconds, args.trace, spec, work)
        raw = run_client(p, classpath, work, limit)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal, total = (a - b for a, b in zip(cpu_ticks(), ticks_before))
    failures, m, side = evaluate(args.workload, raw, args.trace, spec, goldens)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": raw["info"]["cores"],
        "java": raw["info"]["java_version"], "spark": raw["info"]["spark_version"],
        "python": platform.python_version(), "source": source_id(),
        "loadavg_before": load_before, "loadavg_after": loadavg(),
        "cpu_steal_share": steal / max(total, 1),
        "peak_rss_mb": raw["info"]["vm_hwm_kb"] / 1024.0,
        "dst_files": raw["info"].get("dst_files"),
        "warm_fn_ms": {w["q"]: round(w["fn_ms"], 1) for w in raw.get("warm", [])},
        "failures": failures, "setup_errors": raw["errors"],
        "metrics": {k: v for k, (v, _) in m.items()},
        "breakdown": side,
    }
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    for f in (raw["errors"] + failures)[:20]:
        print("FAILED", f)
    print("run record:", os.path.relpath(path, ROOT))
    for k, (v, unit) in m.items():
        print(f"{k:32s} {v:14.4f} {unit}")
    print(json.dumps({
        "correct": not failures and not raw["errors"],
        "attempted": len(raw["ops"]),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in m.items()},
    }))


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # any set-up or client failure: no result line
        sys.stderr.write(f"perfbench: {type(e).__name__}: {e}\n")
        sys.exit(1)
