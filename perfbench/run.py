#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {medallion,sweep} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. It builds the library and the harness
from source (cached under `.bench_build/`), generates the seeded inputs
(cached per workload and seed), runs passes of the workload, each in a
fresh harness JVM as a closed loop from one client on local[4], until
`--seconds` have been measured (at least one pass), checks every
output, and prints a summary followed by the result as the last stdout
line:

    {"correct": true, "attempted": 10, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones, and also writes every span to `.bench_build/trace/`. See
perfbench/README.md for what each workload and metric means.
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
import checks  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402

# Per workload: input size and JVM heap. The sweep's star-schema part
# runs with a shrunken Spark memory manager (see Harness.OlapMemory).
WORKLOADS = {
    "medallion": {"orders": 3000, "heap": "1g"},
    "sweep": {"scale": 0.03, "heap": "2g"},
}
RUN_LIMIT_S = 170


def inputs(workload, seed, data_root):
    cfg = WORKLOADS[workload]
    if workload == "medallion":
        n = cfg["orders"]
        return datagen.cached(data_root, f"olist-{n}-s{seed}",
                              lambda d: datagen.olist_bronze(d, seed, n))
    sf = cfg["scale"]
    return datagen.cached(data_root, f"star-{sf}-s{seed}",
                          lambda d: datagen.star_corpus(d, seed, sf))


def session_warm_inputs(data_root):
    """The tiny star schema the session warm-up query reads."""
    star, _ = datagen.cached(data_root, "star-0.001-s0",
                             lambda d: datagen.star_corpus(d, 0, 0.001))
    return star


def run_pass(args, classpath, data_dir, warm_dir, work, n, log, deadline):
    """One pass in a fresh harness JVM; returns its record."""
    cfg = WORKLOADS[args.workload]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, f"record{n}.json")
    cmd = (["java", f"-Xmx{cfg['heap']}"] + build.JVM_OPENS + [
        "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=100",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-cp", classpath, "graft.perfbench.Harness",
        args.workload, data_dir, warm_dir, work, str(n), str(args.trace), out])
    with open(log, "a") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness exceeded {RUN_LIMIT_S} s; log: {log}")
        finally:
            if proc.poll() is None:  # timed out, interrupted or terminated
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness exited with {rc}; log: {log}")
    with open(out) as f:
        return json.load(f)


def merge(records):
    """One record of several passes: lists joined, attempts summed."""
    rec = dict(records[0])
    for k in ("failures", "iterations", "spans"):
        rec[k] = [x for r in records for x in r[k]]
    rec["attempted"] = sum(r["attempted"] for r in records)
    rec["extras"] = {}
    for r in records:
        for k, vs in r["extras"].items():
            rec["extras"].setdefault(k, []).extend(vs)
    return rec


def note(msg, t0):
    sys.stderr.write(f"[perfbench] {msg} ({time.monotonic() - t0:.1f} s)\n")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--corrupt", action="store_true",
                   help="damage one checked output before checking it (smoke test)")
    p.add_argument("--scale", type=float,
                   help="override the sweep input scale (smoke test)")
    p.add_argument("--orders", type=int,
                   help="override the medallion order count (smoke test)")
    args = p.parse_args()
    # A terminated run stops its JVM too (run_pass's cleanup).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.scale:
        WORKLOADS["sweep"]["scale"] = args.scale
    if args.orders:
        WORKLOADS["medallion"]["orders"] = args.orders

    root = os.path.dirname(HERE)
    out_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    t0 = time.monotonic()
    classpath, stamp = build.ensure_built(root, out_root)
    note("build", t0)
    data_root = os.path.join(out_root, "data")
    data_dir, facts = inputs(args.workload, args.seed, data_root)
    warm_dir = session_warm_inputs(data_root)
    note("inputs", t0)
    deadline = time.monotonic() + RUN_LIMIT_S

    work = os.path.join(out_root, "work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(out_root, "logs", f"{args.workload}-s{args.seed}-t{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    open(log, "w").close()
    try:
        # Passes, each in a fresh JVM, until --seconds have been measured
        # (at least one); no pass starts that might not end in time.
        records, measured, longest = [], 0.0, 0.0
        while not records or (measured < args.seconds
                               and deadline - time.monotonic() > 2 * longest):
            p0 = time.monotonic()
            records.append(run_pass(args, classpath, data_dir, warm_dir, work,
                                    len(records) + 1, log, deadline))
            longest = max(longest, time.monotonic() - p0)
            measured += sum(i["build_s"] + i["work_s"] for i in records[-1]["iterations"])
        record = merge(records)
        note(f"harness, {len(records)} pass(es)", t0)
        check_dir = os.path.join(work, "check")
        if args.corrupt:
            checks.corrupt(args.workload, check_dir)
        wrong, misread = checks.run(args.workload, check_dir, data_dir, facts, record,
                                    os.path.join(data_root, "oracle"), stamp[:16])
        note("checks", t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = record["attempted"]
    # One operation of one pass fails once: it threw, or any of its
    # output checks failed.
    failed = len(record["failures"]) + len({w.split(":")[0] for w in wrong})
    for f in record["failures"]:
        print(f"FAILED {f['op']}: {f['error']}")
    for w in wrong:
        print(f"WRONG  {w}")
    e2e = metrics.end_to_end(record)
    for name in ("calibration_s", "setup_s"):
        print(f"{name} samples " + " ".join(f"{v:.4g}" for v in record["extras"].get(name, [])))
    print("measured " + ", ".join(f"{n} {v:.4g} {u}" for n, (v, u)
                                  in metrics.measured(record).items()
                                  if n in metrics.HOST_SCALED))
    for i in record["iterations"]:
        print(f"pass {i['it']}: build_s {i['build_s']:.4g}, work_s {i['work_s']:.4g}, "
              f"peak_heap_mb {i['peak_heap_mb']:.4g}")
    result_path = os.path.join(out_root, "results", f"{args.workload}-s{args.seed}.json")
    if args.trace:
        values = metrics.per_layer(record, misread)
        # Tracing overhead: this traced run against the untraced run of the
        # same workload and seed, when one has been made in this checkout.
        if os.path.exists(result_path):
            with open(result_path) as f:
                bare = json.load(f)
            for name, (v, unit) in e2e.items():
                if unit == "s":
                    print(f"trace overhead {name} {v - bare[name]:+.4g} s "
                          f"(traced {v:.4g}, untraced {bare[name]:.4g})")
        trace_path = os.path.join(out_root, "trace", f"{args.workload}-s{args.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": record["spans"], "extras": record["extras"]}, f, indent=1)
        metrics.print_spans(record["spans"])
        print(f"spans written to {os.path.relpath(trace_path, root)}")
    else:
        values = e2e
        os.makedirs(os.path.dirname(result_path), exist_ok=True)
        with open(result_path, "w") as f:
            json.dump({n: v for n, (v, _) in e2e.items()}, f)
    print(f"fail_share {failed / attempted:.4f} ratio ({failed} of {attempted} operations)")
    p50, p75, n = metrics.op_percentiles(record)
    print(f"op_p50_s {p50:.4g} s, op_p75_s {p75:.4g} s (over {n} operations)")
    for name, (v, unit) in values.items():
        print(f"{name} {v:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in values.items()},
    }))


if __name__ == "__main__":
    main()
