"""Turns the harness record into the benchmark's metrics.

End-to-end (untraced run), each the median over the run's samples:
  setup_s             session set-up: GraftSession.configure + warm-up query,
                      over the run's default-configuration probes, made
                      after the pass
  peak_heap_mb        peak JVM heap in use after a garbage collection, over
                      the collections of a pass
  build_s             one-time build phase: ingest (medallion); bucketed
                      layout, join statistics and index prewarm (sweep)
  work_s              the work after it: gold mart (medallion), the query
                      pass as a sum of per-query wall times (sweep)
  stored_bytes_ratio  bytes the build phase stores per input byte: silver +
                      gold per bronze CSV byte (medallion); bucketed layout
                      and resident index per byte of the Parquet they index
                      (sweep)

The three times are given at a fixed host speed: each is scaled by
CALIBRATION_REF_S over the run's median calibration time, the wall time
of a fixed job that runs none of the library's code (Harness.calibrate).
They read as seconds on a host where that job takes CALIBRATION_REF_S;
the measured seconds are printed beside them.

Per-layer (traced run), from the spans, per pass. A layer is the module
the benchmark calls into, named by the span's first word.
"""
import statistics

LAYERS = ["session", "ingest", "gold", "mart", "relational", "analytics", "setops",
          "index", "dedup", "similarity", "text", "multimodal", "expr"]
# Spans of the build phase; the rest (but session) are the work phase.
BUILD_LAYERS = {"ingest", "index"}
BUILD_SPANS = {"mart.layout", "mart.join_stats"}
EXPR_FNS = ["graft_minhash", "graft_simhash", "graft_shingles", "graft_char_fingerprint",
            "graft_dot", "graft_quantize_stats"]
COUNTERS = [("spill_mb", "MB"), ("shuffle_write_mb", "MB"), ("input_mb", "MB"),
            ("output_mb", "MB")]
# Layer counters the benchmark's calls cannot produce, left out: the
# warm-up query is a count over a tiny input, the index prewarm only
# caches, and the expression probes are exchange-free noop writes over
# cached input.
NOT_PRODUCED = {"session.spill_mb", "session.output_mb", "index.output_mb",
                "expr.spill_mb", "expr.shuffle_write_mb", "expr.output_mb"}


CALIBRATION_REF_S = 0.5
HOST_SCALED = ("setup_s", "build_s", "work_s")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def end_to_end(record):
    """The end-to-end metrics, with the three times at the fixed host speed."""
    scale = CALIBRATION_REF_S / _median(record["extras"]["calibration_s"])
    return {n: ((v * scale, u) if n in HOST_SCALED else (v, u))
            for n, (v, u) in measured(record).items()}


def measured(record):
    """The end-to-end metrics as measured."""
    its = record["iterations"]
    # A traced run makes no set-up probes; its sessions' spans stand in
    # (for the tracing-overhead lines only).
    setup = record["extras"].get("setup_s") or [
        s["wall_s"] for s in record["spans"] if s["name"] == "session.configure"]
    return {
        "setup_s": (_median(setup), "s"),
        "peak_heap_mb": (_median([i["peak_heap_mb"] for i in its]), "MB"),
        "build_s": (_median([i["build_s"] for i in its]), "s"),
        "work_s": (_median([i["work_s"] for i in its]), "s"),
        "stored_bytes_ratio": (_median([i["stored_bytes_ratio"] for i in its]), "ratio"),
    }


def op_percentiles(record):
    """(p50, p75, n) over the operations of a pass, each op's median time.
    Printed, not gated: with a dozen operations a percentile rests on one
    or two of them and spreads wider than any bound the run budget allows."""
    per_op = {}
    for i in record["iterations"]:
        for name, t in i["ops"].items():
            if t is not None:
                per_op.setdefault(name, []).append(t)
    op_times = [_median(ts) for ts in per_op.values()]
    return percentile(op_times, 50), percentile(op_times, 75), len(op_times)


def _top(spans):
    return [s for s in spans if s["parent"] is None]


def _layer(span):
    return span["name"].split(".")[0]


def per_layer(record, misread_cells):
    spans = record["spans"]
    top = _top(spans)
    total_wall = sum(s["wall_s"] for s in top) or 1.0
    out = {"session.configure_s": (_median([s["wall_s"] for s in top
                                            if s["name"] == "session.configure"]), "s")}
    phases = {"build": [s for s in top if _layer(s) in BUILD_LAYERS or s["name"] in BUILD_SPANS]}
    phases["work"] = [s for s in top if s not in phases["build"] and _layer(s) not in
                      ("session", "expr")]
    n_its = max(1, len(record["iterations"]))
    for ph, ss in phases.items():
        wall = sum(s["wall_s"] for s in ss) / n_its
        cpu = sum(s["cpu_s"] for s in ss) / n_its
        out[f"{ph}.wall_s"] = (wall, "s")
        out[f"{ph}.plan_s"] = (sum(s["plan_s"] for s in ss) / n_its, "s")
        out[f"{ph}.cpu_s"] = (cpu, "s")
        out[f"{ph}.gc_s"] = (sum(s["gc_s"] for s in ss) / n_its, "s")
        out[f"{ph}.core_util"] = (cpu / (wall * 4) if wall else 0.0, "ratio")
        for c, unit in COUNTERS + [("shuffle_read_mb", "MB")]:
            out[f"{ph}.{c}"] = (sum(s[c] for s in ss) / n_its, unit)
    for layer in LAYERS:
        ss = [s for s in top if _layer(s) == layer]
        out[f"{layer}.wall_share"] = (sum(s["wall_s"] for s in ss) / total_wall, "ratio")
        for c, unit in COUNTERS:
            if f"{layer}.{c}" not in NOT_PRODUCED:
                out[f"{layer}.{c}"] = (sum(s[c] for s in ss) / n_its, unit)
    gold = [s for s in spans if s["parent"] == "gold.run"]
    for part in ("gold.relayout", "gold.mart_write"):
        out[f"{part}_share"] = (sum(s["wall_s"] for s in gold if s["name"] == part) / total_wall,
                                "ratio")
    out["ingest.misread_cells"] = (misread_cells, "count")
    out["index.resident_mb"] = (_median(record["extras"].get("index.resident_mb", [])), "MB")
    for fn in EXPR_FNS:
        out[f"expr.{fn}.rows_per_s"] = (
            _median(record["extras"].get(f"expr.{fn}.rows_per_s", [])), "1/s")
    return out


def print_spans(spans):
    """One line per span name: counts and medians of its traced instances."""
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    keys = ["wall_s", "self_s", "plan_s", "cpu_s", "gc_s", "core_util", "shuffle_write_mb",
            "shuffle_read_mb", "fetch_wait_s", "spill_mb", "input_mb", "output_mb"]
    for name in sorted(by):
        ss = by[name]
        vals = " ".join(f"{k}={_median([s[k] for s in ss]):.4g}" for k in keys)
        print(f"span {name} n={len(ss)} {vals}")
