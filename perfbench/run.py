"""Self-measuring benchmark of the great_expectations_spark engine.

    python3 perfbench/run.py --workload image_suite --seed 1 \
        --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. Each invocation starts its own Spark
session at local[nproc], generates its inputs from --seed under a
fresh directory in `.perfbench_tmp/`, sets up, then runs the
workload's operations closed loop (one client) for --seconds, checking
every operation's output. After each operation it runs the yardstick
job (perfbench/yardstick.py); the end-to-end operation times are in
units of it. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. The line before it records the host settings and
per-kind figures. --trace 1 also writes the spans to
`.perfbench_tmp/spans-<workload>-<seed>.jsonl`.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

SIZES = {
    "full": {
        "image_rows": 40_000,
        "batch_orders": 150_000,
        "n_batches": 100,
        "queries": {"n_orders": 15_000, "n_events": 10_000,
                    "n_docs": 500, "n_vecs": 500},
    },
    "tiny": {
        "image_rows": 3_000,
        "batch_orders": 3_000,
        "n_batches": 10,
        "queries": {"n_orders": 1_500, "n_events": 1_000,
                    "n_docs": 100, "n_vecs": 100},
    },
}

JOB_TYPES = [
    "expect_column_values_to_be_unique",
    "expect_compound_columns_to_be_unique",
    "expect_foreign_keys_to_exist",
    "expect_column_quantile_values_to_be_between",
]
MEAN_COUNTS = [
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "payload.python_exec_s", "payload.worker_init_s",
    "payload.bytes_to_python", "payload.bytes_from_python",
]
MEDIAN_COUNTS = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.sql_executions",
    "spark.input_bytes",
]


WORKLOADS = {
    "image_suite": lambda s, w: w.ImageSuite(s["image_rows"]),
    "micro_batches": lambda s, w: w.MicroBatches(s["batch_orders"],
                                                 s["n_batches"]),
    # not in BENCHMARK.json: one pass of the 64 queries alone takes
    # about 40 s, and its figures spread too much run to run
    "operator_queries": lambda s, w: w.OperatorQueries(s["queries"]),
}


def make_workload(name, size):
    from perfbench import workloads

    return WORKLOADS[name](SIZES[size], workloads)


def layer_of(span_name):
    if span_name.startswith("operators.job."):
        t = span_name[len("operators.job."):]
        return "operators.job_s." + (t if t in JOB_TYPES else "other")
    return span_name + "_s"


def run(args):
    import numpy as np

    # the engine must be importable before anything starts
    import great_expectations_spark  # noqa: F401
    from perfbench import host, trace, yardstick

    cfg = host.settings()
    workdir = host.make_workdir(ROOT)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = host.start_session(cfg, workdir, bool(args.trace))
        session_s = time.perf_counter() - t0
        wl = make_workload(args.workload, args.size)
        wl.setup(spark, workdir, args.seed)
        ys = yardstick.Yardstick(spark, workdir)
        rng = np.random.default_rng(args.seed)
        # untimed operations, each followed by the yardstick job, until
        # the JVM's JIT and the Python workers reach steady state
        ys_ok = True
        for kind, op in wl.warmup(rng):
            wl.prepare(kind)
            op()
            ys_ok = ys.run() and ys_ok
        ys.walls.clear()
        setup_s = time.perf_counter() - t0
        reference_ok = wl.verify_setup()

        tracer = trace.Tracer()
        counts = None
        if args.trace:
            trace.install(tracer)
            tracer.enabled = True
            counts = trace.SparkCounts(spark)

        ops = []
        host.reset_peak_rss()
        start = time.perf_counter()
        cycles = 0
        while (time.perf_counter() - start < args.seconds
               or cycles < wl.min_cycles):
            cycles += 1
            for kind, op in wl.cycle(rng):
                wl.prepare(kind)
                if counts is not None:
                    counts.mark()
                    tracer.begin_op(len(ops), kind)
                err = None
                t_op = time.perf_counter()
                try:
                    out = (tracer.call(wl.op_layer, op) if wl.op_layer
                           else op())
                except Exception as exc:  # noqa: BLE001 - counted
                    out, err = None, exc
                wall = time.perf_counter() - t_op
                rec = {"kind": kind, "wall": wall}
                if counts is not None:
                    root = tracer.end_op()
                    rec["self"] = trace.self_times(
                        [s for s in tracer.spans if s[5] == root[5]], root)
                    rec["root"] = root[1]
                    rec["counts"] = counts.collect()
                    if out is not None and "groups_computed" in out:
                        rec["groups_computed"] = out["groups_computed"]
                        rec["state_bytes"] = out["state_bytes"]
                ok = err is None and wl.check(kind, out)
                rec["ok"] = bool(ok)
                if err is not None:
                    rec["error"] = repr(err)[:300]
                ops.append(rec)
                # the host's speed at this point of the run
                ys_ok = ys.run() and ys_ok
                rec["ys"] = ys.walls[-1]
                if (not wl.whole_cycles
                        and time.perf_counter() - start >= args.seconds):
                    break
        rss = host.peak_rss_mb()
        ys_walls = list(ys.walls)
        if args.trace:
            tracer.enabled = False
            tracer.dump(os.path.join(
                ROOT, ".perfbench_tmp",
                f"spans-{args.workload}-{args.seed}.jsonl"))
        extra = getattr(wl, "cold_validate_s", None)
    finally:
        if spark is not None:
            host.stop_session(spark)
        host.remove_workdir(workdir)

    failed = sum(1 for r in ops if not r["ok"])
    detail = {
        "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "settings": cfg,
        "session_s": session_s, "setup_s": setup_s,
        "reference_ok": reference_ok, "yardstick_ok": ys_ok,
        "yardstick_p50_s": statistics.median(ys_walls),
        "kinds": kind_figures(ops),
        "failed_kinds": sorted({r["kind"] for r in ops if not r["ok"]}),
        "walls": [round(r["wall"], 4) for r in ops],
        "yardstick_walls": [round(w, 4) for w in ys_walls],
        "errors": [r["error"] for r in ops if "error" in r][:5],
    }
    if extra is not None:
        detail["cold_validate_s"] = extra
    if args.trace:
        metrics, detail["unlisted_layers"] = per_layer(
            ops, cfg, tracer, wl.primary)
    print(json.dumps(detail))
    if not args.trace:
        metrics = end_to_end(ops, setup_s, rss, wl.primary)
    return {
        "correct": bool(reference_ok and ys_ok and failed == 0 and ops),
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }


def kind_figures(ops):
    by = defaultdict(list)
    for r in ops:
        by[r["kind"]].append(r["wall"])
    out = {k: {"n": len(v), "p50_s": statistics.median(v)}
           for k, v in by.items() if not k.startswith("query.")}
    q = {k[6:]: statistics.median(v) for k, v in by.items()
         if k.startswith("query.")}
    if q:
        out["queries"] = {
            "n": len(q),
            "total_s": sum(q.values()),
            "geomean_s": math.exp(
                sum(math.log(x) for x in q.values()) / len(q)),
            "each_s": q,
        }
    walls = sorted(r["wall"] for r in ops)
    # the highest percentile with at least ten samples beyond it
    if len(walls) >= 20:
        pct = 100 * (len(walls) - 10) // len(walls)
        out["tail"] = {"pct": pct,
                       "s": walls[math.ceil(pct / 100 * len(walls)) - 1]}
    return out


def in_yardsticks(r):
    """An operation's time over that of the yardstick job run right
    after it (perfbench/yardstick.py): the host's speed, which drifts
    over seconds and minutes, moves both alike and cancels."""
    return r["wall"] / r["ys"]


def end_to_end(ops, setup_s, rss, primary):
    """Operation times in yardsticks; set-up time and memory as
    measured."""
    main = [in_yardsticks(r) for r in ops if r["kind"].startswith(primary)]
    by = defaultdict(list)
    for r in ops:
        by[r["kind"]].append(in_yardsticks(r))
    # the run's op mix at each kind's median time: an operation the
    # shared disk holds up for seconds moves no median of three or more
    busy = sum(len(w) * statistics.median(w) for w in by.values())
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_yardsticks": {"value": statistics.median(main),
                              "unit": "yardstick"},
        "ops_per_yardstick": {"value": len(ops) / busy,
                              "unit": "1/yardstick"},
        "peak_rss_mb": {"value": rss, "unit": "MB"},
    }


def per_layer(ops, cfg, tracer, primary):
    traced = [r for r in ops if "self" in r]
    n = len(traced)
    m = defaultdict(float)
    for r in traced:
        m["op_wall_s"] += r["wall"] / n
        for name, secs in r["self"].items():
            key = "unattributed_s" if name == r["root"] else layer_of(name)
            m[key] += secs / n
        for k in MEAN_COUNTS:
            m[k] += r["counts"].get(k, 0.0) / n
    # counts over the run's first nine operations (one image_suite
    # cycle), which a seed fixes, so they repeat exactly across runs
    for k in MEDIAN_COUNTS:
        m[k] = statistics.median_low(
            r["counts"].get(k, 0.0) for r in traced[:9])
    run_s = sum(r["counts"].get("spark.executor_run_s", 0.0) for r in traced)
    m["spark.slot_utilization"] = run_s / (
        sum(r["wall"] for r in traced) * cfg["level"])
    for kind in ("full", "resume", "incremental"):
        g = [r["groups_computed"] for r in traced
             if r["kind"] == f"checkpoint_{kind}"]
        m[f"checkpoint.groups_computed_{kind}"] = (
            statistics.median_low(g) if g else 0)
    sb = [r["state_bytes"] for r in traced if "state_bytes" in r]
    m["checkpoint.state_bytes"] = statistics.median_low(sb) if sb else 0
    m["trace.op_p50_s"] = statistics.median(r["wall"] for r in traced)
    # the traced run's op_p50_yardsticks: minus the untraced run's, the
    # tracing overhead
    m["trace.op_p50_yardsticks"] = statistics.median(
        in_yardsticks(r) for r in traced if r["kind"].startswith(primary))
    m["trace.bookkeeping_s"] = tracer.bookkeeping_s / n
    names = per_layer_names()
    listed = {k: {"value": m.get(k, 0.0), "unit": unit}
              for k, unit in names.items()}
    # layers BENCHMARK.json does not list (the query layer of the
    # operator_queries workload) go to the detail line
    return listed, {k: v for k, v in m.items() if k not in names}


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def per_layer_names():
    return {x["name"]: x["unit"] for x in _spec()["per_layer"]}


def smoke():
    """Every workload at tiny size, untraced and traced; every metric
    BENCHMARK.json names must be emitted, and every operation correct."""
    spec = _spec()
    want = {0: {x["name"] for x in spec["end_to_end"]},
            1: {x["name"] for x in spec["per_layer"]}}
    bad = []
    for name in WORKLOADS:
        for t in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload",
                 name, "--seed", "1", "--seconds", "1", "--trace",
                 str(t), "--size", "tiny"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else {}
            got = set(res.get("metrics", {}))
            ok = res.get("correct") is True and got == want[t]
            print(f"{'ok  ' if ok else 'FAIL'} {name} trace={t} "
                  f"attempted={res.get('attempted')} "
                  f"missing={sorted(want[t] - got)}", flush=True)
            if not ok:
                bad.append((name, t, p.stderr[-2000:]))
    for name, t, err in bad:
        print(f"--- {name} trace={t}\n{err}", file=sys.stderr)
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
