"""Benchmark entry point.

    python3 perfbench/run.py --workload skewed_gbt --seed 1 --seconds 12 --trace 0

Runs one workload in a single driver process on local[N] (N = min(4,
nproc), N shuffle partitions), prints one provenance line and, as the
last line of stdout, one JSON result. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics of a
separate traced run (see perfbench/README.md).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    ROOT, RssSampler, Tracer, cpu_steal_s, git_sha, median, persistent_rdds,
    release, start_spark, stop_spark,
)

#: no new op starts after this many seconds of process time, so a slow
#: host still ends the run well inside its time limit
HARD_STOP_S = 120


def declared_metrics() -> tuple[dict, dict]:
    """(end_to_end, per_layer) name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def load_workload(name: str, seed: int):
    if name == "skewed_gbt":
        from er import SkewedGBT

        return SkewedGBT(seed)
    if name == "neardup_queries":
        from neardup import NeardupQueries

        return NeardupQueries(seed)
    raise SystemExit(f"unknown workload {name!r}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    missing = [p for p in ("smaph_spark", os.path.join("models", "gbt_scorer"))
               if not os.path.isdir(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a smaph_spark checkout (missing {missing})",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    end_to_end, per_layer = declared_metrics()

    sampler = RssSampler().start()
    steal0 = cpu_steal_s()
    t = time.perf_counter()
    wl = load_workload(args.workload, args.seed)
    gen_s = time.perf_counter() - t

    n_cores = max(1, min(4, os.cpu_count() or 1))
    t = time.perf_counter()
    spark = start_spark(n_cores, trace)
    wl.timings["session.get_spark_s"] = time.perf_counter() - t
    try:
        wl.setup(spark)
        warm = []
        for _ in range(wl.WARMUP_OPS):
            t = time.perf_counter()
            wl.op()
            warm.append(time.perf_counter() - t)
            release(spark)
        setup_s = time.perf_counter() - T_START - gen_s

        tracer = Tracer(spark) if trace else None
        rdds_before = persistent_rdds(spark)
        rdds_after = rdds_before
        op_s, traced = [], []
        attempted = failed = 0
        # the window is --seconds of measured op time (traced ops
        # included in a traced run) and at least the workload's MIN_OPS
        # ops (one pair in a traced run); checks and release run between
        # ops and do not use it up
        min_ops = 1 if tracer else wl.MIN_OPS
        while not attempted or (
            (len(op_s) < min_ops
             or sum(op_s) + sum(w for w, _, _ in traced) < args.seconds)
            and time.perf_counter() - T_START < HARD_STOP_S
        ):
            attempted += 1
            try:
                with tracer.window("op") if tracer else nullcontext():
                    t = time.perf_counter()
                    outputs = wl.op()
                    op_s.append(time.perf_counter() - t)
                ok = wl.check(outputs, first=len(op_s) == 1)
            except Exception as exc:  # a failing op is counted, not fatal
                print(f"perfbench: op failed: {exc!r}", file=sys.stderr)
                ok = False
            outputs = None
            rdds_after = release(spark)
            failed += not ok
            if tracer:
                attempted += 1
                first_window = len(tracer.windows)
                t = time.perf_counter()
                try:
                    counts = wl.traced_op(tracer)
                    wall = time.perf_counter() - t
                    ok = wl.check(counts.pop("_outputs"), first=False)
                    traced.append((wall, tracer.windows[first_window:], counts))
                except Exception as exc:
                    print(f"perfbench: traced op failed: {exc!r}", file=sys.stderr)
                    ok = False
                counts = None
                rdds_after = release(spark)
                failed += not ok

        job_s = median(op_s)
        if trace:
            metrics = layer_metrics(
                wl, tracer, traced, job_s, max(0, rdds_after - rdds_before),
            )
        else:
            metrics = {
                "setup_s": setup_s,
                "job_s": job_s,
                "records_per_s": wl.n_records / job_s if job_s else 0.0,
                "pairwise_f1": wl.f1 or 0.0,
            }
        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": os.cpu_count(), "master": f"local[{n_cores}]",
            "shuffle_partitions": n_cores,
            "spark_version": spark.version, "git_sha": git_sha(),
            "records": wl.n_records,
            "warmup_s": [round(w, 3) for w in warm],
            "op_s": [round(o, 3) for o in op_s],
            "gen_s": round(gen_s, 3),
            "cpu_steal_s": round(cpu_steal_s() - steal0, 2),
        }
    finally:
        stop_spark(spark)
    peak_mb = sampler.stop()
    info["run_s"] = round(time.perf_counter() - T_START, 1)
    if not trace:
        metrics["peak_rss_mb"] = peak_mb
    declared = per_layer if trace else end_to_end
    unknown = set(metrics) - set(declared)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        # a layer the workload does not run reads 0
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": u}
            for name, u in declared.items()
        },
    }))
    return 0


def layer_metrics(wl, tracer, traced, job_s, leaked) -> dict:
    groups = tracer.collect()
    per_op: list[dict] = []
    for wall, windows, counts in traced:
        m = {}
        for name, group, busy in windows:
            g = groups.get(group, {})
            m[f"{name}.busy_s"] = busy
            for stat in ("task_s", "shuffle_mb", "spill_mb"):
                m[f"{name}.{stat}"] = g.get(stat, 0.0)
        busy_sum = sum(busy for _, _, busy in windows)
        m["trace.coverage"] = busy_sum / wall
        m["_wall"] = wall
        m["_busy"] = busy_sum
        m.update(counts)
        per_op.append(m)
    out = {key: median([m[key] for m in per_op]) for key in per_op[0]} if per_op else {}
    out.update(wl.derived(out, job_s))
    out["pipeline.unattributed_s"] = job_s - out.pop("_busy", 0.0)
    out["pipeline.spark_jobs"] = median(
        [g["jobs"] for name, g in groups.items() if name.startswith("op#")]
    )
    out["trace.overhead_s"] = out.pop("_wall", 0.0) - job_s
    out["leaked_rdds"] = leaked
    out.update(wl.timings)
    return out


if __name__ == "__main__":
    sys.exit(main())
