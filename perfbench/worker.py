"""The measured process: one fresh Python + Spark process per run,
started by `run.py` in the pinned environment.

Set-up is everything from process launch to the end of one untimed
warm-up pass over every op kind. The warm-up outputs are then checked
(oracle answers, HTTP status and keys). The timed loop is a single
client in a closed loop: the whole number of cycles (seeded op order)
that takes about `--seconds` on the reference host. The workload's
final checks follow it, untimed. A traced run then runs the loop
again, alternating traced and untraced cycles, and reports layer
metrics instead of end-to-end ones.

Writes its result as JSON to `--out`.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback

from common import PRIME_FILE, ROOT, TRACE_DIR, median

sys.path.insert(0, ROOT)


def host_weather() -> dict[str, float]:
    """Steal time of the whole host and a fixed-work Python canary:
    recorded with every run so slow runs can be explained, never
    compared."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal_s = int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else 0.0
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return {"steal_s": steal_s, "canary_s": time.perf_counter() - t}


def timed_loop(wl, tracer, seconds: float, rng: random.Random, first_op: int, traced: bool = False):
    """The whole number of cycles closest to `seconds` (at least one).
    Returns (samples, op counters); a sample is (kind, seconds, error or
    None, traced). With `traced`, cycles alternate between traced and
    untraced, traced first."""
    samples, counters = [], []
    op = first_op
    cycles = max(1, round(seconds / wl.cycle_s))
    for n in range(cycles):
        on = traced and n % 2 == 0
        if on:
            tracer.mark()
        for name in wl.cycle(rng):
            op += 1
            err = None
            t = time.perf_counter()
            try:
                with tracer.span(f"op.{name}", op):
                    wl.run(name, op)
            except Exception as e:
                err = f"{name}: {type(e).__name__}: {str(e)[:300]}"
                traceback.print_exc()
            kind = name.split("/")[0]
            samples.append((kind, time.perf_counter() - t, err, on))
            if on:
                counters.append((kind, wl.after_op(name, op)))
    return samples, counters


def summarize(samples) -> dict[str, float]:
    ok = [s for _, s, err, _ in samples if err is None]
    return {
        "latency_p50_s": median(ok),
        "ops_per_s": len(ok) / sum(ok) if ok else 0.0,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--launched", type=float, required=True,
                    help="time.monotonic() of the launcher just before it started this process")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    traced = bool(args.trace)

    from healthcare_research_data_pipeline_project_spark.session import get_spark

    from tracing import Tracer
    from workloads import WORKLOADS

    t = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    get_spark_s = time.monotonic() - t
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, traced)
    wl = WORKLOADS[args.workload](spark, tracer, args.seed, args.run_dir)
    result: dict = {}
    try:
        wl.prepare()
        failures = []
        t = time.monotonic()
        for kind in wl.kinds():
            with tracer.span(f"warmup.{kind}", 0):
                try:
                    wl.warm(kind)
                except Exception as e:
                    failures.append(f"warm-up {kind}: {type(e).__name__}: {str(e)[:300]}")
                    traceback.print_exc()
        warmup_s = time.monotonic() - t
        setup_s = time.monotonic() - args.launched
        failures += wl.check()

        rng = random.Random(args.seed)
        weather = {"before": host_weather()}
        samples, _ = timed_loop(wl, tracer, args.seconds, rng, 0)
        weather["after"] = host_weather()
        checked, late = wl.final_check()
        failures += late
        errors = [err for _, _, err, _ in samples if err]
        result = {
            "attempted": len(samples) + len(wl.kinds()) + checked,
            "failed": len(errors) + len(failures),
            "failures": (failures + errors)[:20],
            "samples": len(samples),
            "weather": weather,
            "metrics": {"setup_s": setup_s, **summarize(samples)},
        }
        if traced:
            result["metrics"], more = layer_metrics(
                wl, tracer, args, rng, samples, get_spark_s, warmup_s, spark
            )
            more_errors = [err for _, _, err, _ in more if err]
            result["attempted"] += len(more)
            result["failed"] += len(more_errors)
            result["failures"] = (result["failures"] + more_errors)[:20]
            tracer.write(os.path.join(
                TRACE_DIR, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
            ))
    finally:
        wl.close()
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


def layer_metrics(wl, tracer, args, rng, untraced, get_spark_s, warmup_s, spark):
    from tracing import COUNTERS
    from workloads import QUERY_ROWS

    samples, counters = timed_loop(wl, tracer, args.seconds, rng, len(untraced), traced=True)
    n = max(1, len(counters))
    out = {
        "session.get_spark_s": get_spark_s,
        "warmup.s": warmup_s,
        "mapping.ensure_warehouse_s": sum(tracer.durations("mapping.ensure_warehouse", setup=True)),
    }
    with open(PRIME_FILE) as f:
        primed = json.load(f)
    out["mapping.cold_build_s"] = primed["cold_build_s"]
    out["api.load_s"] = primed["api_load_s"]
    for key in COUNTERS:
        out[f"spark.{key}_per_op"] = sum(c[key] for _, c in counters) / n
    by_kind: dict[str, list[float]] = {}
    for kind, s, err, _ in untraced + samples:
        if err is None:
            by_kind.setdefault(kind, []).append(s)
    for row in QUERY_ROWS:
        if row in by_kind:
            out[f"queries.{row}.p50_s"] = median(by_kind[row])
    floor = []
    for _ in range(5):
        t = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        floor.append(time.perf_counter() - t)
    out["spark.action_floor_s"] = median(floor)
    out.update(wl.layer_metrics())
    # traced cycles against every untraced one, before and between them
    plain = summarize(untraced + [s for s in samples if not s[3]])["ops_per_s"]
    out["trace.overhead_frac"] = (
        1 - summarize([s for s in samples if s[3]])["ops_per_s"] / plain if plain else 0.0
    )
    return out, samples


if __name__ == "__main__":
    raise SystemExit(main())
