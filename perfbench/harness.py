"""Run one workload: set up, measure jobs for a fixed window, check every
job's output, and assemble the result line.

A workload is a class with

- ``materialize(rep)``: generate the seeded inputs and write them as
  tables (repeated SETUP_REPS times, the median counts as set-up);
- ``warm_up()``: the work that precedes every measured job (loading and
  caching inputs, a first cold run of the same code paths);
- ``prepare_oracle()``: the benchmark's own expected outputs, excluded from
  set-up time;
- ``job(i, tracer)``: one user job, returning a JobResult;
- ``check(result)``: (output_f1, problems); any problem fails the job;
- ``layer_metrics(tracer, traced)``: per-layer values from traced jobs;
- ``cleanup_job(i)``: delete job i's outputs.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

SETUP_REPS = 3


@dataclass
class JobResult:
    wall_s: float  # the timed path only
    triples: int  # triples the job emitted
    out: dict = field(default_factory=dict)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def run(args, root: str, workload_cls) -> dict:
    from .env import Env, Resources, parse_cores
    from .tracing import COUNTERS, Tracer

    spec = load_spec(root)
    res = Resources(parse_cores(args.cores), args.driver_memory, args.shuffle_partitions)
    with Env(root, f"{args.workload}-s{args.seed}", res) as env:
        wl = workload_cls(env, args.seed, args.scale)
        mats = []
        # a traced run reports no set-up time, so it sets up once
        for rep in range(1 if args.trace else SETUP_REPS):
            t0 = time.perf_counter()
            wl.materialize(rep)
            mats.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = env.session_s + median(mats) + warm_s
        wl.prepare_oracle()

        tracer = Tracer(env.spark) if args.trace else None
        plain, traced, f1s = [], [], []
        attempted = failed = 0
        t_window = time.perf_counter()
        # a measured window of jobs, each checked; at least one job, or
        # untraced, traced, untraced in a traced run, so that its traced
        # jobs compare with warm untraced ones (every job but the first)
        while True:
            tracing = tracer is not None and attempted % 2 == 1
            attempted += 1
            try:
                if tracing:
                    with tracer.span("job", index=attempted - 1) as root_span:
                        r = wl.job(attempted - 1, tracer)
                    traced.append((root_span, r))
                else:
                    r = wl.job(attempted - 1, None)
                    plain.append(r)
                f1, problems = wl.check(r)
                f1s.append(f1)
                if problems:
                    failed += 1
                    print(f"job {attempted - 1}: " + "; ".join(problems), file=sys.stderr)
            except Exception:  # a job that raises is a failed operation
                failed += 1
                traceback.print_exc(file=sys.stderr)
            finally:
                wl.cleanup_job(attempted - 1)
            elapsed = time.perf_counter() - t_window
            need = 3 if tracer is not None else 1
            if attempted >= need and elapsed * (attempted + 1) / attempted > args.seconds:
                break
        peak_rss = env.peak_rss_mb()

        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "wall_s": median(r.wall_s for r in plain),
                "triples_per_s": median(r.triples / r.wall_s for r in plain),
                "output_f1": median(f1s),
                "peak_rss_mb": peak_rss,
            }
            wanted = spec["end_to_end"]
        else:
            tracer.collect_counters()
            metrics = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
            layer = wl.layer_metrics(tracer, traced)
            unknown = set(layer) - set(metrics)
            if unknown:
                raise KeyError(f"layer metrics not in BENCHMARK.json: {sorted(unknown)}")
            metrics.update(layer)
            for k in COUNTERS:
                metrics[f"spark.{k}"] = median(tracer.inclusive(s)[k] for s, _ in traced)
            if traced and plain:
                metrics["trace.overhead_ratio"] = median(r.wall_s for _, r in traced) / median(
                    r.wall_s for r in plain[1:] or plain
                )
            wanted = spec["per_layer"]
            tracer.dump(
                os.path.join(root, "perfbench", "_traces", f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "resources": vars(res),
                 "metrics": metrics},
            )

    print(
        f"# {args.workload} seed={args.seed} jobs={attempted} (untraced {len(plain)}, "
        f"traced {len(traced)}); set-up: session {env.session_s:.2f}s, "
        f"inputs {[round(m, 2) for m in mats]}, warm-up {warm_s:.2f}s; "
        f"job walls {[round(r.wall_s, 2) for r in plain]}"
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }
