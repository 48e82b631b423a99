"""Benchmark entry point.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the workload's inputs from the
seed, sets up (JVM, data, warm-up, correctness checks, training), measures
for ``--seconds`` and prints, as the last line of stdout, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. Every run keeps its state in a fresh
directory under ``.graftbench/`` and removes it at the end; a traced run
leaves its spans in ``.graftbench/trace-<workload>.json``.

``--tiny`` shrinks a workload for the benchmark's own test.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
PACKAGE = "big_data_occupancy_detection_spark"
WORKLOADS = ("analytics-pinned", "predict-open-loop")


class Context:
    """What a workload gets from the runner: its seed and budget, the
    run directory, the session factory, the tracer, and the clocks that
    split set-up from the measured window."""

    def __init__(self, args):
        from common import RssSampler, RunDir

        self.t0 = time.perf_counter()
        self.seed, self.seconds = args.seed, args.seconds
        self.trace, self.tiny = bool(args.trace), args.tiny
        self.run_dir = RunDir(CHECKOUT, args.workload, args.seed)
        self.rss = RssSampler()
        self.rss.start()
        self.spark = self.tracer = self.steal = None
        self.timed_s = 0.0

    def start_session(self, memory: str):
        from common import Tracer, start_session

        t = time.perf_counter()
        self.spark = start_session(self.run_dir, memory)
        self.session_start_s = time.perf_counter() - t
        self.tracer = Tracer(self.spark, self.trace)
        return self.spark

    def setup_done(self) -> float:
        from common import StealMeter

        self.steal = StealMeter()
        self.t_timed = time.perf_counter()
        return self.t_timed - self.t0

    def timed_done(self) -> None:
        self.timed_s = time.perf_counter() - self.t_timed
        self.steal_share = self.steal.share()


def declared() -> tuple[dict, dict]:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args()

    missing = [p for p in (PACKAGE, "tools/fuzz_regen.py")
               if not os.path.exists(os.path.join(CHECKOUT, p))]
    if missing:
        print(f"not a checkout of the engine (missing {missing})", file=sys.stderr)
        return 2
    sys.path[:0] = [CHECKOUT, os.path.join(CHECKOUT, "tools")]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    e2e, layers = declared()

    from common import stop_everything

    ctx = Context(args)
    try:
        if args.workload == "predict-open-loop":
            import predict as workload
        else:
            import analytics as workload
        result = workload.run(ctx, args.workload)
        peak_mb = ctx.rss.stop()
        if ctx.trace:
            with open(os.path.join(CHECKOUT, ".graftbench",
                                   f"trace-{args.workload}.json"), "w") as f:
                json.dump(ctx.tracer.dump(), f)
    finally:
        stop_everything(ctx.spark)
        ctx.rss.stop()
        ctx.run_dir.remove()

    got = result["metrics"]
    got["peak_rss_mb"] = peak_mb
    if ctx.trace:
        got["session.start_s"] = ctx.session_start_s
        got["host.cpu_steal_share"] = ctx.steal_share
        got["trace.overhead_share"] = ctx.tracer.overhead_s / ctx.timed_s
        units = layers
    else:
        units = e2e
    print(f"host.cpu_steal_share={ctx.steal_share:.4f}; peak RSS by process (MB): "
          f"{ctx.rss.peak_split}", file=sys.stderr)
    absent = sorted(set(units) - set(got))
    if absent:  # layers this workload does not exercise did no work
        print(f"not exercised by {args.workload}: {', '.join(absent)}", file=sys.stderr)
    metrics = {n: {"value": float(got.get(n, 0.0)), "unit": u} for n, u in units.items()}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
