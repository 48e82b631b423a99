"""The /predict workload: ``serving.serve`` over a ``FileRpcBus`` feeding
``start_scoring_query``, with a logistic-regression model trained at
set-up.

Phase ``drain``: fixed bursts of envelopes published straight on the
bus and drained, so batches are full. Phase ``open``, for the rest of the
measured time: a separate loadgen process posts an 80/20 valid/malformed
mix at a fixed rate far below saturation, so micro-batches carry about
one request and per-batch overhead dominates. Every response is checked
against the same pipeline run as one batch job."""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import threading
import time
from datetime import datetime

from common import CORES, Tracer, median
from loadgen import payload_mix, post

FEATURES = ["Temperature", "Humidity", "CO2", "HumidityRatio"]
RATE_PER_S = 2.0
BURST = 300
WARM_REQUESTS = 10
BURSTS = 3
OPEN_SHARE = 2 / 3  # of the measured seconds; the drain bursts take about the rest
STREAM_KEYS = {  # metric suffix -> StreamingQueryProgress.durationMs key
    "trigger_ms": "triggerExecution",
    "get_batch_ms": "getBatch",
    "add_batch_ms": "addBatch",
    "latest_offset_ms": "latestOffset",
    "wal_commit_ms": "walCommit",
}


def make_training_table(seed: int, data: str, n: int = 2000) -> None:
    """An occupancy-shaped table: occupied rooms are warmer with more CO2."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    label = (rng.random(n) < 0.25).astype(np.int32)
    pq.write_table(pa.table({
        "Temperature": rng.normal(20.5, 1.0, n) + 2.0 * label,
        "Humidity": rng.normal(27.0, 4.0, n),
        "CO2": rng.normal(600.0, 150.0, n) + 500.0 * label,
        "HumidityRatio": rng.normal(0.0042, 0.0005, n) + 0.0003 * label,
        "label": label,
    }), os.path.join(data, "occupancy.parquet"))


def envelope(rid: str, body: str) -> dict:
    """The envelope the /predict handler builds from a request body."""
    try:
        payload = json.loads(body or "{}")
    except json.JSONDecodeError:
        payload = None
    return {"request_id": rid, "timestamp": "t", "payload": payload}


def expected_responses(spark, model, bodies: dict[str, str]) -> dict[str, dict]:
    """The streaming transform run as one batch job on the same payloads."""
    from big_data_occupancy_detection_spark.streaming.inference import (
        build_inference_pipeline,
        model_score,
        to_response_json,
    )

    raw = spark.createDataFrame(
        [(json.dumps(envelope(rid, b)),) for rid, b in bodies.items()], "json string"
    )
    out = to_response_json(build_inference_pipeline(raw, model_score(model)))
    return {r.key: json.loads(r.value) for r in out.collect()}


def matches(resp: dict | None, want: dict, kind: str) -> bool:
    if resp is None:
        return False
    ok = (
        resp.get("prediction") == want["prediction"]
        and resp.get("probability") == want["probability"]
        and resp.get("features") == want["features"]
    )
    if kind != "valid":
        ok = ok and resp.get("prediction") == -1 and resp.get("probability") == -1.0
    return ok


class ProgressRecorder:
    """StreamingQueryListener keeping every non-empty micro-batch's
    progress: wall-clock trigger time, input rows, phase durations."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        rec = self
        self.batches: list[dict] = []
        self.last_batch_id = -1
        self.lock = threading.Lock()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with rec.lock:
                    rec.last_batch_id = max(rec.last_batch_id, p.batchId)
                    if p.numInputRows:
                        rec.batches.append(dict(
                            t=datetime.fromisoformat(p.timestamp).timestamp(),
                            rows=p.numInputRows,
                            **{k: p.durationMs.get(v, 0) for k, v in STREAM_KEYS.items()},
                        ))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()

    def wait_for(self, batch_id: int, timeout_s: float = 5.0) -> None:
        end = time.monotonic() + timeout_s
        while self.last_batch_id < batch_id and time.monotonic() < end:
            time.sleep(0.02)

    def phase_metrics(self, phase: str, windows: list[tuple[float, float]], requests: int) -> dict:
        with self.lock:
            bs = [b for b in self.batches if any(a <= b["t"] <= z for a, z in windows)]
        rows = sum(b["rows"] for b in bs)
        out = {
            f"streaming.batches.{phase}": len(bs),
            f"streaming.rows_per_batch.{phase}": rows / len(bs) if bs else 0.0,
            f"streaming.input_rows_per_request.{phase}": rows / requests if requests else 0.0,
        }
        for k in STREAM_KEYS:
            out[f"streaming.{k}.{phase}"] = median([b[k] for b in bs])
        return out


def timed_bus(root: str):
    """A ``FileRpcBus`` whose publish and poll calls are timed from outside."""
    from big_data_occupancy_detection_spark.serving import FileRpcBus

    class TimedBus(FileRpcBus):
        def __init__(self, path):
            super().__init__(path)
            self.calls: list[tuple[str, float, float]] = []  # (op, start, seconds)

        def publish_request(self, env):
            t = time.perf_counter()
            super().publish_request(env)
            self.calls.append(("publish", t, time.perf_counter() - t))

        def poll_response(self, rid, deadline_s=5.0):
            t = time.perf_counter()
            try:
                return super().poll_response(rid, deadline_s)
            finally:
                self.calls.append(("poll", t, time.perf_counter() - t))

    return TimedBus(root)


def stage_burst(staging, bodies: list[tuple[str, str]], tag: str) -> None:
    """Publish a burst's envelopes on a staging bus, out of the stream's sight."""
    for k, (_, body) in enumerate(bodies):
        staging.publish_request(envelope(f"{tag}-{k}", body))


def drain_burst(bus, staging, bodies: list[tuple[str, str]], tag: str) -> list[dict]:
    """Move a staged burst into the live request directory at once, then
    poll each response. Moving them together keeps the stream from
    picking up a partly published burst, so every burst splits into the
    same full batches."""
    for name in os.listdir(staging.requests_dir):
        os.rename(os.path.join(staging.requests_dir, name),
                  os.path.join(bus.requests_dir, name))
    got = [bus.poll_response(f"{tag}-{k}", deadline_s=60.0) for k in range(len(bodies))]
    return [
        dict(rid=f"{tag}-{k}", kind=kind, body=body, status=200 if r else 504,
             response=r)
        for k, ((kind, body), r) in enumerate(zip(bodies, got))
    ]


def run(ctx, workload: str) -> dict:
    from big_data_occupancy_detection_spark.ml.pipelines import (
        build_weighted_lr_pipeline,
        strip_training_summary,
    )
    from big_data_occupancy_detection_spark.operators.relational import class_weights
    from big_data_occupancy_detection_spark.serving import (
        FileRpcBus,
        serve,
        start_scoring_query,
    )
    from big_data_occupancy_detection_spark.sources.readers import table
    from big_data_occupancy_detection_spark.streaming.inference import (
        build_inference_pipeline,
        model_score,
    )

    rng = random.Random(ctx.seed)
    make_training_table(ctx.seed, ctx.run_dir.data)
    spark = ctx.start_session(memory="1g")
    tracer: Tracer = ctx.tracer
    burst = 50 if ctx.tiny else BURST

    recorder = None
    if ctx.trace:
        recorder = ProgressRecorder()
        spark.streams.addListener(recorder.listener)
        from analytics import sources_layer, sources_metrics

        sources_layer(spark, tracer, ctx.run_dir.data, ["occupancy"], "occupancy")

    with tracer.span("ml.fit", spark_jobs=True) as fit:
        train = class_weights(table(spark, ctx.run_dir.data, "occupancy"), "label")
        model = strip_training_summary(build_weighted_lr_pipeline(FEATURES).fit(train))
    if ctx.trace:
        batch = spark.createDataFrame(
            [(json.dumps(envelope(f"s{k}", b)),) for k, (_, b) in
             enumerate(payload_mix(rng, 100))], "json string")
        for i in range(5):
            with tracer.span(f"ml.score.{i}", spark_jobs=True):
                build_inference_pipeline(batch, model_score(model)).collect()

    bus_root = ctx.run_dir.sub("state/bus")
    bus = timed_bus(bus_root) if ctx.trace else FileRpcBus(bus_root)
    staging = FileRpcBus(ctx.run_dir.sub("state/staging"))
    query = start_scoring_query(spark, model, bus, ctx.run_dir.sub("state/ckpt"))
    server = serve(bus, port=0)
    port = server.server_address[1]
    serving = threading.Thread(target=server.serve_forever, daemon=True)
    serving.start()

    records: list[dict] = []  # every request the run made, for the check
    try:
        # warm both paths: one-request batches, then one full burst
        for k, (kind, body) in enumerate(payload_mix(rng, WARM_REQUESTS)):
            status, resp = post(port, body)
            records.append(dict(rid=f"h{k}", kind=kind, body=body, status=status,
                                response=resp, http=True))
        bodies = payload_mix(rng, burst)
        stage_burst(staging, bodies, "warm")
        records += drain_burst(bus, staging, bodies, "warm")
        setup_s = ctx.setup_done()

        # drain bursts first: their full batches also finish warming the
        # plan, so the open loop below sees a steady server. The count is
        # fixed: bursts speed up as the plan warms, so a median over a
        # varying count would shift with it.
        drains = []  # (span, wall-clock window)
        for _ in range(BURSTS):
            a = time.time()
            tag = f"d{len(drains)}"
            bodies = payload_mix(rng, burst)
            stage_burst(staging, bodies, tag)
            with tracer.span(f"serving.drain.{len(drains)}") as span:
                records += drain_burst(bus, staging, bodies, tag)
            drains.append((span, (a, time.time())))

        # open loop for the rest of the measured time
        open_s = ctx.seconds * OPEN_SHARE
        out = ctx.run_dir.sub("state/loadgen.json")
        open_wall = time.time()
        with tracer.span("serving.open") as open_span:
            gen = subprocess.Popen([
                sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
                "--port", str(port), "--rate", str(RATE_PER_S), "--seconds", str(open_s),
                "--seed", str(ctx.seed), "--conns", str(CORES), "--out", out,
            ])
            try:
                gen.wait(timeout=open_s + 60)
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
        w_open = [(open_wall, time.time())]
        if gen.returncode != 0:
            raise RuntimeError(f"loadgen exited with {gen.returncode}")
        with open(out) as f:
            opened = json.load(f)
        for r in opened:
            r.update(rid=f"o{r['i']}", http=True)
        records += opened
        ctx.timed_done()
        if recorder is not None:
            recorder.wait_for(query.lastProgress["batchId"])
    finally:
        server.shutdown()
        server.server_close()
        query.stop()

    want = expected_responses(spark, model, {r["rid"]: r["body"] for r in records})
    failed = 0
    for r in records:
        resp = r["response"]
        ok = r["status"] == 200 and matches(resp, want[r["rid"]], r["kind"])
        if r.get("http"):
            ok = ok and bool(resp.get("request_id"))  # server-made id, echoed
        else:
            ok = ok and resp.get("request_id") == r["rid"]
        if not ok:
            failed += 1
            print(f"FAILED {r['rid']} {r['kind']} status={r['status']} resp={resp}",
                  file=sys.stderr)
    http_ids = [r["response"].get("request_id") for r in records
                if r.get("http") and r["response"]]
    failed += len(http_ids) - len(set(http_ids))  # each request its own id

    lat_ms = [r["latency_s"] * 1e3 for r in opened]
    metrics = {
        "setup_s": setup_s,
        "throughput_per_s": median([burst / span.seconds for span, _ in drains]),
        "latency_p50_ms": median(lat_ms),
        "latency_mean_ms": sum(lat_ms) / len(lat_ms),
    }
    if ctx.trace:
        metrics.update(sources_metrics(tracer))
        scores = [s.seconds * 1e3 for s in tracer.spans if s.name.startswith("ml.score.")]
        metrics.update({"ml.fit_s": fit.seconds, "ml.score_ms": median(scores)})
        metrics.update(recorder.phase_metrics("open", w_open, len(opened)))
        metrics.update(recorder.phase_metrics("drain", [w for _, w in drains],
                                              burst * len(drains)))
        for span, w in drains:  # per burst, so the test can check it repeats
            rows = recorder.phase_metrics("drain", [w], burst)
            span.counts["input_rows_per_request"] = rows[
                "streaming.input_rows_per_request.drain"]
        calls = [c for c in bus.calls if open_span.start <= c[1] <= open_span.end]
        metrics.update({
            "serving.publish_ms": median([c[2] * 1e3 for c in calls if c[0] == "publish"]),
            "serving.poll_wait_ms": median([c[2] * 1e3 for c in calls if c[0] == "poll"]),
            "serving.http_ms": median([r["rtt_s"] * 1e3 for r in opened]),
            "loadgen.lag_p50_ms": median([r["lag_s"] * 1e3 for r in opened]),
            "loadgen.lag_max_ms": max(r["lag_s"] * 1e3 for r in opened),
        })
    print(f"{workload}: {len(opened)} open-loop requests, {len(drains)} bursts of "
          f"{burst}", file=sys.stderr)
    return dict(metrics=metrics, attempted=len(records), failed=failed)
