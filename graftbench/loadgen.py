"""Open-loop /predict client, run as its own process.

Requests are due at a fixed rate whatever the server does; at most
``--conns`` are in flight. Each request is timed from when it was due,
so a stall also charges the requests queued behind it, and the lag
between due and sent is recorded. Writes one JSON file of records.

Usage: python loadgen.py --port P --rate R --seconds S --seed N --conns C --out F
"""

from __future__ import annotations

import argparse
import http.client
import json
import queue
import random
import threading
import time

MALFORMED = ("wrong_type", "missing", "null", "not_json")


def payload_mix(rng: random.Random, n: int, valid_share: float = 0.8) -> list[tuple[str, str]]:
    """``n`` (kind, body) pairs: ``valid_share`` well-formed feature
    payloads, the rest malformed in one of four ways."""
    out = []
    for i in range(n):
        p = {
            "Temperature": round(rng.uniform(19.0, 25.0), 2),
            "Humidity": round(rng.uniform(18.0, 40.0), 2),
            "CO2": round(rng.uniform(400.0, 1600.0), 1),
            "HumidityRatio": round(rng.uniform(0.0028, 0.0062), 6),
        }
        if rng.random() < valid_share:
            out.append(("valid", json.dumps(p)))
            continue
        kind = MALFORMED[i % len(MALFORMED)]
        if kind == "wrong_type":
            p["Temperature"] = "warm"
        elif kind == "missing":
            del p["CO2"]
        elif kind == "null":
            p["HumidityRatio"] = None
        body = "{not json" if kind == "not_json" else json.dumps(p)
        out.append((kind, body))
    return out


def post(port: int, body: str, timeout: float = 30.0) -> tuple[int, dict | None]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request("POST", "/predict", body=body.encode(),
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        raw = resp.read()
        try:
            parsed = json.loads(raw) if resp.status == 200 else None
        except ValueError:
            parsed = None
        return resp.status, parsed
    finally:
        conn.close()


def run(port: int, rate: float, seconds: float, seed: int, conns: int) -> list[dict]:
    mix = payload_mix(random.Random(seed), max(1, int(rate * seconds)))
    records: list[dict] = [{} for _ in mix]
    todo: queue.Queue = queue.Queue()

    def worker() -> None:
        while True:
            item = todo.get()
            if item is None:
                return
            i, due = item
            kind, body = mix[i]
            sent = time.perf_counter()
            try:
                status, resp = post(port, body)
            except OSError as ex:
                status, resp = 0, {"error": str(ex)}
            done = time.perf_counter()
            records[i] = dict(i=i, kind=kind, body=body, status=status, response=resp,
                              lag_s=sent - due, rtt_s=done - sent, latency_s=done - due)

    threads = [threading.Thread(target=worker) for _ in range(conns)]
    for t in threads:
        t.start()
    t0 = time.perf_counter()
    for i in range(len(mix)):
        due = t0 + i / rate
        time.sleep(max(0.0, due - time.perf_counter()))
        todo.put((i, due))
    for _ in threads:
        todo.put(None)
    for t in threads:
        t.join()
    return records


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--conns", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    records = run(a.port, a.rate, a.seconds, a.seed, a.conns)
    with open(a.out, "w") as f:
        json.dump(records, f)


if __name__ == "__main__":
    main()
