"""The two analytics workloads: registry queries over seeded data.

Each query is built (``plans``: the builder call, which may fire jobs
while the DataFrame is constructed) and then run into the noop sink
(``spark``). The untimed first pass collects every query and compares it
with its DuckDB oracle; it doubles as the warm-up."""

from __future__ import annotations

import sys
import time

from common import CORES, Tracer, median

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Builders that fire jobs while the DataFrame is constructed (eager pins,
# checkpointed rounds, probes); execution is light. Each fires the same
# number of jobs on every seed (copurchase_kcore is left out: its peeling
# rounds, 48 to 73 jobs, depend on the seed's graph). The first two run
# alone under --tiny.
QUERIES = ["near_dup_clusters", "doc_pagerank", "copurchase_bfs_depths"]
PASS_S = 10  # nominal seconds per pass of QUERIES on 4 cores


def _rows_key(t: tuple) -> tuple:
    # tools/driver_sim.py's NULL-aware sort key
    return tuple((v is None, str(v)) for v in t)


def make_data(seed: int, out: str) -> str:
    """``tools/fuzz_regen.generate(seed)`` at its native size."""
    import fuzz_regen

    fuzz_regen.generate(seed, out, "us")
    return out


def oracle_check(spark, queries: dict, names: list[str], data: str) -> list[str]:
    """Collect each query and compare it with its DuckDB oracle; returns
    the names that differ or raise. The queries run side by side, one
    thread each, so the JVM's one-off warm-up is paid in parallel."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    from big_data_occupancy_detection_spark.plans.registry import REGISTRY

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

    def check(name: str) -> bool:
        try:
            df = queries[name](spark, data)
            cols = sorted(df.columns)
            got = sorted((tuple(r[c] for c in cols) for r in df.collect()), key=_rows_key)
            cur = con.cursor()
            ob = cur.execute(REGISTRY[name].oracle).fetchall()
            desc = [d[0] for d in cur.description]
            cur.close()
            idx = [desc.index(c) for c in cols]
            want = sorted((tuple(r[i] for i in idx) for r in ob), key=_rows_key)
            if got == want:
                return True
            print(f"MISMATCH {name}: {len(got)} vs oracle {len(want)} rows",
                  file=sys.stderr)
        except Exception as ex:  # a failing query is a failed attempt
            print(f"ERROR {name}: {type(ex).__name__}: {ex}", file=sys.stderr)
        return False

    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        ok = list(pool.map(check, names))
    con.close()
    return [n for n, good in zip(names, ok) if not good]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def sources_layer(spark, tracer: Tracer, data: str, tables, probe: str, reps: int = 3):
    """Warm scan of every table, and single ``readers.table`` opens."""
    from big_data_occupancy_detection_spark.sources.readers import table

    with tracer.span("sources.scan"):
        for t in tables:
            with tracer.span(f"sources.scan.{t}", spark_jobs=True):
                _noop(table(spark, data, t))
    for i in range(reps):
        with tracer.span(f"sources.open.{i}", spark_jobs=True):
            table(spark, data, probe)


def sources_metrics(tracer: Tracer) -> dict:
    opens = [s for s in tracer.spans if s.name.startswith("sources.open.")]
    scan = [s for s in tracer.spans if s.name == "sources.scan"]
    return {
        "sources.scan_s": scan[0].seconds if scan else 0.0,
        "sources.open_ms": median([s.seconds * 1e3 for s in opens]),
        "sources.open_jobs": opens[0].counts.get("jobs", 0) if opens else 0,
    }


def run(ctx, workload: str) -> dict:
    """Set up, check, then time whole passes for ``ctx.seconds``."""
    from big_data_occupancy_detection_spark.plans import queries_map

    names = QUERIES[:2] if ctx.tiny else QUERIES
    t = time.perf_counter()
    data = make_data(ctx.seed, ctx.run_dir.data)
    t_data = time.perf_counter() - t
    spark = ctx.start_session(memory="1g")
    tracer = ctx.tracer
    queries = queries_map()

    t = time.perf_counter()
    failed = oracle_check(spark, queries, names, data)
    print(f"set-up: data {t_data:.1f} s, session {ctx.session_start_s:.1f} s, "
          f"checked pass {time.perf_counter() - t:.1f} s", file=sys.stderr)
    attempted = len(names)
    if ctx.trace:
        sources_layer(spark, tracer, data, TABLES, "lineitem")
    setup_s = ctx.setup_done()

    # A fixed number of whole passes for the measured seconds. Passes keep
    # speeding up as the JVM warms, so a count that followed the clock
    # would let a fast run take its median over more, warmer passes.
    passes: list[dict[str, tuple[float, float]]] = []
    for p in range(max(2, round(ctx.seconds / PASS_S))):
        times = {}
        with tracer.span(f"pass.{p}"):
            for name in names:
                attempted += 1
                try:
                    with tracer.span(f"plans.construct.{name}.{p}", spark_jobs=True) as c:
                        df = queries[name](spark, data)
                    with tracer.span(f"spark.exec.{name}.{p}", spark_jobs=True) as e:
                        _noop(df)
                    times[name] = (c.seconds, e.seconds)
                except Exception as ex:
                    print(f"ERROR {name} pass {p}: {ex}", file=sys.stderr)
                    failed.append(name)
        passes.append(times)
    ctx.timed_done()

    per_query = {
        n: median([sum(p[n]) for p in passes if n in p]) for n in names
    }
    lat_ms = [v * 1e3 for v in per_query.values()]
    total_s = sum(per_query.values())
    metrics = {
        "setup_s": setup_s,
        "throughput_per_s": len(names) / total_s if total_s else 0.0,
        "latency_p50_ms": median(lat_ms),
        "latency_mean_ms": sum(lat_ms) / len(lat_ms),
    }
    if ctx.trace:
        metrics.update(sources_metrics(tracer))
        if not failed:  # a failed query has no spans to read
            metrics.update(layer_metrics(tracer, names, len(passes)))
    print(f"{workload}: {len(passes)} passes; per-query median s: "
          + ", ".join(f"{n} {v:.2f}" for n, v in per_query.items()), file=sys.stderr)
    return dict(metrics=metrics, attempted=attempted, failed=len(failed))


def layer_metrics(tracer: Tracer, names: list[str], n_passes: int) -> dict:
    """plans.* and spark.* from the traced passes: times are each query's
    median over passes; counts are taken from the first pass (the
    benchmark's own test checks they repeat exactly)."""
    spans = {s.name: s for s in tracer.spans}
    out: dict[str, float] = {}
    tot = dict.fromkeys(
        ("construct_s", "construct_jobs", "construct_stages", "exec_s", "jobs",
         "stages", "tasks", "task_s", "shuffle_read_mb", "shuffle_write_mb",
         "spill_mb"), 0.0)
    for n in names:
        cs = [spans[f"plans.construct.{n}.{p}"] for p in range(n_passes)]
        es = [spans[f"spark.exec.{n}.{p}"] for p in range(n_passes)]
        c_s = median([s.seconds for s in cs])
        e_s = median([s.seconds for s in es])
        out[f"plans.construct_s.{n}"] = c_s
        out[f"plans.construct_jobs.{n}"] = cs[0].counts["jobs"]
        out[f"spark.exec_s.{n}"] = e_s
        out[f"spark.jobs.{n}"] = es[0].counts["jobs"]
        tot["construct_s"] += c_s
        tot["construct_jobs"] += cs[0].counts["jobs"]
        tot["construct_stages"] += cs[0].counts["stages"]
        tot["exec_s"] += e_s
        for k in ("jobs", "stages", "tasks"):
            tot[k] += es[0].counts[k]
        for k in ("task_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            tot[k] += median([s.counts[k] for s in es])
    out.update({
        "plans.construct_s": tot["construct_s"],
        "plans.construct_jobs": tot["construct_jobs"],
        "plans.construct_stages": tot["construct_stages"],
        "spark.exec_s": tot["exec_s"],
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.task_s": tot["task_s"],
        "spark.core_busy_share": tot["task_s"] / (tot["exec_s"] * CORES),
        "spark.shuffle_read_mb": tot["shuffle_read_mb"],
        "spark.shuffle_write_mb": tot["shuffle_write_mb"],
        "spark.spill_mb": tot["spill_mb"],
    })
    return out
