"""``serve`` workload: a closed loop of 2 client threads in one process over
the browser query surface.

Each client sends its next request only after the previous one completed.
A request builds one query's DataFrame and materializes the full result
through the ``noop`` sink. The clients take their requests from one shared
stream of rounds, each round a seeded shuffle of the 8 queries, so the seed
sets the request order. No request is issued once ``--seconds`` have passed,
at least MIN_REQUESTS were issued and the stream is at a round boundary, so
every run serves whole rounds and the query mix does not vary between runs.

Before the loop, outside the timed region, each query's result is compared
once with its ``oracle_sql()`` text run in DuckDB over the same parquet
files. That check is the first set-up's warm-up pass: it runs every query
once (on one thread per core), so JIT and codegen caches are warm before
the loop. The set-up
repeats at the end of the run warm up with two of the cheapest queries.
"""

from __future__ import annotations

import json
import random
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from epstein_browser_spark.queries import QUERIES
from perfbench import inputs
from perfbench.common import CORES, WORK, log
from perfbench.trace import parse_eventlog, session_metrics, stages_of

# layers this workload calls; per-layer metrics of the others read 0 here
LAYERS = ("queries", "session", "trace")
QUERY_NAMES = (
    "q10_search_excerpt", "q12_pagination", "q39_search_page", "q08_nav_window",
    "q30_nav_transcripts", "q33_relevance_order", "q60_bm25_rank", "q11_union_dedup",
)
# warm-up pass of the set-up repeats: two of the cheapest queries
WARM_QUERIES = ("q10_search_excerpt", "q12_pagination")
CLIENTS = 2
MIN_REQUESTS = 32  # four rounds
PLAN_REPS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _normalized(pdf):
    """Columns sorted by name, floats rounded to 6 dp, every value as text,
    rows sorted: the form in which a result is compared with its oracle."""
    import pandas as pd

    out = pd.DataFrame(index=range(len(pdf)))
    for c in sorted(pdf.columns):
        col = pdf[c].reset_index(drop=True)
        if pd.api.types.is_float_dtype(col):
            col = col.round(6)
        elif pd.api.types.is_integer_dtype(col):
            col = col.astype("int64")
        out[c] = col.astype(str).where(col.notna(), "None")
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def _check_oracle(b, tables: str) -> dict[str, int]:
    """Each query's Spark result against its DuckDB oracle. Returns the
    result size in bytes per query (Arrow, as materialized to a client)."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("documents", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    # the Spark side runs on one thread per core: the cold first
    # executions overlap instead of queuing behind each other
    with ThreadPoolExecutor(CORES) as pool:
        results = dict(zip(QUERY_NAMES, pool.map(
            lambda n: QUERIES[n][0](b.spark, tables).toPandas(), QUERY_NAMES)))
    sizes = {}
    for name in QUERY_NAMES:
        got = results[name]
        exp = con.execute(QUERIES[name][1]).df()
        sizes[name] = pa.Table.from_pandas(got, preserve_index=False).nbytes
        g, e = _normalized(got), _normalized(exp)
        same = list(g.columns) == list(e.columns) and g.shape == e.shape and (g.values == e.values).all()
        b.check(f"serve.oracle.{name}", same,
                f"{len(g)} rows vs oracle {len(e)}; columns match: {list(g.columns) == list(e.columns)}")
    con.close()
    return sizes


def run(b, out_root: str) -> tuple[dict, dict]:
    tables = inputs.serve_tables(WORK)

    def warm(spark):
        for name in WARM_QUERIES:
            _noop(QUERIES[name][0](spark, tables))

    sizes: dict[str, int] = {}
    b.setup(lambda spark: sizes.update(_check_oracle(b, tables)), warm)
    spark = b.spark
    tracer = b.tracer
    lock = threading.Lock()
    done: list[tuple[float, float, str, bool]] = []  # (finish, latency, name, ok)
    errors: list[str] = []
    rng = random.Random(b.seed)
    order: list[str] = []
    issued = 0
    b.start_timed()
    t_start = time.perf_counter()

    def next_request() -> str | None:
        nonlocal issued
        with lock:
            if (issued % len(QUERY_NAMES) == 0 and issued >= MIN_REQUESTS
                    and time.perf_counter() - t_start >= b.seconds):
                return None
            if not order:
                order.extend(QUERY_NAMES)
                rng.shuffle(order)
            issued += 1
            return order.pop()

    def client(loop_span) -> None:
        while (name := next_request()) is not None:
            t0 = time.perf_counter()
            ok = True
            with tracer.span("queries.request", parent=loop_span):
                try:
                    _noop(QUERIES[name][0](spark, tables))
                except Exception as e:  # a failed request counts, the loop goes on
                    ok = False
                    with lock:
                        errors.append(f"{name}: {e!r}")
            t1 = time.perf_counter()
            with lock:
                done.append((t1, t1 - t0, name, ok))

    with tracer.span("serve.loop") as sp_loop:
        threads = [threading.Thread(target=client, args=(sp_loop,)) for _ in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    wall = time.perf_counter() - t_start
    for e in errors[:5]:
        log(f"request failed: {e}")
    b.ops += len(done)
    b.failed_ops += sum(1 for d in done if not d[3])

    done.sort()
    lat = [d[1] for d in done if d[3]]
    per_query = {n: round(statistics.median([d[1] for d in done if d[2] == n]), 4)
                 for n in QUERY_NAMES if any(d[2] == n for d in done)}
    log(f"{len(done)} requests in {wall:.2f}s; median s per query: {json.dumps(per_query)}")
    # memory: per-layer only, its peak is bimodal (see README.md)
    peak_mb = b.peak_rss_mb()
    log(f"peak RSS of the timed pass: {peak_mb:.1f} MB")
    e2e = {
        "throughput_per_s": len(done) / wall,
        "latency_p50_ms": statistics.median(lat) * 1e3,
        "latency_p90_ms": statistics.quantiles(lat, n=10, method="inclusive")[8] * 1e3,
        "pass_s": done[MIN_REQUESTS - 1][0] - t_start,
        # one round of the 8 queries, so the request mix does not move it
        "bytes_per_item": statistics.mean(sizes.values()),
    }
    if not b.trace:
        return e2e, {}

    # traced-only: planning vs execution per query, sequential
    layers = {}
    for name in QUERY_NAMES:
        plan, exe = [], []
        for _ in range(PLAN_REPS):
            with tracer.span(f"queries.{name}"):
                t0 = time.perf_counter()
                df = QUERIES[name][0](spark, tables)
                df._jdf.queryExecution().executedPlan()
                t1 = time.perf_counter()
                _noop(df)
                t2 = time.perf_counter()
            plan.append((t1 - t0) * 1e3)
            exe.append((t2 - t1) * 1e3)
        layers[f"queries.{name}.plan_ms"] = statistics.median(plan)
        layers[f"queries.{name}.exec_ms"] = statistics.median(exe)
    log_path = b.app_eventlog()
    b.stop()
    ev = parse_eventlog(log_path)
    b.parsed_eventlog = ev
    tracer.attribute_jobs(ev["jobs"])
    req_ids = {s["id"] for s in tracer.by_name("queries.request")}
    loop_ids = tracer.descendants(sp_loop["id"])
    req_jobs = [j for j in ev["jobs"] if j.get("span") in req_ids]
    sids = stages_of(req_jobs)
    layers.update({
        "queries.jobs_per_request": len(req_jobs) / len(done),
        "queries.tasks_per_request": sum(1 for t in ev["tasks"] if t["stage"] in sids) / len(done),
        "trace.spans": len(tracer.spans),
        "session.peak_rss_mb": peak_mb,
    })
    layers.update(session_metrics(
        ev, [j for j in ev["jobs"] if j.get("span") in loop_ids], wall, CORES))
    return e2e, layers
