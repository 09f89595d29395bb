"""The workloads. Each fills ``ctx.e2e`` (the end-to-end metrics
every workload defines), ``ctx.layer`` (per-layer metrics; layers a
workload does not exercise stay 0) and ``ctx.report`` (workload-specific
figures printed for readers), and records every check in ``ctx``.

Why these: ``trickle`` is the reference's steady state, where fixed
per-batch cost and change-to-visible freshness dominate; ``read_mix``
is one analyst client on the lakehouse: it shares one mirror between
reads and small commits, so work deferred or fragmented by a commit
shows up in reads or space, and it runs the LLM-data curation queries
the CDC path never touches. ``backfill`` (large batches, where data
volume sets commit time) runs the same way but is not in BENCHMARK.json.
"""
from __future__ import annotations

import datetime as _dt
import glob
import itertools
import json
import os
import shutil
import tempfile
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

import common
import fixtures as fx
import oracle

REPS = 3  # set-up repetitions per run; setup_s takes their median

# trickle. The period leaves headroom over a warm batch (2-3 s on
# 4 CPUs), so freshness measures batch cost rather than a queue that
# grows. Warm-up files are dropped at once; the pipeline's file source
# takes one file per trigger, so they run as back-to-back batches, and
# batch time keeps falling over the first few batches as the JIT compiles.
TRICKLE_PERIOD_S = 4.0
TRICKLE_WARMUP_FILES = 5
TRICKLE_EVENTS = 500
TRICKLE_MALFORMED = 0.005
TRICKLE_DRAIN_S = 30.0

# backfill
BACKFILL_EVENTS = 120_000

# read_mix: one cycle of 25 client operations, in this order, and only
# whole cycles are timed, so every run weighs the kinds alike.
# P point lookup, R key-range aggregate, S lake SQL, Q curation query
# (the next of CURATION, so a cycle runs each once), T time travel,
# D snapshot diff, C small commit.
READ_MIX_CYCLE = "PRPSQPCPTQPRPSQPDPRQPSPQC"
READ_MIX_COMMIT_EVENTS = 200
READ_MIX_EXPIRE_EVERY = 2  # commits, the warm-up commit included
READ_MIX_KEEP_LAST = 2
RANGE_ORDERS = 150

# One registry query per LLM-data module -> that module.
CURATION = {
    "q_dedup_exact": "ext.dedup",
    "q_knn_graph": "ext.similarity",
    "q_knn_graph_incremental": "ext.ann",
    "q_sketch_theta": "operators.sketches",
    "q_bm25": "ext.text",
}

LAKE_SQL = {
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               sum(l_quantity) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus""",
    "q3_shipping_priority": """
        SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
        GROUP BY o.o_orderkey, o.o_orderdate
        ORDER BY revenue DESC, o.o_orderkey LIMIT 10""",
    "q5_local_supplier": """
        SELECT n.n_name, count(*) AS n_lines,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name""",
}
TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def _median_rep(ctx, name: str, build) -> object:
    """Run ``build(r)`` REPS times under a span ``name``; record the
    median as this run's repeatable set-up time; return the last
    result. Earlier results are dropped by the caller."""
    times, out = [], None
    for r in range(REPS):
        with ctx.tracer.span(name, rep=r) as s:
            out = build(r)
        times.append(s.wall)
    ctx.setup_parts["repeated"] = common.median(times)
    return out


def _timed_setup(ctx, name: str, fn):
    with ctx.tracer.span(name) as s:
        out = fn()
    ctx.setup_parts[name] = s.wall
    return out


# --- mirror storage probes (format-agnostic: parquet files on disk) --------


def _file_sizes(path: str) -> dict[str, int]:
    out = {}
    for f in common.parquet_files(path):
        try:
            out[f] = os.path.getsize(f)
        except OSError:
            pass
    return out


def _write_stats(before: dict[str, int], after: dict[str, int]) -> dict:
    new = {f: b for f, b in after.items() if f not in before}
    buckets = {os.path.basename(os.path.dirname(f)) for f in new}
    rows = sum(pq.read_metadata(f).num_rows for f in new)
    return {"files": len(new), "bytes": sum(new.values()),
            "buckets": len(buckets), "rows": rows}


def _space_amp(mirror_path: str, live_files: list[str]) -> float:
    live = sum(os.path.getsize(f.replace("file://", "")) for f in live_files)
    return common.dir_bytes(mirror_path) / live if live else 0.0


def _commit_layer(ctx, commits: list[dict], event_bytes: int) -> None:
    """Per-commit means of the SnapshotMirror write path."""
    n = len(commits)
    keys = sum(c["keys"] for c in commits)
    rows = sum(c["rows"] for c in commits)
    written = sum(c["bytes"] for c in commits)
    ctx.layer.update({
        "cdc.versioned.prepare_s": common.mean([c["prepare_s"] for c in commits]),
        "cdc.versioned.apply_s": common.mean([c["apply_s"] for c in commits]),
        "cdc.versioned.buckets_rewritten": sum(c["buckets"] for c in commits) / n,
        "cdc.versioned.rows_rewritten": rows / n,
        "cdc.versioned.rewrite_ratio": keys / rows if rows else 0.0,
        "cdc.versioned.bytes_written": written / n,
        "cdc.versioned.files_written": sum(c["files"] for c in commits) / n,
    })
    ctx.e2e["write_amp"] = written / event_bytes


def _commit_latency(ctx, secs: list[float]) -> None:
    t, label = common.tail(secs)
    ctx.layer["cdc.commit_p50_s"] = common.median(secs)
    ctx.layer["cdc.commit_tail_s"] = t
    ctx.report["commit_p50_s"] = common.median(secs)
    ctx.report["commit_tail_s"] = f"{t:.4f} ({label}, n={len(secs)})"


def _latency(ctx, samples: list[float], work: float, busy_s: float) -> None:
    t, label = common.tail(samples)
    ctx.e2e["latency_p50_s"] = common.median(samples)
    ctx.e2e["latency_tail_s"] = t
    ctx.e2e["throughput_per_s"] = work / busy_s
    ctx.stamps["tail"] = {"percentile": label, "samples": len(samples)}


# --- lineitem mirror helpers ----------------------------------------------


def _lineitem_state(tbl: pa.Table) -> dict:
    """key ``(l_orderkey, l_linenumber)`` -> ``(l_quantity, l_extendedprice)``."""
    ok, ln, q, p = (tbl.column(c).to_numpy().tolist() for c in fx.LINEITEM_COLS)
    return dict(zip(zip(ok, ln), zip(q, p)))


def _lineitem_events(tbl: pa.Table) -> list[tuple]:
    """Change rows as the replay's ``(key, row, op, ts_ms, off)`` tuples."""
    c = {n: tbl.column(n).to_pylist() for n in tbl.column_names}
    return list(zip(zip(c["l_orderkey"], c["l_linenumber"]),
                    zip(c["l_quantity"], c["l_extendedprice"]),
                    c["op"], c["ts_ms"], c["off"]))


def _mirror_state(df) -> dict:
    return _lineitem_state(df.select(*fx.LINEITEM_COLS).toArrow())


def _rows_digest(df) -> tuple:
    """Row count and the sum of 64-bit row hashes: equal for two
    relations holding the same multiset of rows (up to hash collision)."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in fx.LINEITEM_COLS]
    return tuple(df.select(F.count(F.lit(1)), F.sum(
        F.xxhash64(*cols).cast("decimal(38,0)"))).first())


def _lineitem_mirror(ctx, lake_dir: str):
    """Lineitem projection written as the snapshot; REPS mirror inits,
    each into a fresh directory (the last one is kept)."""
    from proof_of_concept___cdc_w_iceberg_spark.cdc.versioned import SnapshotMirror

    snap = os.path.join(ctx.work, "lineitem_snapshot.parquet")
    li = pq.read_table(os.path.join(lake_dir, "lineitem.parquet"),
                       columns=fx.LINEITEM_COLS)
    pq.write_table(li, snap)

    def build(r):
        path = os.path.join(ctx.work, f"mirror{r}")
        m = SnapshotMirror(ctx.spark, path, keys=fx.LINEITEM_KEYS, n_buckets=16)
        m.init(ctx.spark.read.parquet(snap))
        return m

    m = _median_rep(ctx, "cdc.versioned.init", build)
    for r in range(REPS - 1):
        shutil.rmtree(os.path.join(ctx.work, f"mirror{r}"), ignore_errors=True)
    ctx.layer["cdc.versioned.init_s"] = ctx.setup_parts["repeated"]
    return m, li


class _Commits:
    """Generates change batches as parquet files and commits them
    through ``SnapshotMirror.prepare`` + ``apply``, recording per-commit
    timings and the storage each commit wrote."""

    def __init__(self, ctx, mirror, changes: fx.LineitemChanges):
        self.ctx, self.m, self.changes = ctx, mirror, changes
        self.batches: list[pa.Table] = []
        self.records: list[dict] = []
        self.event_bytes = 0
        self.n = 0

    def commit(self, n_events: int, record: bool = True) -> tuple[int, pa.Table]:
        ctx = self.ctx
        tbl = self.changes.batch(n_events, ts_ms=1_000 + self.n)
        path = os.path.join(ctx.work, f"changes_{self.n:04d}.parquet")
        pq.write_table(tbl, path)
        self.n += 1
        before = _file_sizes(self.m.path)
        with ctx.tracer.span("commit", events=n_events) as c:
            with ctx.tracer.span("cdc.versioned.prepare") as p:
                handle = self.m.prepare(ctx.spark.read.parquet(path))
            with ctx.tracer.span("cdc.versioned.apply") as a:
                version = self.m.apply(prepared=handle)
        self.batches.append(tbl)
        if record:
            stats = _write_stats(before, _file_sizes(self.m.path))
            keys = pa.Table.from_arrays([tbl.column(k) for k in fx.LINEITEM_KEYS],
                                        names=fx.LINEITEM_KEYS)
            stats.update(commit_s=c.wall, prepare_s=p.wall, apply_s=a.wall,
                         events=n_events, keys=keys.group_by(fx.LINEITEM_KEYS)
                         .aggregate([]).num_rows)
            self.records.append(stats)
            self.event_bytes += os.path.getsize(path)
        return version, tbl


class _Curation:
    """Runs the CURATION registry queries over a lake and checks their
    last results against ``registry.oracles()`` in DuckDB."""

    TABLES = ["orders", "documents", "embeddings"]

    def __init__(self, ctx, lake: str):
        from proof_of_concept___cdc_w_iceberg_spark import registry

        self.ctx, self.lake, self.registry = ctx, lake, registry
        self.queries = registry.queries()
        self.results: dict[str, tuple] = {}
        self.times: dict[str, list[float]] = {q: [] for q in CURATION}

    def run(self, q: str, record: bool = True) -> float:
        ctx = self.ctx
        with ctx.tracer.span(CURATION[q], query=q) as s:
            df = self.queries[q](ctx.spark, self.lake)
            rows = df.collect()
        self.results[q] = (df.columns, rows)
        ctx.spark.catalog.clearCache()
        if record:
            self.times[q].append(s.wall)
        return s.wall

    def report(self) -> None:
        """Per-module query times and ``pass_s``, the summed median time
        of one run of each query."""
        ctx = self.ctx
        for q, module in CURATION.items():
            ctx.layer[f"{module}.{q}_s"] = common.mean(self.times[q])
        ctx.report["pass_s"] = ctx.layer["curation.pass_s"] = sum(
            common.median(v) for v in self.times.values())

    def check(self) -> None:
        ctx = self.ctx
        con = _duckdb(self.lake, self.TABLES)
        try:
            oracles = self.registry.oracles()
            for q in CURATION:
                cols, rows = self.results[q]
                scols = sorted(c.lower() for c in cols)
                srows = [{c.lower(): v for c, v in r.asDict().items()} for r in rows]
                od = con.sql(oracles[q])
                ocols = sorted(c.lower() for c in od.columns)
                orows = [dict(zip([c.lower() for c in od.columns], t)) for t in od.fetchall()]
                ctx.check(scols == ocols and len(srows) == len(orows)
                          and oracle.canon_rows(scols, srows) == oracle.canon_rows(ocols, orows),
                          f"{q} equals its DuckDB oracle")
        finally:
            con.close()


# --- workloads -------------------------------------------------------------


def backfill(ctx) -> None:
    """Closed loop, one writer: 120k-event batches into a 600k-row
    16-bucket SnapshotMirror, as many as fit in the window."""
    lake = os.path.join(ctx.work, "lake")
    _timed_setup(ctx, "fixtures", lambda: fx.write_lake(ctx.seed, lake, ["lineitem"]))
    m, li = _lineitem_mirror(ctx, lake)
    commits = _Commits(ctx, m, fx.LineitemChanges(ctx.rng, li))
    _timed_setup(ctx, "warmup", lambda: commits.commit(BACKFILL_EVENTS, record=False))

    ctx.start_window()
    while not ctx.window_over():
        ctx.attempt(lambda: commits.commit(BACKFILL_EVENTS), "commit")
    ctx.end_window()

    secs = [c["commit_s"] for c in commits.records]
    events = sum(c["events"] for c in commits.records)
    _latency(ctx, secs, events, sum(secs))
    ctx.cpu_per_op(len(secs))
    _commit_layer(ctx, commits.records, commits.event_bytes)
    _commit_latency(ctx, secs)
    ctx.report["events_per_s"] = events / sum(secs)
    live = m.read().inputFiles()
    ctx.layer["cdc.versioned.files_live"] = len(live)
    ctx.e2e["space_amp"] = _space_amp(m.path, live)

    with ctx.tracer.span("check"):
        expected = oracle.replay(_lineitem_state(li),
                                 _lineitem_events(pa.concat_tables(commits.batches)))
        ctx.check(_mirror_state(m.read()) == expected,
                  "final mirror equals the latest-wins replay")


def read_mix(ctx) -> None:
    """Closed loop, one client over a lineitem SnapshotMirror and the
    lake it came from: point lookups, key-range aggregates and
    TPC-H-shaped SQL through SqlEndpoint, the curation registry queries,
    time travel and diffs, small commits and expiry."""
    from proof_of_concept___cdc_w_iceberg_spark.api import SqlEndpoint

    spark, rng = ctx.spark, ctx.rng
    lake = os.path.join(ctx.work, "lake")
    _timed_setup(ctx, "fixtures", lambda: fx.write_lake(
        ctx.seed, lake, TPCH_TABLES + ["documents", "embeddings"]))
    m, li = _lineitem_mirror(ctx, lake)
    changes = fx.LineitemChanges(rng, li)
    commits = _Commits(ctx, m, changes)
    ep = _timed_setup(ctx, "api.init", lambda: SqlEndpoint(spark, lake, tables=TPCH_TABLES))
    initial = _lineitem_state(li)
    rep = oracle.VersionedReplay(initial)
    cur = _Curation(ctx, lake)
    next_curation = itertools.cycle(CURATION)
    sql_results: dict[str, list] = {}
    samples: dict[str, list[float]] = {k: [] for k in "PRSQTD"}
    pages = {"first": [], "drain": [], "rows": 0, "n": 0}
    expire_s: list[float] = []

    def register_head():
        with ctx.tracer.span("cdc.versioned.read", kind="head"):
            m.read().createOrReplaceTempView("mirror_head")

    def execute(sql: str, kind: str) -> list:
        with ctx.tracer.span("api.execute", kind=kind) as s:
            _cols, it = ep.execute(sql)
            first = next(it, [])
            t_first = time.time()
            rows = list(first) + [r for page in it for r in page]
        pages["first"].append(t_first - s.start)
        pages["drain"].append(s.end - t_first)
        pages["rows"] += len(rows)
        pages["n"] += 1
        samples[kind].append(s.wall)
        return rows

    def live_key() -> tuple[int, int]:
        k = int(changes.live[rng.integers(0, len(changes.live))])
        return k // 8, k % 8

    def op_point():
        ok, ln = live_key() if rng.random() < 0.8 else (int(rng.integers(0, changes.next_order)), 7)
        rows = execute("SELECT l_quantity, l_extendedprice FROM mirror_head "
                       f"WHERE l_orderkey = {ok} AND l_linenumber = {ln}", "P")
        want = rep.head.get((ok, ln))
        return [tuple(r) for r in rows] == ([want] if want else [])

    def op_range():
        a = int(rng.integers(0, changes.next_order - RANGE_ORDERS))
        b = a + RANGE_ORDERS
        rows = execute("SELECT count(*) AS n, sum(l_quantity) AS q FROM mirror_head "
                       f"WHERE l_orderkey BETWEEN {a} AND {b}", "R")
        hits = [rep.head[(o, ln)] for o in range(a, b + 1) for ln in range(1, 8)
                if (o, ln) in rep.head]
        want = (len(hits), sum(h[0] for h in hits) if hits else None)
        return oracle.rows_close([tuple(rows[0])], [want])

    def op_sql():
        name = list(LAKE_SQL)[len(samples["S"]) % len(LAKE_SQL)]
        rows = execute(LAKE_SQL[name], "S")
        sql_results.setdefault(name, []).append([tuple(r) for r in rows])
        return True  # checked against DuckDB after the window

    def op_curation():
        samples["Q"].append(cur.run(next(next_curation)))

    def op_time_travel():
        versions = [v for v in m.versions() if v != rep.version]
        v = int(versions[rng.integers(0, len(versions))])
        ok, ln = live_key()
        with ctx.tracer.span("cdc.versioned.read", kind="time_travel") as s:
            rows = (m.read(version=v).filter(f"l_orderkey = {ok} AND l_linenumber = {ln}")
                    .select("l_quantity", "l_extendedprice").collect())
        samples["T"].append(s.wall)
        want = rep.at((ok, ln), v, initial)
        return [tuple(r) for r in rows] == ([want] if want else [])

    def op_diff():
        v_to = rep.version
        v_from = max(v_to - 2, min(m.versions()))
        with ctx.tracer.span("cdc.versioned.diff") as s:
            rows = m.diff(v_from, v_to).select(*fx.LINEITEM_KEYS, "op").collect()
        samples["D"].append(s.wall)
        got = {(r[0], r[1]): r[2] for r in rows}
        return len(got) == len(rows) and got == rep.changed_between(v_from, v_to, initial)

    def op_commit():
        version, events = commits.commit(READ_MIX_COMMIT_EVENTS)
        register_head()
        ok = version == rep.commit(_lineitem_events(events))
        if version % READ_MIX_EXPIRE_EVERY == 0:
            with ctx.tracer.span("cdc.versioned.expire") as s:
                m.expire(keep_last=READ_MIX_KEEP_LAST)
            expire_s.append(s.wall)
        return ok

    ops = {"P": op_point, "R": op_range, "S": op_sql, "Q": op_curation,
           "T": op_time_travel, "D": op_diff, "C": op_commit}

    def warmup():
        # One commit first, so time travel and diff have history; then
        # every kind of op once, each SQL shape and curation query included.
        _version, events = commits.commit(READ_MIX_COMMIT_EVENTS, record=False)
        rep.commit(_lineitem_events(events))
        register_head()
        for kind in "PRTD" + "S" * len(LAKE_SQL):
            ops[kind]()
        for q in CURATION:
            cur.run(q, record=False)
        for v in samples.values():
            v.clear()
        for k in ("first", "drain"):
            pages[k].clear()
        pages["rows"] = pages["n"] = 0
        sql_results.clear()

    _timed_setup(ctx, "warmup", warmup)
    # Time travel to the initial snapshot, checked before expiry can
    # reclaim it (outside set-up and the timed window), against the
    # snapshot file pyarrow wrote.
    with ctx.tracer.span("check"):
        snapshot = spark.read.parquet(os.path.join(ctx.work, "lineitem_snapshot.parquet"))
        ctx.check(_rows_digest(m.read(version=0)) == _rows_digest(snapshot),
                  "read(version=0) equals the initial snapshot")

    # Whole cycles only: a cycle starts when another as long as the last
    # one still ends inside the window, and there is always at least one.
    ctx.start_window()
    cycles: list[float] = []
    while not cycles or time.time() + cycles[-1] <= ctx.window_start + ctx.seconds:
        t = time.time()
        for kind in READ_MIX_CYCLE:
            ctx.attempt(ops[kind], f"op {kind}")
        cycles.append(time.time() - t)
    ctx.end_window()
    ctx.stamps["cycles"] = len(cycles)
    ctx.cpu_per_op(len(cycles) * len(READ_MIX_CYCLE))

    queries = [x for k in "PRSQ" for x in samples[k]]
    _latency(ctx, queries, len(queries), sum(queries))
    ctx.report["query_p50_s"] = ctx.e2e["latency_p50_s"]
    ctx.report["query_tail_s"] = ctx.e2e["latency_tail_s"]
    ctx.report["queries_per_s"] = len(queries) / (ctx.window_end - ctx.window_start)
    if commits.records:
        _commit_layer(ctx, commits.records, commits.event_bytes)
        _commit_latency(ctx, [c["commit_s"] for c in commits.records])
    ctx.layer.update({
        "api.point_s": common.mean(samples["P"]),
        "api.range_s": common.mean(samples["R"]),
        "api.lake_sql_s": common.mean(samples["S"]),
        "api.first_page_s": common.mean(pages["first"]),
        "api.drain_s": common.mean(pages["drain"]),
        "api.rows_returned": pages["rows"] / max(pages["n"], 1),
        "cdc.versioned.read_s": common.mean(samples["T"]),
        "cdc.versioned.diff_s": common.mean(samples["D"]),
        "cdc.versioned.expire_s": common.mean(expire_s),
    })
    cur.report()
    live = m.read().inputFiles()
    ctx.layer["cdc.versioned.files_live"] = len(live)
    ctx.e2e["space_amp"] = _space_amp(m.path, live)

    with ctx.tracer.span("check"):
        ctx.check(_mirror_state(m.read()) == rep.head,
                  "final mirror equals the latest-wins replay")
    _check_lake_sql(ctx, lake, sql_results)
    cur.check()


def _duckdb(lake: str, tables: list[str]):
    """An in-memory DuckDB with the lake tables as views; it spills, if
    at all, under this run's TMPDIR."""
    import duckdb

    con = duckdb.connect(config={"temp_directory": tempfile.gettempdir()})
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{lake}/{t}.parquet'")
    return con


def _check_lake_sql(ctx, lake: str, results: dict[str, list]) -> None:
    con = _duckdb(lake, TPCH_TABLES)
    try:
        for name, runs in results.items():
            want = con.sql(LAKE_SQL[name]).fetchall()
            for got in runs:
                ctx.check(oracle.rows_close(got, want), f"{name} equals DuckDB")
    finally:
        con.close()


def trickle(ctx) -> None:
    """Open loop through StreamingCdcPipeline: a generator thread drops
    one ~500-event envelope file every TRICKLE_PERIOD_S seconds."""
    from pyspark.sql.streaming import StreamingQueryListener

    from proof_of_concept___cdc_w_iceberg_spark.streaming.pipeline import (
        StreamingCdcPipeline,
    )

    spark, rng = ctx.spark, ctx.rng
    snap = os.path.join(ctx.work, "customer_snapshot.parquet")

    def fixtures():
        cust = fx.generate(ctx.seed, ["customer"])["customer"]
        tbl = pa.table({"k": cust.column("c_custkey"), "name": cust.column("c_name"),
                        "bal": cust.column("c_acctbal")})
        pq.write_table(tbl, snap)
        return tbl

    cust = _timed_setup(ctx, "fixtures", fixtures)

    def build(r):
        pipe = StreamingCdcPipeline(spark, workdir=os.path.join(ctx.work, f"pipe{r}"),
                                    trigger_seconds=1, n_buckets=16)
        pipe.init_mirror(spark.read.parquet(snap))
        return pipe

    pipe = _median_rep(ctx, "cdc.bucketed.init", build)
    for r in range(REPS - 1):
        shutil.rmtree(os.path.join(ctx.work, f"pipe{r}"), ignore_errors=True)
    ctx.layer["cdc.bucketed.init_s"] = ctx.setup_parts["repeated"]

    progress: list[dict] = []
    lock = threading.Lock()

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with lock:
                progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    initial = {k: (n, b) for k, n, b in zip(*(cust.column(c).to_pylist()
                                              for c in ("k", "name", "bal")))}
    gen = fx.CustomerChanges(rng, initial)
    files: list[dict] = []  # one per dropped file, in drop order

    def drop(due: float) -> None:
        ts_ms = int(time.time() * 1000)
        events = gen.batch(TRICKLE_EVENTS, ts_ms)
        records = [fx.envelope_record(e) for e in events]
        for _ in range(rng.binomial(TRICKLE_EVENTS, TRICKLE_MALFORMED)):
            pos = int(rng.integers(0, len(records) + 1))
            records.insert(pos, fx.malformed_record(rng, int(rng.integers(0, 1 << 30))))
        path = os.path.join(pipe.input_dir, f"part-{len(files):05d}.json")
        size = fx.write_json_lines(path, records)
        files.append({"path": path, "due": due, "late": time.time() - due,
                      "events": events, "records": records, "bytes": size})

    def applied() -> int:
        with lock:
            return sum(1 for p in progress if p["numInputRows"] > 0)

    def wait_applied(n: int, timeout: float) -> bool:
        end = time.time() + timeout
        while applied() < n and time.time() < end:
            time.sleep(0.05)
        return applied() >= n

    query = None
    try:
        def warmup():
            nonlocal query
            for _ in range(TRICKLE_WARMUP_FILES):
                drop(time.time())
            query = pipe.start(trigger_once=False)
            if not wait_applied(TRICKLE_WARMUP_FILES, 120):
                raise TimeoutError("warm-up files not applied in 120 s")

        _timed_setup(ctx, "warmup", warmup)
        n_warm = len(files)

        # Open loop on a fixed schedule, phase-aligned to the 1 s trigger
        # clock so every run sees the same file-to-trigger phase.
        t0 = float(int(time.time()) + 1) + 0.25
        schedule = [t0 + i * TRICKLE_PERIOD_S for i in range(10_000)
                    if i * TRICKLE_PERIOD_S < ctx.seconds]

        def generator():
            for due in schedule:
                time.sleep(max(0.0, due - time.time()))
                drop(due)

        writes: dict[str, int] = {}
        seen = _file_sizes(pipe.mirror_path)
        bucket_rewrites = 0
        gen_thread = threading.Thread(target=generator, daemon=True)
        ctx.start_window(t0)
        gen_thread.start()
        drain_end = None
        while True:
            new = {f: b for f, b in _file_sizes(pipe.mirror_path).items() if f not in seen}
            seen.update(new)
            writes.update(new)
            # One poll sees one batch's publish (polls are 0.1 s apart,
            # batches seconds apart): count each bucket dir once per poll.
            bucket_rewrites += len({os.path.dirname(f) for f in new})
            if not gen_thread.is_alive():
                drain_end = drain_end or time.time() + TRICKLE_DRAIN_S
                if applied() >= len(files) or time.time() > drain_end:
                    break
            time.sleep(0.1)
        gen_thread.join()
        ctx.end_window(schedule[-1] + TRICKLE_PERIOD_S if schedule else None)
    finally:
        if query is not None:
            query.stop()
        spark.streams.removeListener(listener)

    # Which batch applied which file: the file source's own log.
    batch_of = {}
    for log in glob.glob(os.path.join(pipe.checkpoint, "sources", "0", "*")):
        with open(log) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                batch_of[entry["path"].replace("file://", "")] = entry["batchId"]
    by_batch = {p["batchId"]: p for p in progress if p["numInputRows"] > 0}
    spans = {}  # one per micro-batch, warm-up batches included
    for b, p in by_batch.items():
        start = _iso_to_epoch(p["timestamp"])
        spans[b] = ctx.tracer.add("streaming.add_batch", start,
                                  start + p["durationMs"]["triggerExecution"] / 1000.0,
                                  run_id=p["runId"], batch_id=b)

    fresh, window_batches, invisible = [], [], 0
    for f in files[n_warm:]:
        b = batch_of.get(f["path"])
        if b not in spans:
            invisible += len(f["events"])
            continue
        fresh.extend([spans[b].end - f["due"]] * len(f["events"]))
        window_batches.append((f, by_batch[b], spans[b].start, spans[b].end))
    ctx.attempted += sum(len(f["events"]) for f in files[n_warm:])
    ctx.failed += invisible
    if invisible:
        ctx.failures.append(f"{invisible} events not visible after the drain grace")
    if not window_batches:
        ctx.check(False, "at least one window batch applied")
        return

    secs = [(end - start) for _f, _p, start, end in window_batches]
    n_events = sum(len(f["events"]) for f, *_ in window_batches)
    # Throughput at the median batch: the events of a mean batch over
    # the median batch time, so one slow batch does not set it.
    nb = len(window_batches)
    _latency(ctx, fresh, n_events / nb, common.median(secs))
    ctx.cpu_per_op(nb)
    ctx.report["freshness_p50_s"] = ctx.e2e["latency_p50_s"]
    ctx.report["freshness_tail_s"] = ctx.e2e["latency_tail_s"]
    _commit_latency(ctx, secs)
    dur = [p["durationMs"] for _f, p, *_ in window_batches]
    in_bytes = sum(f["bytes"] for f, *_ in window_batches)
    ctx.layer.update({
        "streaming.add_batch_ms": common.mean([d.get("addBatch", 0) for d in dur]),
        "streaming.trigger_ms": common.mean([d.get("triggerExecution", 0) for d in dur]),
        "streaming.wal_commit_ms": common.mean([d.get("walCommit", 0) for d in dur]),
        "streaming.commit_offsets_ms": common.mean([d.get("commitOffsets", 0) for d in dur]),
        "streaming.latest_offset_ms": common.mean([d.get("latestOffset", 0) for d in dur]),
        "streaming.query_planning_ms": common.mean([d.get("queryPlanning", 0) for d in dur]),
        "streaming.get_batch_ms": common.mean([d.get("getBatch", 0) for d in dur]),
        "streaming.trigger_wait_ms": 1000 * common.mean(
            [start - f["due"] for f, _p, start, _e in window_batches]),
        "streaming.events_per_batch": n_events / nb,
        "streaming.rows_read_per_event": sum(p["numInputRows"] for _f, p, *_ in window_batches)
        / sum(len(f["records"]) for f, *_ in window_batches),
        "cdc.bucketed.buckets_rewritten": bucket_rewrites / nb,
        "cdc.bucketed.bytes_written": sum(writes.values()) / nb,
        "cdc.bucketed.files_written": len(writes) / nb,
    })
    late = [f["late"] for f in files[n_warm:]]
    ctx.stamps["generator_late_s"] = {"p50": common.median(late), "max": max(late)}
    ctx.e2e["write_amp"] = sum(writes.values()) / in_bytes
    live = pipe.mirror().inputFiles()
    ctx.e2e["space_amp"] = _space_amp(pipe.mirror_path, live)

    with ctx.tracer.span("check"):
        expected = oracle.replay(initial, [
            (e["k"], (e["name"], e["bal"]), e["op"], e["ts_ms"], e["off"])
            for f in files for e in f["events"]])
        got = {r["k"]: (r["name"], r["bal"]) for r in pipe.mirror().collect()}
        ctx.check(got == expected, "final mirror equals the latest-wins replay")
        dlq = sorted((r["key"], r["value"]) for r in pipe.dead_letters().collect())
        ctx.layer["streaming.dlq_rows"] = len(dlq)
        ctx.check(dlq == oracle.expected_dead_letters([r for f in files for r in f["records"]]),
                  "dead letters are exactly the malformed records")


def _iso_to_epoch(ts: str) -> float:
    return _dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=_dt.timezone.utc).timestamp()


WORKLOADS = {"trickle": trickle, "backfill": backfill, "read_mix": read_mix}
