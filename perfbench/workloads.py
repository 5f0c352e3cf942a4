"""The three workloads. Each is a single-client closed loop: the next
operation starts only after the previous one returned and was checked.

An *operation* (op) is the unit every end-to-end metric is counted in:

- ``ingest``: land one micro-batch file, drain it into the table with
  ``stream_ingest_to_table(availableNow)``, then query a slice of it back.
- ``range_query``: one ``IceTable.query(partition, lo, hi)`` forced by a
  count-and-sum.
- ``analytics``: one pass of the fixed mix of registry queries, in a seeded
  order, each query forced by a ``noop`` write. The op is the pass, not the
  query: a median over single queries of six different costs falls on
  whichever two queries straddle the middle, and jumps between them from
  run to run.
"""

from __future__ import annotations

import datetime
import hashlib
import itertools
import math
import os
import statistics
import sys
import time
import traceback

import numpy as np

from perfbench import gen

# the analytics mix: three relational and three LLM-data registry queries
RELATIONAL = ["tpch_q1", "tpch_q3", "win_frame"]
LLM = ["dedup_exact", "sim_search", "corpus_quality"]

# ingest: 100-row micro-batches, one 1 h event-time window each; a
# maintenance tick every second batch, so a 5 s run (the untimed first
# batch and about two timed ones) reaches one
INGEST_ROWS = 100
INGEST_WINDOW_US = gen.HOUR_US
MAINTAIN_EVERY = 2
# range_query: the table is streamed in as two micro-batches (the first
# creates it), together 14 days of event time; no maintenance tick falls
# inside them, so the table stays uncompacted. About 370 files, inside
# Manifest.inline_max: a sidecar-sized build (> 512 files) costs 25-70 s
# per run on a 4-core host, too long for one benchmark run. Each set-up
# repetition streams the same rows into a fresh table; the last is queried
RQ_BATCHES = [800, 250]
RQ_WINDOW_US = 14 * 24 * gen.HOUR_US // len(RQ_BATCHES)
# queries run before timing starts: query latency keeps falling for the
# first few dozen queries while the JVM compiles the read path
RQ_WARMUP = 40
# analytics data size (orders; lineitem is ~4x); one timed pass of the mix
# per ANALYTICS_S_PER_PASS seconds of --seconds
ANALYTICS_ORDERS = 10_000
ANALYTICS_S_PER_PASS = 1.25


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q, beyond: int = 0):
    """Nearest-rank percentile over every sample; None when there are no
    samples, or fewer than ``beyond`` samples lie above the rank (the
    diagnostics ask for ten)."""
    if not xs:
        return None
    s = sorted(xs)
    k = max(0, math.ceil(q / 100 * len(s)) - 1)
    return s[k] if len(s) - 1 - k >= beyond else None


def to_dt(us: int) -> datetime.datetime:
    return datetime.datetime(1970, 1, 1) + datetime.timedelta(
        microseconds=int(us))


class Context:
    """Per-run state shared by the workloads: session, scratch dir, the
    optional tracer and job counter, and the operation ledger."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 tracer=None, jobs=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.jobs = jobs
        self.op_id = 0
        self.latencies: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.jobs_per_op: list[int] = []
        self.tasks_per_op: list[int] = []
        self.extra_groups: list[str] = []
        self.kinds: dict[int, str] = {}     # op id -> "ingest" | "query" | …
        self.timed: set[int] = set()        # op ids that are samples
        self.last_op_s = 0.0

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def check(self, ok: bool, what: str) -> None:
        """An untimed correctness check counts as one attempted op."""
        self.attempted += 1
        if not ok:
            self.fail(what)

    def op(self, fn, kind: str, record: bool = True):
        """Run one operation of ``kind``; ``record`` makes it a sample of
        the end-to-end metrics (warm-up and set-up ops are not). Returns
        fn's value, or None when it raised (counted as failed)."""
        self.op_id += 1
        self.attempted += 1
        self.kinds[self.op_id] = kind
        if record:
            self.timed.add(self.op_id)
        self.extra_groups = []
        tr = self.tracer
        root = None
        if tr is not None:
            tr.op = self.op_id
            root = tr.begin("bench.op")
        if self.jobs is not None:
            self.jobs.start(f"perfbench-op-{self.op_id}")
        t0 = time.perf_counter()
        try:
            value = fn()
        except Exception:
            traceback.print_exc()
            self.fail(f"op {self.op_id} raised")
            value = None
        dt = time.perf_counter() - t0
        if tr is not None:
            tr.end(root)
            tr.op = None
        if self.jobs is not None:
            j, t = self.jobs.stop(self.extra_groups)
            if record:
                self.jobs_per_op.append(j)
                self.tasks_per_op.append(t)
        if record and value is not None:
            self.latencies.append(dt)
        self.last_op_s = dt
        return value


# --------------------------------------------------------------------------
# ingest
# --------------------------------------------------------------------------

class Feed:
    """One streaming-ingest pipeline into one table: each ``step`` lands a
    seeded micro-batch file in the source directory, drains it with
    ``stream_ingest_to_table(availableNow)``, and queries a slice of it
    back — the op ends when the landed rows are visible."""

    def __init__(self, ctx: Context, base: str, rows, window_us: int,
                 precreate: bool):
        from iceberg_core_spark.table import IceTable

        self.ctx = ctx
        self.src, self.root, self.ckpt = (os.path.join(base, d) for d in
                                          ("src", "table", "ckpt"))
        os.makedirs(self.src)
        self.rows = list(rows)
        self.stream = gen.EventStream(ctx.seed, self.rows[0], window_us)
        self.schema = gen.events_schema()
        if precreate:
            # a table that already exists when the stream starts: every
            # timed micro-batch is an append, never the create path
            IceTable.create(ctx.spark, self.root,
                            ctx.spark.createDataFrame([], self.schema),
                            partition_col="user_id", key_col="ts",
                            max_rows_per_file=8192)
        self.batches = []
        self.input_bytes = 0
        self.commits: list[float] = []
        self.progress: list[dict] = []

    def _land(self):
        self.stream.rows = self.rows[min(self.stream.index,
                                         len(self.rows) - 1)]
        b = self.stream.batch()
        self.input_bytes += gen.write_parquet(
            b, os.path.join(self.src, f"batch-{self.stream.index:05d}.parquet"))
        self.batches.append(b)
        # the visibility probe: the batch's busiest user over the batch's
        # event-time span for that user
        u = b.column("user_id").to_numpy()
        ts = b.column("ts").cast("int64").to_numpy()
        ids, counts = np.unique(u, return_counts=True)
        mask = u == ids[np.argmax(counts)]
        return int(u[mask][0]), int(ts[mask].min()), int(ts[mask].max())

    def _truth(self, user, lo, hi) -> int:
        import pyarrow as pa

        t = pa.concat_tables(self.batches)
        u = t.column("user_id").to_numpy()
        ts = t.column("ts").cast("int64").to_numpy()
        return int(((u == user) & (ts >= lo) & (ts <= hi)).sum())

    def _drain(self, probe):
        from iceberg_core_spark.streaming import stream_ingest_to_table
        from iceberg_core_spark.table import IceTable, MaintenancePolicy

        ctx, tr = self.ctx, self.ctx.tracer
        start = (tr.wrap("streaming.stream_ingest_to_table",
                         stream_ingest_to_table)
                 if tr else stream_ingest_to_table)
        q = start(ctx.spark, self.src, self.root, self.schema,
                  partition_col="user_id", key_col="ts",
                  trigger={"availableNow": True}, checkpoint_dir=self.ckpt,
                  maintenance=MaintenancePolicy(),
                  maintenance_every=MAINTAIN_EVERY)
        ctx.extra_groups.append(str(q.runId))
        if tr:
            with tr.span("streaming.awaitTermination"):
                q.awaitTermination()
        else:
            q.awaitTermination()
        user, lo, hi = probe
        df = IceTable(ctx.spark, self.root).query(
            partition=user, lo=to_dt(lo), hi=to_dt(hi))
        if tr:
            with tr.span("table.query.action"):
                return q, df.count()
        return q, df.count()

    def step(self, record: bool = True) -> None:
        probe = self._land()
        out = self.ctx.op(lambda: self._drain(probe), "ingest", record)
        if out is None:
            return
        self.commits.append(self.ctx.last_op_s)
        q, seen = out
        want = self._truth(*probe)
        if seen != want:
            self.ctx.fail(f"ingest batch {self.stream.index}: user "
                          f"{probe[0]} saw {seen} rows, generator has {want}")
        if self.ctx.tracer is not None:
            for p in q.recentProgress:
                if p.numInputRows:
                    self.progress.append(dict(p.durationMs))

    def check_all(self) -> None:
        """Untimed: the whole table against everything landed."""
        import pyarrow as pa
        from pyspark.sql import functions as F

        from iceberg_core_spark.table import IceTable

        t = pa.concat_tables(self.batches)
        row = IceTable(self.ctx.spark, self.root).scan().agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")).first()
        want_v = float(pa.compute.sum(t.column("value")).as_py())
        self.ctx.check(
            row.n == t.num_rows and math.isclose(row.v, want_v,
                                                 rel_tol=1e-9),
            f"final scan: {row.n} rows / sum {row.v}, generator has "
            f"{t.num_rows} / {want_v}")

    def named(self) -> dict:
        """Layout figures from the manifest alone (no Spark job)."""
        from iceberg_core_spark.table import IceTable

        tbl = IceTable(self.ctx.spark, self.root)
        snap = tbl.manifest.load(load_files=False)
        return {
            "bytes_per_user_byte": (
                tbl.manifest.snapshot_total_bytes(snap) / self.input_bytes,
                "ratio", 1),
            "table_files": (tbl.file_count(), "count", 1),
        }

    def layout(self, n_commits: int) -> dict:
        """Commit-shape counters from the snapshot history (the last
        ``n_commits`` appends) and streaming phase durations from
        ``recentProgress``."""
        from pyspark.sql import functions as F

        from iceberg_core_spark.table import IceTable

        tbl = IceTable(self.ctx.spark, self.root)
        man = tbl.manifest
        sizes, compactions, prev = [], 0, None
        for sid in man.snapshot_ids():
            s = man.load(sid, load_files=False)
            n = s.files_count if s.files_ref else len(s.files)
            if s.operation in ("create", "append"):
                sizes.append(n - (prev or 0))
            compactions += s.operation == "compact"
            prev = n
        sizes = sizes[-n_commits:]
        rows = sum(b.num_rows for b in self.batches[-n_commits:])
        mfp = tbl.partitions_df().agg(F.max("file_count")).first()[0]
        trig = [p.get("triggerExecution", 0) / 1000 for p in self.progress]
        add = [p.get("addBatch", 0) / 1000 for p in self.progress]
        return {
            "table.files_per_commit": median(sizes),
            "table.rows_per_file": rows / sum(sizes) if sum(sizes) else 0.0,
            "table.compactions": compactions,
            "table.max_files_per_partition": mfp or 0,
            "streaming.trigger_s": median(trig),
            "streaming.add_batch_s": median(add),
            "streaming.overhead_s": median([t - a for t, a in
                                            zip(trig, add)]),
        }


class Ingest:
    name = "ingest"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.setups = 0

    def setup(self) -> None:
        """Fresh source, checkpoint and table dirs, with the table created
        empty (schema, partition and key spec) by ``IceTable.create``."""
        self.setups += 1
        self.feed = Feed(self.ctx, self.ctx.path(f"ingest{self.setups}"),
                         [INGEST_ROWS], INGEST_WINDOW_US, precreate=True)

    def run(self) -> dict:
        ctx, feed = self.ctx, self.feed
        feed.step(record=False)       # warm the stream path; not a sample
        deadline = time.perf_counter() + ctx.seconds
        while time.perf_counter() < deadline:
            feed.step()
        feed.check_all()
        n = len(ctx.latencies)
        busy = sum(ctx.latencies)
        named = {
            "commit_p50_s": (median(ctx.latencies), "s", n),
            "ingest_rows_per_s": (INGEST_ROWS * n / busy if busy else 0.0,
                                  "rows/s", n),
            **feed.named(),
        }
        layer = feed.layout(n) if ctx.tracer is not None else {}
        return {"named": named, "layer": layer}


# --------------------------------------------------------------------------
# range_query
# --------------------------------------------------------------------------

class RangeQuery:
    name = "range_query"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.setups = 0
        self.commits: list[float] = []

    def setup(self) -> None:
        """Build the table with the program's own streaming ingest: two
        micro-batches, the first one through ``IceTable.create`` and the
        second through an append, left uncompacted — a streaming table
        between maintenance ticks, with two files per hot partition.
        Every call builds the same table afresh, in a directory of its
        own."""
        import pyarrow as pa

        from iceberg_core_spark.table import IceTable

        self.setups += 1
        self.feed = Feed(self.ctx, self.ctx.path(f"rq{self.setups}"),
                         RQ_BATCHES, RQ_WINDOW_US, precreate=False)
        for _ in RQ_BATCHES:
            self.feed.step(record=False)
        self.commits += self.feed.commits
        self.table = IceTable(self.ctx.spark, self.feed.root)
        self.rows = pa.concat_tables(self.feed.batches)

    def queries(self):
        """Seeded reference-shaped queries. Each is anchored on a random
        row of the table, so users are Zipf-hot exactly as the data is
        and every query matches at least one row; the window width is
        log-uniform between 1 h and 7 d, placed at random around it."""
        rng = np.random.default_rng(self.ctx.seed + 7919)
        users = self.rows.column("user_id").to_numpy()
        ts = self.rows.column("ts").cast("int64").to_numpy()
        while True:
            i = int(rng.integers(0, len(users)))
            width = int(gen.HOUR_US * math.exp(
                rng.uniform(0, math.log(7 * 24))))
            lo = int(ts[i]) - int(rng.integers(0, width + 1))
            yield int(users[i]), lo, lo + width

    def _one(self, user, lo, hi, out):
        from pyspark.sql import functions as F

        tr = self.ctx.tracer
        df = self.table.query(partition=user, lo=to_dt(lo), hi=to_dt(hi))
        agg = df.agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        if tr:
            with tr.span("table.query.action"):
                row = agg.collect()[0]
        else:
            row = agg.collect()[0]
        out["df"] = df
        return row.n, row.v

    def run(self) -> dict:
        ctx = self.ctx
        gen_q = self.queries()
        done = []
        traced = []
        deadline = math.inf
        for i in itertools.count():
            if i == RQ_WARMUP:
                deadline = time.perf_counter() + ctx.seconds
            if time.perf_counter() >= deadline:
                break
            q = next(gen_q)
            out: dict = {}
            res = ctx.op(lambda: self._one(*q, out), "query",
                         record=i >= RQ_WARMUP)
            if res is not None:
                done.append((q, res))
                if ctx.tracer is not None and i >= RQ_WARMUP:
                    traced.append((out["df"], res[0]))
        self._verify(done)
        n = len(ctx.latencies)
        busy = sum(ctx.latencies)
        named = {
            "query_p50_s": (median(ctx.latencies), "s", n),
            "query_p95_s": (percentile(ctx.latencies, 95), "s", n),
            "queries_per_s": (n / busy if busy else 0.0, "1/s", n),
            # the set-up's streaming commits, creates and appends alike
            "commit_p50_s": (median(self.commits), "s", len(self.commits)),
            **self.feed.named(),
        }
        layer = {}
        if ctx.tracer is not None:
            layer.update(self.feed.layout(len(RQ_BATCHES)))
            layer.update(self._layout(traced))
        return {"named": named, "layer": layer}

    def _verify(self, done) -> None:
        """Every answer against DuckDB over the same generated rows."""
        import duckdb

        con = duckdb.connect()
        con.register("ev", self.rows)
        for (user, lo, hi), (n, v) in done:
            want_n, want_v = con.execute(
                "SELECT count(*), sum(value) FROM ev WHERE user_id = ? "
                "AND epoch_us(ts) BETWEEN ? AND ?", [user, lo, hi]).fetchone()
            ok = n == want_n and (
                (v is None and want_v is None)
                or (v is not None and want_v is not None
                    and math.isclose(v, want_v, rel_tol=1e-9, abs_tol=1e-6)))
            if not ok:
                self.ctx.fail(f"range query user={user} [{lo},{hi}]: "
                              f"spark ({n}, {v}) vs duckdb ({want_n}, {want_v})")
        con.close()

    def _layout(self, traced) -> dict:
        tbl = self.table
        total = tbl.file_count()
        read = [len(df.inputFiles()) for df, _ in traced]
        rows = [n for _, n in traced]
        return {
            "table.files_read_per_query": median(read),
            "table.prune_ratio": (sum(read) / (len(read) * total)
                                  if read and total else 0.0),
            "table.rows_per_file_read": (sum(rows) / sum(read)
                                         if sum(read) else 0.0),
        }


# --------------------------------------------------------------------------
# analytics
# --------------------------------------------------------------------------

def _norm(v):
    if isinstance(v, float):
        return float(f"{v:.9g}") if math.isfinite(v) else str(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "asDict"):
        return tuple(_norm(x) for x in v)
    return v


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    key = lambda r: tuple((x is None, str(type(x)), str(x)) for x in r)  # noqa: E731
    return all(
        g == w or (isinstance(g, float) and isinstance(w, float)
                   and math.isclose(g, w, rel_tol=1e-7, abs_tol=1e-9))
        or (isinstance(g, tuple) and isinstance(w, tuple) and rows_match(
            [g], [w]))
        for gr, wr in zip(sorted(got, key=key), sorted(want, key=key))
        for g, w in zip(gr, wr))


class Analytics:
    name = "analytics"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.setups = 0
        from iceberg_core_spark.registry import all_queries

        reg = all_queries()
        self.queries = {q: reg[q] for q in RELATIONAL + LLM}
        self.family = {q: ("operators" if q in RELATIONAL else "functions")
                       for q in self.queries}

    def setup(self) -> None:
        """Generate the seeded star schema + corpus and write it as a
        multi-file parquet layout."""
        self.setups += 1
        self.dir = self.ctx.path(f"analytics{self.setups}")
        os.makedirs(self.dir)
        self.tables = gen.analytics_tables(self.ctx.seed, ANALYTICS_ORDERS)
        gen.write_tables(self.tables, self.dir, files_per_table=4)

    def _verify(self) -> dict[str, str]:
        """Once per run, untimed: every query's rows against the
        registry's oracle SQL in DuckDB. Doubles as the warm-up pass."""
        import duckdb

        con = duckdb.connect()
        for name, table in self.tables.items():
            con.register(name, table)
        digests = {}
        for q, (fn, sql) in self.queries.items():
            self.ctx.attempted += 1
            try:
                df = fn(self.ctx.spark, self.dir)
                cols = df.columns
                got = [tuple(_norm(r[c]) for c in cols) for r in df.collect()]
                rel = con.sql(sql)
                dcols = [d[0] for d in rel.description]
                idx = [dcols.index(c) for c in cols]
                want = [tuple(_norm(r[i]) for i in idx)
                        for r in rel.fetchall()]
            except Exception:
                traceback.print_exc()
                self.ctx.fail(f"analytics {q} raised during verification")
                continue
            if not rows_match(got, want):
                self.ctx.fail(f"analytics {q}: {len(got)} rows differ from "
                              f"the oracle's {len(want)}")
            digests[q] = hashlib.sha256(
                repr(sorted(map(repr, got))).encode()).hexdigest()[:16]
        con.close()
        return digests

    def _pass(self, order, build, execute) -> bool:
        for q in order:
            self._query(q, build, execute)
        return True

    def _query(self, q, build, execute) -> None:
        tr = self.ctx.tracer
        fn = self.queries[q][0]
        prefix = f"{self.family[q]}.{q}"
        t0 = time.perf_counter()
        if tr:
            with tr.span(f"{prefix}.build"):
                df = fn(self.ctx.spark, self.dir)
        else:
            df = fn(self.ctx.spark, self.dir)
        t1 = time.perf_counter()
        writer = df.write.format("noop").mode("overwrite")
        if tr:
            with tr.span(f"{prefix}.exec"):
                writer.save()
        else:
            writer.save()
        t2 = time.perf_counter()
        build[q].append(t1 - t0)
        execute[q].append(t2 - t1)

    def run(self) -> dict:
        ctx = self.ctx
        t0 = time.perf_counter()
        digests = self._verify()
        verify_s = time.perf_counter() - t0
        rng = np.random.default_rng(ctx.seed)
        build = {q: [] for q in self.queries}
        execute = {q: [] for q in self.queries}
        # whole passes only, so every query has as many samples as the
        # others; their number is fixed by --seconds alone, never by where
        # the clock ran out, so every run samples each query at the same
        # warmth
        for _ in range(max(1, int(ctx.seconds // ANALYTICS_S_PER_PASS))):
            order = [str(q) for q in rng.permutation(list(self.queries))]
            ctx.op(lambda: self._pass(order, build, execute), "analytics")
        per_q = {q: median([b + e for b, e in zip(build[q], execute[q])])
                 for q in self.queries}
        rel = sum(per_q[q] for q in RELATIONAL)
        llm = sum(per_q[q] for q in LLM)
        n = len(ctx.latencies)
        named = {
            "mix_s": (median(ctx.latencies), "s", n),
            "relational_s": (rel, "s", n),
            "llm_s": (llm, "s", n),
        }
        layer = {}
        for q in self.queries:
            layer[f"{self.family[q]}.{q}.build_s"] = median(build[q])
            layer[f"{self.family[q]}.{q}.exec_s"] = median(execute[q])
        return {"named": named, "layer": layer, "digests": digests,
                "per_query_s": per_q, "verify_s": verify_s}


WORKLOADS = {w.name: w for w in (Ingest, RangeQuery, Analytics)}
