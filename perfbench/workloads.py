"""The benchmark's workloads.

Both are closed loops with one client: the next op starts when the
previous one returns.  A workload object owns its inputs (generated
from the seed under its work directory), its untimed set-up, one timed
op, the untimed output checks, and the per-layer view of a traced run.
"""

from __future__ import annotations

import datetime as dt
import glob
import importlib.util
import os
import statistics
import time

import duckdb

from gen import COLUMNS, PK, Generator
from replay import Replay, ORDER
from tracing import data_files

# The registry queries one op runs, in this order: twelve of the 25
# headline queries of the repository's bench.py (its HEADLINE list when
# this benchmark was defined), one or more of each family -- TPC-H joins
# and aggregates, an outer join, a window, dedup, FK validation, events,
# documents, near-duplicate LSH and embeddings.  All 25 take ~14 s a pass,
# which leaves room for one timed pass a run; these twelve take 6-7 s.
REGISTRY = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q18_large_volume_customers", "join_left_outer_order_counts",
    "window_rank_orders", "dedup_latest_order_per_customer",
    "validate_lineitem_fk_invalid", "events_sessionization", "docs_token_stats",
    "minhash_lsh_near_dups", "emb_knn_bruteforce",
]

# The reference's post-job SQL (Athena probes plus the reports a user
# runs after a load), over views of the curated and rejected zones.
POST_JOB_SQL = {
    "probe_products": "SELECT * FROM clean_products LIMIT 5",
    "probe_orders": "SELECT * FROM clean_orders LIMIT 5",
    "probe_order_items": "SELECT * FROM clean_order_items LIMIT 5",
    "daily_totals": (
        "SELECT date, COUNT(*) AS orders, "
        "CAST(SUM(CAST(total_amount AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS revenue "
        "FROM clean_orders GROUP BY date"
    ),
    "department_items": (
        "SELECT p.department, COUNT(*) AS items, COUNT(DISTINCT i.order_id) AS orders "
        "FROM clean_order_items i JOIN clean_products p ON i.product_id = p.product_id "
        "GROUP BY p.department"
    ),
}
REJECTED_SQL = (
    "SELECT validation_errors FROM rejected_orders "
    "UNION ALL SELECT validation_errors FROM rejected_order_items"
)
REJECTION_TOP_K = 10


def norm(v) -> str:
    """Exact, engine-neutral text form of one result cell."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    return str(v)


def row_set(columns: list[str], rows) -> list[str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(norm(r[i]) for i in order) for r in rows)


def _load_tool(root: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Workload:
    """Shared plumbing: the Spark session, the tracer and the phases."""

    def __init__(self, spark, seed: int, work: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.failures: list[str] = []
        self.failed_ops: set = set()  # op indices; None marks a set-up batch

    def fail(self, op: int | None, msg: str) -> None:
        self.failures.append(msg)
        self.failed_ops.add(op)

    def phase(self, name: str, fn):
        if self.tracer is None:
            return fn()
        with self.tracer.span(name):
            return fn()


class DailyIngest(Workload):
    """The reference's production traffic: one day of raw CSVs per op,
    ingested, archived and queried."""

    HISTORY_DAYS = 62
    HISTORY_ORDERS_PER_DAY = 150
    ORDERS_PER_DAY = 1500
    WARMUP_DAYS = 1
    CORRECTION_DAYS = 4  # earlier partitions touched by each day's late rows
    CORRECTIONS_PER_DAY = 10  # orders re-sent per touched day (x5.4 items)
    CORRECTION_WINDOW = 30

    def __init__(self, spark, seed, work, tracer=None):
        super().__init__(spark, seed, work, tracer)
        from lakehouse_architecture_spark.schemas import SCHEMAS

        self.schemas = SCHEMAS
        self.gen = Generator(seed, os.path.join(work, "raw"))
        self.curated = os.path.join(work, "curated")
        self.rejected = os.path.join(work, "rejected")
        self.archive = os.path.join(work, "archive")
        self.batches: list[tuple] = []  # (batch, spark stats, op index or None)
        self.day = 0

    # -- inputs -----------------------------------------------------------
    def _next_day(self):
        rng = self.gen.rng
        lo = max(0, self.day - self.CORRECTION_WINDOW)
        corr = sorted(int(d) for d in rng.choice(range(lo, self.day), self.CORRECTION_DAYS, replace=False))
        b = self.gen.batch([self.day], self.ORDERS_PER_DAY, corr, self.CORRECTIONS_PER_DAY)
        self.day += 1
        return b

    # -- one cycle ---------------------------------------------------------
    def _cycle(self, batch, op: int | None) -> dict:
        from lakehouse_architecture_spark.plans import archive, pipeline

        input_mb = sum(os.path.getsize(f) for p in batch.raw_paths.values() for f in glob.glob(p)) / 2**20
        t0 = time.perf_counter()
        res = pipeline.run_pipeline(self.spark, batch.raw_paths, self.curated, self.rejected)
        t1 = time.perf_counter()
        moved = failed = 0
        for t in COLUMNS:
            r = archive.archive_files(
                os.path.join(batch.raw_dir, t), os.path.join(self.archive, batch.name, t)
            )
            moved, failed = moved + len(r.moved), failed + len(r.failed)
        t2 = time.perf_counter()
        sql = self._post_job_sql()
        t3 = time.perf_counter()
        stats = {t: dict(r.stats) for t, r in res.items()}
        self.batches.append((batch, stats, op))
        if failed:
            self.fail(op, f"{batch.name}: archive failed for {failed} files")
        return {
            "s": t3 - t0, "pipeline_s": t1 - t0, "archive_s": t2 - t1, "sql_s": t3 - t2,
            "rows": batch.raw_rows, "input_mb": input_mb, "sql": sql,
            "moved": moved, "archive_failed": failed,
            "rejected_rows": sum(s["rejected_rows"] for s in stats.values()),
        }

    def _post_job_sql(self) -> dict:
        from lakehouse_architecture_spark import catalog
        from lakehouse_architecture_spark.operators.validation import rejection_summary

        spark = self.spark
        for t in COLUMNS:
            spark.read.parquet(os.path.join(self.curated, t)).createOrReplaceTempView(f"clean_{t}")
        for t in ("orders", "order_items"):
            spark.read.parquet(os.path.join(self.rejected, t)).createOrReplaceTempView(f"rejected_{t}")
        out = {}
        builds = {name: (lambda q=q: catalog.sql(spark, q)) for name, q in POST_JOB_SQL.items()}
        builds["rejections"] = lambda: rejection_summary(
            catalog.sql(spark, REJECTED_SQL), top_k=REJECTION_TOP_K
        )
        for name, build in builds.items():
            df = self.phase("catalog.build", build)
            if self.tracer is not None:
                self.phase("catalog.plan", lambda: df._jdf.queryExecution().executedPlan())
            rows = self.phase("catalog.exec", df.collect)
            out[name] = (df.columns, [tuple(r) for r in rows])
        return out

    # -- phases -----------------------------------------------------------
    def setup(self) -> None:
        hist = self.gen.batch(list(range(self.HISTORY_DAYS)), self.HISTORY_ORDERS_PER_DAY)
        self.day = self.HISTORY_DAYS
        self.setup_ops = [self._cycle(hist, None)]
        for _ in range(self.WARMUP_DAYS):
            self.setup_ops.append(self._cycle(self._next_day(), None))

    def op(self, i: int) -> dict:
        batch = self._next_day()
        if self.tracer is not None:
            self.tracer.op = i
        try:
            return self._cycle(batch, i)
        finally:
            if self.tracer is not None:
                self.tracer.op = None

    def end_metrics(self, ops: list[dict]) -> dict:
        """Metrics read when the window closes, before any check runs."""
        rows_cur = sum(self.batches[-1][1][t]["clean_rows"] for t in COLUMNS)
        rows_rej = sum(s[t]["rejected_rows"] for _, s, _ in self.batches for t in COLUMNS)
        size = sum(os.path.getsize(f) for f in data_files(self.curated) + data_files(self.rejected))
        return {
            "sql_p50_s": statistics.median(o["sql_s"] for o in ops),
            "rows_per_s": sum(o["rows"] for o in ops) / sum(o["pipeline_s"] for o in ops),
            "bytes_per_row": size / (rows_cur + rows_rej),
        }

    # -- checks (untimed) ---------------------------------------------------
    def _archived(self, batch) -> dict[str, str]:
        return {t: os.path.join(self.archive, batch.name, t, "*.csv") for t in COLUMNS}

    def check(self, ops: list[dict]) -> None:
        replay = Replay(self.schemas)
        try:
            self._check_batches(replay)
            last = len(ops) - 1
            for t in COLUMNS:
                diff = replay.curated_diff(t, os.path.join(self.curated, t))
                if diff:
                    self.fail(last, f"curated {t}: {diff} rows differ from the replay")
            self._check_rejected(replay, last)
            self._check_sql(replay, ops[-1]["sql"], last)
            self._check_rerun(last)
        finally:
            replay.close()

    def _check_batches(self, replay: Replay) -> None:
        for batch, stats, op in self.batches:
            acc = replay.batch(self._archived(batch))
            for t in ORDER:
                a, g = acc[t], batch.account[t]
                expect = {
                    "raw": g.raw, "corrupt": g.corrupt, "rejected": g.rejected,
                    "dropped": g.dropped, "clean": g.clean, "new_keys": g.new_keys,
                }
                got = {k: a[k] for k in expect}
                if got != expect:
                    self.fail(op, f"{batch.name} {t}: replay {got} != generator {expect}")
                if a["raw"] != a["corrupt"] + sum(a["rejected"].values()) + a["clean"] + a["dropped"]:
                    self.fail(op, f"{batch.name} {t}: accounting does not reconcile")
                if stats[t]["rejected_rows"] != sum(a["rejected"].values()):
                    self.fail(op, f"{batch.name} {t}: spark rejected {stats[t]['rejected_rows']}")
                if stats[t]["clean_rows"] != a["curated"]:
                    self.fail(op, f"{batch.name} {t}: spark curated {stats[t]['clean_rows']} != {a['curated']}")

    def _check_rejected(self, replay: Replay, op: int) -> None:
        got = {}
        for t in ("orders", "order_items"):
            replay.zone_view(f"rej_{t}", os.path.join(self.rejected, t))
            for src, err, n in replay.con.execute(
                f"SELECT source, validation_errors, count(*) FROM rej_{t} GROUP BY ALL"
            ).fetchall():
                got[(src, err)] = n
        if got != replay.rejected:
            self.fail(op, f"rejected zone {got} != replay {replay.rejected}")

    def _check_sql(self, replay: Replay, results: dict, op: int) -> None:
        con = replay.con
        for t in COLUMNS:
            replay.zone_view(f"clean_{t}", os.path.join(self.curated, t))
        for t in ("orders", "order_items"):
            replay.zone_view(f"rejected_{t}", os.path.join(self.rejected, t))
        for name, (cols, rows) in results.items():
            if name.startswith("probe_"):
                t = name[len("probe_"):]
                keys = [r[cols.index(PK[t])] for r in rows]
                cur = con.execute(
                    f"SELECT * FROM clean_{t} WHERE {PK[t]} IN ({', '.join(map(str, keys)) or 'NULL'})"
                )
                want = row_set([d[0] for d in cur.description], cur.fetchall())
                ok = len(rows) == 5 and row_set(cols, rows) == want
            else:
                q = POST_JOB_SQL.get(name) or (
                    f"SELECT validation_errors, count(*) AS count FROM ({REJECTED_SQL}) "
                    f"GROUP BY 1 ORDER BY count DESC, validation_errors LIMIT {REJECTION_TOP_K}"
                )
                cur = con.execute(q)
                want_cols = [d[0] for d in cur.description]
                ok = sorted(want_cols) == sorted(cols) and row_set(cols, rows) == row_set(
                    want_cols, cur.fetchall()
                )
            if not ok:
                self.fail(op, f"post-job SQL {name} differs from DuckDB")

    def _check_rerun(self, op: int) -> None:
        from lakehouse_architecture_spark.plans import pipeline

        batch, stats, _ = self.batches[-1]
        res = pipeline.run_pipeline(self.spark, self._archived(batch), self.curated, self.rejected)
        for t in COLUMNS:
            if res[t].stats["clean_rows"] != stats[t]["clean_rows"]:
                self.fail(op, f"re-run of {batch.name} changed {t} to {res[t].stats['clean_rows']} rows")

    # -- traced view ----------------------------------------------------------
    def layer_metrics(self, tracer, ops: list[dict]) -> dict:
        kids = tracer.subtree()
        per_op: list[dict] = []
        acc = {op: b.account for b, _, op in self.batches if op is not None}
        for i, o in enumerate(ops):
            spans = [s for s in tracer.spans if s["op"] == i]
            m: dict[str, float] = {}

            def add(key, v):
                m[key] = m.get(key, 0) + v

            for s in spans:
                tot = tracer.totals(s, kids)
                name = s["name"]
                if name == "plans.pipeline":
                    for k in ("jobs", "stages", "tasks", "listing_jobs", "self_s", "self_jobs"):
                        add(f"plans.pipeline.{k}", tot[k])
                    add("plans.pipeline.run_s", tot["s"])
                elif name in ("sources.readers", "operators.validation", "operators.dedup"):
                    add(f"{name}.build_s", tot["s"])
                elif name == "sinks.writers.merge":
                    add("sinks.writers.merge_s", tot["s"])
                    for k in ("jobs", "stages", "tasks", "task_s"):
                        add(f"sinks.writers.merge_{k}", tot[k])
                    add("sinks.writers.shuffle_write_mb", tot["shuffle_mb"])
                    add("sinks.writers.spill_mb", tot["spill_mb"])
                    for k in ("partitions_rewritten", "files_written"):
                        add(f"sinks.writers.{k}", s[k])
                    add("sinks.writers.bytes_written_mb", s["bytes_written"] / 2**20)
                    add("_rows_written", s["rows_written"])
                elif name == "sinks.writers.append":
                    add("sinks.writers.append_s", tot["s"])
                    add("sinks.writers.append_jobs", tot["jobs"])
                elif name == "plans.archive":
                    add("plans.archive.s", tot["s"])
                elif name.startswith("catalog."):
                    add(f"{name}_s", tot["s"])
                    add("catalog.jobs", tot["jobs"])
            a = acc[i]
            m["sources.readers.input_rows"] = o["rows"]
            m["sources.readers.input_mb"] = o["input_mb"]
            m["sources.readers.corrupt_rows"] = sum(x.corrupt for x in a.values())
            m["operators.validation.rejected_rows"] = o["rejected_rows"]
            m["operators.dedup.dropped_rows"] = sum(x.dropped for x in a.values())
            m["plans.archive.files_moved"] = o["moved"]
            m["plans.archive.failed"] = o["archive_failed"]
            m["sinks.writers.rewrite_amp"] = m.pop("_rows_written", 0) / max(1, sum(x.clean for x in a.values()))
            per_op.append(m)
        keys = sorted({k for m in per_op for k in m})
        return {k: statistics.median(m.get(k, 0) for m in per_op) for k in keys}


class RegistryQueries(Workload):
    """The engine's query surface: one op is one pass over the registry
    queries (``REGISTRY``) on a seeded synthetic corpus, each rebuilt and
    its rows collected.

    The op is the whole set, not one query: the query latencies form
    two clusters (~0.2-0.35 s and ~0.45-0.65 s) with the median between
    them, so a per-query median jumps by a third when one query moves,
    while the set's time is a sum and stays put.  ``sql_p50_s`` is the
    pass without its plan builds: the collects only."""

    SCALE = 0.001

    def __init__(self, spark, seed, work, tracer=None):
        super().__init__(spark, seed, work, tracer)
        self.root = os.getcwd()
        self.corpus = os.path.join(work, "corpus")

    def setup(self) -> None:
        _load_tool(self.root, "gen_testdata").generate(self.SCALE, self.corpus, self.seed)
        # The warm-up pass runs the timed code path; its rows are checked too.
        self.setup_ops = [self._pass()]

    def _query(self, name: str) -> tuple[list[str], list, float]:
        """Build one query and collect its rows; returns the columns, the
        rows and the collect's wall."""
        from lakehouse_architecture_spark.queries import QUERIES

        tr = self.tracer
        if tr is None:
            df = QUERIES[name](self.spark, self.corpus)
            t = time.perf_counter()
            rows = df.collect()
            return df.columns, rows, time.perf_counter() - t
        with tr.span("queries") as rec:
            rec["query"] = name
            df = self.phase("queries.build", lambda: QUERIES[name](self.spark, self.corpus))
            self.phase("queries.plan", lambda: df._jdf.queryExecution().executedPlan())
            t = time.perf_counter()
            rows = self.phase("queries.exec", df.collect)
            return df.columns, rows, time.perf_counter() - t

    def _pass(self) -> dict:
        t0 = time.perf_counter()
        per, rows = {}, {}
        exec_s = 0.0
        for name in REGISTRY:
            t = time.perf_counter()
            cols, rs, e = self._query(name)
            per[name] = time.perf_counter() - t
            exec_s += e
            rows[name] = (cols, rs)
        return {"s": time.perf_counter() - t0, "exec_s": exec_s, "queries": per, "rows": rows}

    def op(self, i: int) -> dict:
        if self.tracer is not None:
            self.tracer.op = i
        try:
            return self._pass()
        finally:
            if self.tracer is not None:
                self.tracer.op = None

    def end_metrics(self, ops: list[dict]) -> dict:
        from tracing import tail_percentile

        lat = [s for o in ops for s in o["queries"].values()]
        tail = tail_percentile(lat)
        return {
            # the pass without its plan builds: the queries' execution only
            "sql_p50_s": statistics.median(o["exec_s"] for o in ops),
            "query_p50_s": statistics.median(lat),
            "query_tail_s": tail[1] if tail else None,
            "query_tail_pct": tail[0] if tail else None,
            "queries_run": len(lat),
        }

    def check(self, ops: list[dict]) -> None:
        from lakehouse_architecture_spark.queries import ORACLES
        from lakehouse_architecture_spark.sources.tables import TESTDATA_TABLES

        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            for t in TESTDATA_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.corpus}/{t}.parquet')"
                )
            passes = [(None, self.setup_ops[0])] + list(enumerate(ops))
            for name in REGISTRY:
                cur = con.execute(ORACLES[name])
                want_cols = [d[0] for d in cur.description]
                want = row_set(want_cols, cur.fetchall())
                for i, o in passes:
                    cols, rows = o["rows"][name]
                    if sorted(want_cols) != sorted(cols) or row_set(cols, rows) != want:
                        self.fail(i, f"{name}: rows differ from its DuckDB oracle")
        finally:
            con.close()

    def layer_metrics(self, tracer, ops: list[dict]) -> dict:
        kids = tracer.subtree()
        by_name: dict[str, list[dict]] = {}
        for s in tracer.spans:
            if s["name"] != "queries" or s["op"] is None:
                continue
            tot = tracer.totals(s, kids)
            phases = {c["name"]: tracer.totals(c, kids) for c in kids.get(s["id"], [])}
            build = next(c for c in kids[s["id"]] if c["name"] == "queries.build")
            loads = [tracer.totals(c, kids) for c in kids.get(build["id"], [])
                     if c["name"] == "sources.tables"]
            by_name.setdefault(s["query"], []).append({
                "s": tot["s"], "jobs": tot["jobs"], "stages": tot["stages"],
                "tasks": tot["tasks"], "task_s": tot["task_s"],
                "shuffle_mb": tot["shuffle_mb"], "spill_mb": tot["spill_mb"],
                "build_s": phases["queries.build"]["s"],
                "eager_jobs": phases["queries.build"]["jobs"],
                "plan_s": phases["queries.plan"]["s"],
                "exec_s": phases["queries.exec"]["s"],
                "load_s": sum(x["s"] for x in loads),
                "load_jobs": sum(x["jobs"] for x in loads),
            })
        med = {n: {k: statistics.median(r[k] for r in rs) for k in rs[0]} for n, rs in by_name.items()}
        out = {}
        for n in REGISTRY:
            out[f"queries.{n}.s"] = med[n]["s"]
            out[f"queries.{n}.jobs"] = med[n]["jobs"]
        for k in ("build_s", "eager_jobs", "plan_s", "exec_s", "jobs", "stages", "tasks",
                  "task_s", "shuffle_mb", "spill_mb"):
            out[f"queries.{k}"] = sum(m[k] for m in med.values())
        out["sources.tables.load_s"] = sum(m["load_s"] for m in med.values())
        out["sources.tables.load_jobs"] = sum(m["load_jobs"] for m in med.values())
        return out


WORKLOADS = {"daily_ingest": DailyIngest, "registry_queries": RegistryQueries}


def install_tracing(tracer, workload) -> None:
    """Rebind the program functions each layer exposes to spanned wrappers."""
    import pyarrow.parquet as pq

    import lakehouse_architecture_spark.queries  # noqa: F401  (binds every load_table importer)
    from lakehouse_architecture_spark.operators import caching
    from lakehouse_architecture_spark.plans import archive, pipeline
    from lakehouse_architecture_spark.sources import tables

    def merge_wrap(fn):
        def inner(*a, **kw):
            path = a[2] if len(a) > 2 else kw["path"]

            def snap():
                if not os.path.isdir(path):
                    return {}
                return {e.name: e.inode() for e in os.scandir(path) if e.is_dir() and "=" in e.name}

            before = snap()
            with tracer.span("sinks.writers.merge") as rec:
                out = fn(*a, **kw)
            changed = [e for e, ino in snap().items() if before.get(e) != ino]
            files = [f for e in changed for f in data_files(os.path.join(path, e))]
            rec["partitions_rewritten"] = len(changed)
            rec["files_written"] = len(files)
            rec["bytes_written"] = sum(os.path.getsize(f) for f in files)
            rec["rows_written"] = sum(pq.read_metadata(f).num_rows for f in files)
            return out

        return inner

    def slot_wrap(fn):
        def inner(df, slot="default", key=None):
            tracer.slots.add(slot)
            with tracer.span("operators.caching"):
                return fn(df, slot=slot, key=key)

        return inner

    if isinstance(workload, DailyIngest):
        tracer.patch(pipeline, "run_pipeline", tracer.spanned("plans.pipeline"))
        tracer.patch(pipeline, "read_csv_typed", tracer.spanned("sources.readers"))
        tracer.patch(pipeline, "split_corrupt", tracer.spanned("sources.readers"))
        tracer.patch(pipeline, "validate", tracer.spanned("operators.validation"))
        tracer.patch(pipeline, "dedupe_by_key", tracer.spanned("operators.dedup"))
        tracer.patch(pipeline, "merge_upsert", merge_wrap)
        tracer.patch(pipeline, "append_rejected", tracer.spanned("sinks.writers.append"))
        tracer.patch(archive, "archive_files", tracer.spanned("plans.archive"))
    tracer.patch_everywhere(caching, "one_slot_persist", slot_wrap)
    tracer.patch_everywhere(tables, "load_table", tracer.spanned("sources.tables"))
