"""The benchmark's three workloads, one pass at a time.

A pass runs every query of its workload once, in a closed loop: the
next query starts only after the previous one has finished. Each
``run_pass`` returns one ``Op`` per query execution plus the seconds
spent checking outputs, which the caller keeps out of the pass time.

* ``headline22`` / ``iterative7`` call the registered query callables
  (``datafusion_archive_spark.queries.QUERIES``) on the tables in
  ``data/`` and execute the result through the ``noop`` sink. The seed
  only permutes the query order of each pass; the tables are fixed.
* ``sql_csv_etl`` drives ``ExecutionContext`` only: ``CREATE EXTERNAL
  TABLE … STORED AS CSV`` over seeded CSV files, reference-surface
  SELECTs, ``ctx.write`` to parquet and a read-back count.

With a real ``Tracer`` each query execution is wrapped in layer spans
(see ``spans.py``); with ``NULL_TRACER`` the same calls run bare.
"""

from __future__ import annotations

import hashlib
import random
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from checks import fingerprint, frames_match

HEADLINE22 = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q10_returned_items", "q18_large_volume",
    "agg_global", "agg_rollup", "window_topk_per_group", "window_running",
    "sort_limit_topk", "join_full_outer", "events_time_bucket",
    "events_sessionize", "events_asof_join", "text_stats", "dedup_exact",
    "dedup_minhash_lsh", "dedup_simhash_pairs", "ann_bruteforce", "ann_lsh",
    "multimodal_decode",
]

ITERATIVE7 = [
    "graph_triangle_count", "graph_pagerank", "markov_attribution_removal",
    "dbscan_clusters", "dedup_incremental", "winnowing_fingerprints",
    "kmeans_lloyd",
]

REGISTRY_WORKLOADS = {"headline22": HEADLINE22, "iterative7": ITERATIVE7}


@dataclass
class Op:
    """One query execution: its wall time (None when it raised) and
    whether it succeeded, including the output check when one ran."""

    query_id: str
    wall_s: float | None
    ok: bool = True
    error: str = ""


class NullTracer:
    """Stands in for ``spans.Tracer`` in untraced passes."""

    enabled = False

    @contextmanager
    def span(self, name, query_id, spark_jobs=False, **attrs):
        yield {}

    def finish_query(self) -> None:
        pass


NULL_TRACER = NullTracer()


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _explain_plan(df) -> None:
    df._jdf.queryExecution().executedPlan()


class RegistryWorkload:
    """``headline22`` or ``iterative7`` over one directory of tables."""

    def __init__(self, spark, name: str, data_dir: Path, expected: dict, seed: int):
        from datafusion_archive_spark.queries import QUERIES

        self.spark = spark
        self.queries = QUERIES
        self.names = REGISTRY_WORKLOADS[name]
        self.data_dir = str(data_dir)
        self.expected = expected
        self.rng = random.Random(f"{name}:{seed}")
        self.order: list[str] = []

    def describe(self) -> dict:
        return {"data": self.data_dir, "queries": len(self.names)}

    def run_pass(self, tracer, timed: bool, check: bool) -> tuple[list[Op], float]:
        """Each query is built, then executed through the ``noop`` sink
        (timed unless this is a warm-up pass). A checking pass collects
        the same DataFrame and compares its fingerprint; an untimed
        checking pass executes by that collect alone."""
        from datafusion_archive_spark.plans.inspect import summarize

        self.order = self.rng.sample(self.names, len(self.names))
        ops, check_s = [], 0.0
        for name in self.order:
            op = Op(name, None)
            try:
                t0 = time.perf_counter()
                with tracer.span("query", name) as q:
                    with tracer.span("queries.build", name, spark_jobs=True):
                        df = self.queries[name](self.spark, self.data_dir)
                    if tracer.enabled:
                        with tracer.span("plans.plan", name, spark_jobs=True):
                            _explain_plan(df)
                    if timed or not check:
                        with tracer.span("spark.run", name, spark_jobs=True):
                            noop(df)
                op.wall_s = time.perf_counter() - t0
                if tracer.enabled:
                    q["hash_exchanges"] = summarize(df).n_hash_exchanges
                    q["persisted_rdds"] = persisted_rdds(self.spark)
                    tracer.finish_query()
                if check:
                    t1 = time.perf_counter()
                    got = fingerprint(df.toPandas())
                    check_s += time.perf_counter() - t1
                    if got != self.expected[name]:
                        op.ok, op.error = False, f"fingerprint {got} != expected {self.expected[name]}"
            except Exception as e:  # a failing query is counted, not fatal
                op.ok, op.error = False, f"{type(e).__name__}: {str(e)[:300]}"
            ops.append(op)
        return ops, check_s


# -- sql_csv_etl --------------------------------------------------------------

ETL_COLUMNS = (
    ("key", "VARCHAR"), ("city", "VARCHAR"), ("lat", "DOUBLE"),
    ("lng", "DOUBLE"), ("qty", "INT"), ("amount", "DOUBLE"),
)

#: reference-surface SELECTs: projection, WHERE, GROUP BY with MIN/MAX/SUM/COUNT
ETL_SELECTS = {
    "project_filter": "SELECT key, city, lat * 2.0 AS lat2, qty FROM etl WHERE lat > 55.0",
    "group_key": (
        "SELECT key, MIN(lat) AS min_lat, MAX(lng) AS max_lng, "
        "SUM(qty) AS sum_qty, COUNT(1) AS n FROM etl GROUP BY key"
    ),
    "group_city": (
        "SELECT city, COUNT(1) AS n, SUM(amount) AS sum_amount, "
        "MIN(qty) AS min_qty FROM etl WHERE qty > 10 GROUP BY city"
    ),
    "global": (
        "SELECT MIN(amount) AS min_amount, MAX(amount) AS max_amount, "
        "SUM(qty) AS sum_qty, COUNT(1) AS n FROM etl"
    ),
}

ETL_FILES = 4


def generate_etl_csv(out_dir: Path, seed: int, rows: int) -> int:
    """Seeded CSV files shaped like the reference fixtures: a string
    key, doubles, ints, and quoted strings containing commas (as in
    ``uk_cities.csv``). Returns the bytes written."""
    rng = np.random.default_rng(seed)
    keys = np.array([f"k{i:04d}" for i in range(1000)])
    towns = [f"Town{i:03d}" for i in range(100)]
    cities = np.array([f"{t}, {r}, the UK" for t in towns for r in ("England", "Scotland")])
    out_dir.mkdir(parents=True, exist_ok=True)
    total = 0
    for f, n in enumerate(np.array_split(np.arange(rows), ETL_FILES)):
        m = len(n)
        table = pa.table({
            "key": keys[rng.zipf(1.3, m) % len(keys)],
            "city": cities[rng.integers(0, len(cities), m)],
            "lat": np.round(rng.uniform(50.0, 58.0, m), 4),
            "lng": np.round(rng.uniform(-7.5, 0.5, m), 4),
            "qty": rng.integers(1, 51, m).astype(np.int32),
            "amount": np.round(rng.lognormal(3.0, 1.0, m), 2),
        })
        path = out_dir / f"part-{f}.csv"
        pacsv.write_csv(table, path)
        total += path.stat().st_size
    return total


def etl_expected(csv_dir: Path) -> dict:
    """DuckDB's answers for every ETL SELECT over the same CSV files."""
    import duckdb

    cols = ", ".join(f"'{n}': '{t}'" for n, t in ETL_COLUMNS)
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW etl AS SELECT * FROM read_csv('{csv_dir}/*.csv', "
            f"header = true, quote = '\"', escape = '\"', columns = {{{cols}}})"
        )
        return {q: con.execute(sql).fetchdf() for q, sql in ETL_SELECTS.items()}
    finally:
        con.close()


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.glob("*.parquet"))


class EtlWorkload:
    """``sql_csv_etl``: DDL → SELECTs → parquet write → read-back."""

    def __init__(self, spark, work_dir: Path, seed: int, rows: int):
        from datafusion_archive_spark import ExecutionContext

        self.spark = spark
        self.ctx = ExecutionContext(spark)
        self.csv_dir = work_dir / "etl_csv"
        self.out_dir = work_dir / "etl_out"
        self.rows = rows
        self.input_bytes = generate_etl_csv(self.csv_dir, seed, rows)
        digest = hashlib.sha256()
        for f in sorted(self.csv_dir.glob("*.csv")):
            digest.update(f.read_bytes())
        self.input_sha256 = digest.hexdigest()
        self.expected = etl_expected(self.csv_dir)
        cols = ", ".join(f"{n} {t}" for n, t in ETL_COLUMNS)
        self.ddl = (
            f"CREATE EXTERNAL TABLE etl ({cols}) STORED AS CSV "
            f"WITH HEADER ROW LOCATION '{self.csv_dir}'"
        )
        self.order = ["ddl"] + [
            f"{q}{step}" for q in ETL_SELECTS for step in ("", ".write", ".readback")
        ]

    def describe(self) -> dict:
        return {
            "rows": self.rows, "csv_files": ETL_FILES,
            "csv_bytes": self.input_bytes, "csv_sha256": self.input_sha256,
        }

    def _op(self, tracer, qid: str, fn) -> Op:
        op = Op(qid, None)
        try:
            t0 = time.perf_counter()
            with tracer.span("query", qid) as q:
                fn(q)
            op.wall_s = time.perf_counter() - t0
            if tracer.enabled:
                q["persisted_rdds"] = persisted_rdds(self.spark)
                tracer.finish_query()
        except Exception as e:  # a failing step is counted, not fatal
            op.ok, op.error = False, f"{type(e).__name__}: {str(e)[:300]}"
        return op

    def run_pass(self, tracer, timed: bool, check: bool) -> tuple[list[Op], float]:
        from datafusion_archive_spark import ddl as _ddl
        from datafusion_archive_spark.plans.inspect import summarize

        def create_table(q):
            if tracer.enabled:
                with tracer.span("ddl.parse", "ddl"):
                    _ddl.parse_create_external_table(self.ddl)
            with tracer.span("context.ddl", "ddl", spark_jobs=True):
                self.ctx.sql(self.ddl)

        ops = [self._op(tracer, "ddl", create_table)]
        check_s = 0.0
        for name, sql in ETL_SELECTS.items():
            out = self.out_dir / name
            frame = {}

            def select(q, name=name, sql=sql):
                with tracer.span("context.sql", name, spark_jobs=True):
                    frame["df"] = self.ctx.sql(sql)
                if tracer.enabled:
                    with tracer.span("plans.plan", name, spark_jobs=True):
                        _explain_plan(frame["df"])
                with tracer.span("spark.run", name, spark_jobs=True):
                    noop(frame["df"])
                if tracer.enabled:
                    q["hash_exchanges"] = summarize(frame["df"]).n_hash_exchanges

            def write(q, name=name, out=out):
                with tracer.span("context.write", name, spark_jobs=True):
                    self.ctx.write(frame["df"], str(out))
                if tracer.enabled:
                    q["write_bytes"] = _dir_bytes(out)

            def readback(q, name=name, out=out):
                with tracer.span("context.readback", name, spark_jobs=True):
                    frame["count"] = self.ctx.register_parquet(f"etl_{name}", str(out)).count()

            ops.append(self._op(tracer, name, select))
            ops.append(self._op(tracer, f"{name}.write", write))
            ops.append(self._op(tracer, f"{name}.readback", readback))
            if check and all(o.ok for o in ops[-2:]):
                t1 = time.perf_counter()
                want = self.expected[name]
                got = pq.read_table(out).to_pandas()
                if frame["count"] != len(want) or not frames_match(got, want):
                    ops[-1].ok = False
                    ops[-1].error = f"written {len(got)} rows / read back {frame['count']} do not match DuckDB ({len(want)} rows)"
                check_s += time.perf_counter() - t1
        return ops, check_s
