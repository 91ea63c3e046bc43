"""The ``query_suite`` workload: 12 of the 24 headline queries, fixed by
name.

The 12 cover every module that holds a headline query, the three
slowest leaves (d02, d05, d10) and the short ones. The 12 take 22-29 s
on a fresh 4-core session, on top of the 20-25 s set-up every run pays;
all 24 would not fit the benchmark's time, and the other twelve stay
measured by ``bench.py``.

It exercises ``operators.*``, ``plans.*`` and ``streaming.rounds`` and
no crawl code, so it is the no-change control for crawl changes and
the reverse. The input is the engine's scale-factor 0.01 test tables,
committed read-only under ``perfbench/data/sf0.01`` (the same bytes
``tools/check_oracle.py`` checks the catalog against), and the queries
run in the fixed order of ``SUITE``, so the benchmark seed is unused
here: a seed-set order moved the session's first-use costs from query
to query (d05 took 3.5 s in the middle of the suite and 7.8 s as its
first query), and the per-query metrics then followed the seed instead
of the code.

Each query is timed from plan construction to its complete Arrow
result on the driver. That one execution is both the timed run and the
input of the DuckDB value check, which runs afterwards, outside the
timed region, through the catalog's ``oracle_sql()`` twins and the
comparison rules of ``tools/check_oracle.py``. m01 has no SQL twin and
gets a row-count check. The oracle's side depends only on the SQL text
and the input bytes, so it is computed once per (SQL, input) key and
kept in ``.perfbench_cache/``; later runs load it.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import statistics
import sys
import time
from contextlib import nullcontext

from . import harness

DATA_DIR = os.path.join(harness.BENCH_DIR, "data", "sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
SUITE = (
    "a02_sum_avg_pricing", "w02_topk_per_group", "o01_global_sort_topk",
    "d02_shingle_jaccard", "d05_dup_components", "d10_incremental_neardup",
    "v01_cosine_topk_bruteforce", "t02_quality_score",
    "m01_records_decode_verify", "w07_session_window_native",
    "j08_asof_join", "st01_tumbling_window",
)
MODULES = (
    "operators.dedup", "operators.similarity", "operators.textquality",
    "operators.multimodal", "plans.relational", "plans.retrieval",
    "plans.temporal", "streaming.rounds",
)
PACKAGE = "common_crawl___autumn_2025_spark."


def query_prefix(name: str) -> str:
    """``d05_dup_components`` -> ``d05`` (per-layer metric key)."""
    return name.split("_", 1)[0]


def module_of(fn) -> str:
    return fn.__module__[len(PACKAGE):]


class QuerySuite:
    name = "query_suite"

    def __init__(self, queries: tuple[str, ...] = SUITE, data_dir: str = DATA_DIR):
        self.data_dir = data_dir
        self.order = list(queries)
        self.expected: dict | None = None

    def prepare(self, spark) -> None:
        """The input is committed; a missing table fails the set-up."""
        for t in TABLES:
            if not os.path.isfile(os.path.join(self.data_dir, f"{t}.parquet")):
                raise FileNotFoundError(f"query_suite input {t}.parquet")

    def _load_expected(self) -> dict:
        from common_crawl___autumn_2025_spark.plans.catalog import ORACLE_SQL

        sql = {n: ORACLE_SQL[n] for n in self.order if n in ORACLE_SQL}
        h = hashlib.blake2b(repr(sorted(sql.items())).encode(), digest_size=16)
        for t in TABLES:
            with open(os.path.join(self.data_dir, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        path = os.path.join(harness.CACHE_DIR, f"oracle_{h.hexdigest()}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        expected = self._run_oracle(sql)
        os.makedirs(harness.CACHE_DIR, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(expected, f)
        os.replace(tmp, path)
        return expected

    def _run_oracle(self, sql: dict) -> dict:
        """name -> (sorted columns, sorted normalized rows) or an error."""
        import duckdb

        co = _check_oracle()
        out = {}
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data_dir, t)}.parquet'"
                )
            for name, q in sql.items():
                try:
                    rel = con.execute(q)
                    cols = [d[0] for d in rel.description]
                    out[name] = co.df_to_sorted_rows(cols, rel.fetchall())
                except duckdb.Error as e:
                    out[name] = f"duckdb error: {e}"
        finally:
            con.close()
        return out

    def run_pass(self, spark, tracer=None) -> list[dict]:
        from common_crawl___autumn_2025_spark.plans.catalog import QUERIES

        out = []
        for name in self.order:
            fn = QUERIES[name]
            q = {"name": name, "module": module_of(fn), "result": None}
            span = tracer.span(f"query.{query_prefix(name)}") if tracer else nullcontext()
            q["start"] = time.time()
            try:
                with span:
                    q["result"] = fn(spark, self.data_dir).toArrow()
            except Exception as e:  # noqa: BLE001 — counted as a failed query
                q["error"] = f"{type(e).__name__}: {e}"
            q["end"] = time.time()
            out.append(q)
        return out

    @staticmethod
    def pass_wall(p: list[dict]) -> float:
        return sum(q["end"] - q["start"] for q in p)

    @staticmethod
    def attempted(p: list[dict]) -> int:
        return len(p)

    def end_to_end(self, passes: list[list[dict]]) -> dict[str, float]:
        walls = [q["end"] - q["start"] for p in passes for q in p]
        sums = [self.pass_wall(p) for p in passes]
        return {
            "pass_s": statistics.median(sums),
            "op_p50_s": statistics.median(walls),
            "op_geomean_s": statistics.geometric_mean(walls),
            "throughput_per_s": statistics.median(len(self.order) / s for s in sums),
        }

    def describe(self, p: list[dict]) -> dict:
        return {q["name"]: q["end"] - q["start"] for q in p}

    def traced_layers(self, spark, p: list[dict], tracer) -> tuple[dict, list[str]]:
        return {}, []

    def windows(self, p: list[dict]) -> dict:
        return {q["name"]: (q["start"], q["end"]) for q in p}

    def check_pass(self, results: list[dict]) -> list[str]:
        """DuckDB value match for every query with an ``oracle_sql()``
        twin; a non-empty result for the rest."""
        if self.expected is None:
            self.expected = self._load_expected()
        co = _check_oracle()
        failures = []
        for q in results:
            failures.extend(_check_one(co, self.expected, q))
        return failures

    def spark_layers(self, results: list[dict], ev_by_window: dict) -> dict:
        """Per-module walls and each query's wall, jobs and shuffle bytes."""
        out = {f"{m}.wall_s": 0.0 for m in MODULES}
        for q in results:
            wall = q["end"] - q["start"]
            out[f"{q['module']}.wall_s"] += wall
            key = f"query.{query_prefix(q['name'])}"
            ev = ev_by_window[q["name"]]
            out[f"{key}.wall_s"] = wall
            out[f"{key}.jobs"] = ev["jobs"]
            out[f"{key}.shuffle_bytes"] = ev["shuffle_read_bytes"]
        return out


def _naive(col):
    """Arrow hands back zone-aware UTC timestamps; the oracle's are
    naive UTC, as ``collect()`` returns them under a UTC session."""
    import pyarrow as pa

    t = col.type
    if pa.types.is_timestamp(t) and t.tz is not None:
        return col.cast(pa.timestamp(t.unit))
    return col


def _check_oracle():
    """``tools/check_oracle.py``: the repo's row normalization rules."""
    tools = os.path.join(harness.REPO_ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_oracle

    return check_oracle


def _check_one(co, expected: dict, q: dict) -> list[str]:
    name, table = q["name"], q["result"]
    if table is None:
        return [f"{name}: {q['error'][:300]}"]
    if name not in expected:
        return [] if table.num_rows > 0 else [f"{name}: empty result"]
    if isinstance(expected[name], str):
        return [f"{name}: {expected[name][:300]}"]
    cols = table.column_names
    rows = list(zip(*(_naive(table.column(c)).to_pylist() for c in cols)))
    sc, sr = co.df_to_sorted_rows(cols, rows)
    dc, dr = expected[name]
    if sc != dc:
        return [f"{name}: columns {sc} vs {dc}"]
    if len(sr) != len(dr):
        return [f"{name}: {len(sr)} rows vs oracle {len(dr)}"]
    if sr != dr:
        return [f"{name}: values differ from the DuckDB oracle"]
    return []
