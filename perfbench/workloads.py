"""The two workloads: report serving over the MV mart, and data curation.

Each workload has a set-up that leaves the engine warm, a list of request
types (one op = one request through a public entry point, consumed by a
``noop`` write), and a reference fingerprint per request type and input
directory that every op's output must equal.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postgresql_datawarehouse_excercise_spark import catalog, queries
from postgresql_datawarehouse_excercise_spark.etl.sales_fact import ORACLE_SALES_CTE
from postgresql_datawarehouse_excercise_spark.etl.time_dim import ORACLE_TIME_DIM
from postgresql_datawarehouse_excercise_spark.mv import sql_rewrite
from postgresql_datawarehouse_excercise_spark.mv.definitions import (
    default_navigator,
    default_registry,
    with_count_stats,
)
from postgresql_datawarehouse_excercise_spark.mv.navigator import AggQuery

import checks
import datagen

# star scale of the serving mart: 15k orders, 60k order lines
MART_SCALE = 0.01
# star scale under the curation corpora (the curation entries never read it)
CURATION_BASE_SCALE = 0.001
# documents / embeddings per curation corpus
CORPUS_DOCS = 100
CORPUS_VECS = 100
# corpora written in set-up: one for the warm pass, the rest for timed rounds
CORPORA = 4

# SQL texts answered through RewritingSession.sql: (request, view, text).
# The first four are texts of the engine's own SQL-rewrite entries; the
# last rolls up through the customerid -> district and timeid -> dayofweek
# functional-dependency bridges.
SQL_REQUESTS = [
    ("sql_view2_stats", sql_rewrite.STAR_VIEW,
     """SELECT name, year, SUM(amnt) AS total_amnt, COUNT(*) AS n_rows,
       AVG(amnt) AS avg_amnt, MAX(amnt) AS max_amnt
FROM sales_star WHERE year >= 1996 GROUP BY name, year
HAVING COUNT(*) > 1 ORDER BY total_amnt DESC, name, year LIMIT 100"""),
    ("sql_natural_join_time", sql_rewrite.STAR_VIEW,
     """SELECT customerid, SUM(amnt) AS spending
FROM sales NATURAL JOIN time WHERE year = 1997 GROUP BY customerid"""),
    ("sql_count_distinct", sql_rewrite.STAR_VIEW,
     """SELECT year, COUNT(DISTINCT customerid) AS n_customers,
       SUM(amnt) AS total FROM sales_star GROUP BY year ORDER BY year"""),
    ("sql_lines_expr", sql_rewrite.LINES_VIEW,
     """SELECT year, SUM(quantity * price) AS revenue,
       SUM(CASE WHEN dayofweek = 'Saturday' THEN quantity * price ELSE 0 END) AS sat_revenue
FROM sales_lines WHERE year >= 1996 GROUP BY year ORDER BY year"""),
    ("sql_district_dow_rollup", sql_rewrite.STAR_VIEW,
     """SELECT district, dayofweek, SUM(amnt) AS amnt FROM sales_star
GROUP BY district, dayofweek"""),
]

# The star and line-grain star the SQL texts read, stated over the base
# tables for DuckDB on top of the engine's own `time` and `sales` oracles.
DUCK_MART_VIEWS = f"""
CREATE VIEW "time" AS {ORACLE_TIME_DIM};
CREATE VIEW sales AS WITH {ORACLE_SALES_CTE} SELECT * FROM sales;
CREATE VIEW geo AS
  SELECT c_custkey AS customerid, c_name AS name, n_name AS district, r_name AS country
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey;
CREATE VIEW sales_star AS
  SELECT s.customerid, g.name, g.district, g.country, s.timeid, t.orderdate,
         t.dayofweek, t.month, t.year, s.partkey, s.amnt
  FROM sales s JOIN geo g USING (customerid) JOIN "time" t USING (timeid);
CREATE VIEW sales_lines AS
  SELECT o_custkey AS customerid, g.name, g.district, g.country, t.timeid,
         t.orderdate, t.dayofweek, t.month, t.year, l_partkey AS partkey,
         CAST(l_quantity AS DECIMAL(18,2)) AS quantity,
         CAST(p_retailprice AS DECIMAL(18,2)) AS price
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  JOIN "time" t ON CAST(o_orderdate AS DATE) = t.orderdate
  JOIN geo g ON g.customerid = o_custkey;
"""

# Texts whose reference is Spark's own direct execution (the rewriter
# bypassed) instead of DuckDB: Spark's decimal AVG and DuckDB's double AVG
# can round the last fingerprint digit differently.
SPARK_REFERENCE = {"sql_view2_stats"}

REPORT_ENTRIES = [
    "q2_weighted_avg",
    "q4a_best_buyers_raw",
    "q4a_best_buyers_mart",
    "q4b_top_country_raw",
    "q4b_top_country_view3",
    "q5a_window_report",
]

# Incremental refresh in mart_serve's set-up.  The inputs hold back the
# last REFRESH_BATCH_DAYS days of orders (and their lines) as a delta batch
# that arrives after build_all.  A second registry starts from build_all's
# `time` and REFRESH_MVS (hard-linked, so the serving mart's own MVs keep
# their freshness), takes the batch through refresh_incremental on `time`
# and then each of REFRESH_MVS, and re-serves REFRESH_SERVE from the
# refreshed MVs through the navigator.
REFRESH_MVS = ["sales", "view2"]
REFRESH_BATCH_DAYS = 14
REFRESH_FIRST_DAY = datagen.ORDER_LAST + dt.timedelta(days=1 - REFRESH_BATCH_DAYS)
REFRESH_SERVE = AggQuery(frozenset({"country", "year"}), "amnt")
# DuckDB references over base + batch orders: each refreshed MV and the
# re-served report
REFRESH_REFERENCES = {
    "time": 'SELECT * FROM "time"',
    "sales": "SELECT * FROM sales",
    "view2": "SELECT customerid, name, year, SUM(amnt) AS amnt FROM sales_star "
             "GROUP BY customerid, name, year",
    "serve": "SELECT country, year, SUM(amnt) AS amnt FROM sales_star GROUP BY country, year",
}

CURATION_ENTRIES = [
    "x_dedup_exact",
    "x_dedup_minhash_lsh_pairs",
    "x_dedup_prefix_join",
    "x_dedup_edit_join",
    "x_dedup_substring_spans",
    "x_text_quality",
    "x_sim_nndescent",
]


@dataclass
class Request:
    name: str
    kind: str  # "sql" (through the rewriter) or "entry" (a registry fn)
    build: Callable[[str], DataFrame]  # input dir -> DataFrame
    rewritten: Callable[[], bool] | None = None


@dataclass
class RefreshBatch:
    """The delta batch of the refresh stage."""

    delta_rows: int  # orders + order lines in the batch
    call_ms: dict[str, float] = field(default_factory=dict)  # MV -> refresh call
    serve_ms: float = 0.0
    ms: float = 0.0  # the refresh calls and the re-serve
    rows_rewritten: int = 0  # rows of every MV directory the calls replaced
    mb_written: float = 0.0  # bytes of every MV directory the calls replaced
    served_from: str = ""
    fingerprint: tuple | None = None  # of the re-served report


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


class MartServe:
    """Report serving: every MV built once, then SQL texts and Q2-Q5 report
    entries issued round after round in a seeded shuffle."""

    name = "mart_serve"
    scale = MART_SCALE

    def __init__(self, work: str, seed: int, scale: float) -> None:
        self.spark: SparkSession | None = None
        self.work = work
        self.sf_dir = os.path.join(work, "mart")
        self.batch_dir = os.path.join(work, "batch")
        # the same base files under a second path, so the refresh stage's
        # catalog memo (`catalog.load` per directory) is its own
        self.refresh_dir = os.path.join(work, "mart_refresh")
        self.seed = seed
        self.scale = scale
        self.registry = None
        self.refresh_registry = None
        self.batch: RefreshBatch | None = None

    def write_inputs(self) -> None:
        datagen.write_dataset(self.sf_dir, self.seed, self.scale, CORPUS_DOCS, CORPUS_VECS)
        datagen.hold_back_batch(self.sf_dir, self.batch_dir, REFRESH_FIRST_DAY)
        os.makedirs(self.refresh_dir)
        for f in os.listdir(self.sf_dir):
            os.link(os.path.join(self.sf_dir, f), os.path.join(self.refresh_dir, f))

    def load(self) -> None:
        t = catalog.load(self.spark, self.sf_dir)
        for name in catalog.TABLE_NAMES:
            t.table(name)

    def build(self) -> None:
        self.registry = with_count_stats(
            default_registry(os.path.join(os.path.dirname(self.sf_dir), "warehouse"))
        )
        self.registry.build_all(self.spark, self.sf_dir)

    def refresh(self, span) -> None:
        """Start a second registry from build_all's `time` and REFRESH_MVS,
        then refresh `time` and each of REFRESH_MVS with the held-back
        batch and re-serve REFRESH_SERVE from them through the navigator.
        ``span(name)`` wraps each call (the tracer's)."""
        reg = self.refresh_registry = with_count_stats(
            default_registry(os.path.join(self.work, "warehouse_refresh"))
        )
        names = ["time", *REFRESH_MVS]
        for n in names:
            shutil.copytree(self.registry.path(n), reg.path(n), copy_function=os.link)
            reg.stats[n] = self.registry.stats[n]
        batch = catalog.load(self.spark, self.batch_dir)
        delta = catalog.delta_tables(
            self.spark, self.refresh_dir, orders=batch.orders, lineitem=batch.lineitem
        )
        b = RefreshBatch(delta.orders.count() + delta.lineitem.count())
        t_batch = time.perf_counter()
        for name in names:
            before = {n: os.stat(reg.path(n)).st_ino for n in names}
            t = time.perf_counter()
            with span(f"refresh.{name}"):
                reg.refresh_incremental(self.spark, self.refresh_dir, name, delta)
            b.call_ms[name] = (time.perf_counter() - t) * 1000
            for n in names:
                if os.stat(reg.path(n)).st_ino != before[n]:  # swapped in anew
                    b.rows_rewritten += reg.stats[n]
                    b.mb_written += dir_mb(reg.path(n))
        t = time.perf_counter()
        explain: list[str] = []
        with span("refresh.serve"):
            df = default_navigator(reg).answer(
                self.spark, self.refresh_dir, REFRESH_SERVE, explain=explain
            )
            b.fingerprint = (checks.noop_fingerprint(df), sorted(df.columns))
        b.serve_ms = (time.perf_counter() - t) * 1000
        b.ms = (time.perf_counter() - t_batch) * 1000
        b.served_from = explain[0] if explain else ""
        self.batch = b

    def refresh_checks(self) -> dict[str, bool]:
        """Each refreshed MV, and the re-served report, against DuckDB over
        the base and the batch orders together."""
        con = checks.duck_connect(self.sf_dir, catalog.TABLE_NAMES)
        try:
            for t in ("orders", "lineitem"):
                files = [os.path.join(d, f"{t}.parquet") for d in (self.sf_dir, self.batch_dir)]
                con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet({files})")
            con.execute(DUCK_MART_VIEWS)
            want = {k: checks.duck_fingerprint(con, sql) for k, sql in REFRESH_REFERENCES.items()}
        finally:
            con.close()
        got = {"serve": self.batch.fingerprint}
        for n in ["time", *REFRESH_MVS]:
            df = self.refresh_registry.read(self.spark, n)
            got[n] = (checks.noop_fingerprint(df), sorted(df.columns))
        return {k: got[k] == want[k] for k in want}

    def warehouse_mb(self) -> float:
        return dir_mb(self.registry.warehouse)

    def publish(self) -> None:
        """Expose the built mart to SQL text: base and derived views, the
        star and the line-grain star."""
        catalog.register_views(self.spark, self.sf_dir)
        sql_rewrite.register_star_view(self.spark, self.sf_dir)
        sql_rewrite.register_lines_view(self.spark, self.sf_dir)

    def inputs(self, round_no: int) -> str:
        return self.sf_dir

    def requests(self) -> list[Request]:
        nav = default_navigator(self.registry)
        sessions = {
            view: sql_rewrite.RewritingSession(
                self.spark, self.sf_dir, self.registry, nav, view_name=view
            )
            for view in (sql_rewrite.STAR_VIEW, sql_rewrite.LINES_VIEW)
        }
        out = []
        for name, view, text in SQL_REQUESTS:
            sess = sessions[view]
            out.append(Request(
                name, "sql",
                lambda _dir, s=sess, q=text: s.sql(q),
                lambda s=sess: any("rewriting onto MV" in e for e in s.last_explain),
            ))
        registry = queries.load_all()
        for name in REPORT_ENTRIES:
            out.append(Request(name, "entry", lambda d, fn=registry[name].fn: fn(self.spark, d)))
        return out

    def references(self, dirs: set[str]) -> dict[tuple[str, str], tuple]:
        """(request, dir) -> (fingerprint, sorted column names): each SQL
        text executed as written over the base tables, the entry's DuckDB
        oracle for registry entries."""
        out = {}
        con = checks.duck_connect(self.sf_dir, catalog.TABLE_NAMES)
        try:
            con.execute(DUCK_MART_VIEWS)
            for name, _view, text in SQL_REQUESTS:
                if name in SPARK_REFERENCE:
                    df = self.spark.sql(text)
                    out[(name, self.sf_dir)] = (checks.noop_fingerprint(df), sorted(df.columns))
                else:
                    out[(name, self.sf_dir)] = checks.duck_fingerprint(con, text)
            registry = queries.load_all()
            for name in REPORT_ENTRIES:
                out[(name, self.sf_dir)] = checks.duck_fingerprint(con, registry[name].oracle)
        finally:
            con.close()
        return out


class Curation:
    """Data curation: each round runs the curation entries on its own
    freshly written corpus, so no per-session operator memo turns a repeat
    into a cache hit."""

    name = "curation"
    scale = CURATION_BASE_SCALE

    def __init__(self, work: str, seed: int, scale: float) -> None:
        self.spark: SparkSession | None = None
        self.work = work
        self.seed = seed
        self.scale = scale
        self.base = os.path.join(work, "base")
        self.batch: RefreshBatch | None = None

    def corpus_dir(self, index: int) -> str:
        return os.path.join(self.work, f"corpus{index}")

    def write_inputs(self) -> None:
        datagen.write_dataset(self.base, self.seed, self.scale, CORPUS_DOCS, CORPUS_VECS)
        for i in range(CORPORA):
            datagen.write_corpus(
                self.corpus_dir(i), self.base, self.seed, i, CORPUS_DOCS, CORPUS_VECS
            )

    def load(self) -> None:
        t = catalog.load(self.spark, self.corpus_dir(0))
        t.table("documents")
        t.table("embeddings")

    def build(self) -> None:
        pass

    def publish(self) -> None:
        pass

    def refresh(self, span) -> None:
        pass

    def refresh_checks(self) -> dict[str, bool]:
        return {}

    def warehouse_mb(self) -> float:
        return 0.0

    def inputs(self, round_no: int) -> str | None:
        """Round -1 (the warm pass) reads corpus 0, timed round r corpus r+1;
        None once the corpora are used up."""
        idx = round_no + 1
        return self.corpus_dir(idx) if idx < CORPORA else None

    def requests(self) -> list[Request]:
        registry = queries.load_all()
        return [
            Request(name, "entry", lambda d, fn=registry[name].fn: fn(self.spark, d))
            for name in CURATION_ENTRIES
        ]

    def references(self, dirs: set[str]) -> dict[tuple[str, str], tuple]:
        registry = queries.load_all()
        out = {}
        for d in sorted(dirs):
            con = checks.duck_connect(d, catalog.TABLE_NAMES)
            try:
                for name in CURATION_ENTRIES:
                    out[(name, d)] = checks.duck_fingerprint(con, registry[name].oracle)
            finally:
                con.close()
        return out


WORKLOADS = {w.name: w for w in (MartServe, Curation)}
