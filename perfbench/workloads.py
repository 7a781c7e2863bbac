"""The benchmark's workloads: their inputs, operations and output checks.

An operation is one request a user of the engine makes and waits for:
``build`` calls the engine's public functions and returns the frames
they produce (plus any other return values), ``act`` materialises every
frame the way the user consumes it, and ``check`` compares what ``act``
returned with an independent computation (DuckDB or pandas) over the
same generated inputs. ``params`` draws the operation's arguments from
the workload's seeded random stream.
"""

from __future__ import annotations

import functools
import importlib.util
import math
import os
import random
import shutil
import sys
import time
from dataclasses import dataclass
from decimal import Decimal
from typing import Any, Callable

import pandas as pd

import datagen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class Mismatch(Exception):
    """An operation's output differs from the independent computation."""


@dataclass
class Ctx:
    """Per-run state: the session, the generated inputs, a DuckDB handle."""

    spark: Any
    work: str
    seed: int
    data_dir: str = ""
    sf_dir: str | None = None
    owid: dict | None = None
    changes: str | None = None
    input_rows: int = 0
    input_bytes: int = 0
    _duck: Any = None

    def duck(self):
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
            if self.sf_dir:
                for t in TABLES:
                    p = os.path.join(self.sf_dir, f"{t}.parquet")
                    self._duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self._duck

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
            self._duck = None


@dataclass
class Op:
    name: str
    kind: str  # "read" or "write"
    build: Callable[[Ctx, dict], dict[str, Any]]
    check: Callable[[Ctx, dict, dict[str, Any]], None]
    act: Callable[[Ctx, dict, dict[str, Any], dict], dict[str, Any]] | None = None
    params: Callable[[random.Random, Ctx], dict] = lambda rng, ctx: {}


@dataclass
class Workload:
    name: str
    why: str
    ops: list[Op]
    prepare: Callable[[Ctx], None]
    warm_catalog: Callable[[Ctx], None]


def frames_of(built: dict[str, Any]) -> dict[str, Any]:
    from pyspark.sql import DataFrame

    return {k: v for k, v in built.items() if isinstance(v, DataFrame)}


def collect_all(ctx: Ctx, params: dict, built: dict[str, Any], notes: dict) -> dict[str, Any]:
    return {k: (df.columns, df.collect()) for k, df in frames_of(built).items()}


# --- comparison ----------------------------------------------------------

@functools.cache
def _oracle_table_key():
    """``table_key`` from tools/check_oracle.py: columns sorted by name,
    rows sorted, NaN and NULL equal, floats by ``repr``."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)  # the module edits sys.path when loaded
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.table_key


def _num(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _sort_key(row):
    return tuple("" if v is None else (f"{v:.4f}" if isinstance(v, float) else str(v)) for v in row)


def same_rows(label: str, got: tuple[list[str], list], want: pd.DataFrame) -> None:
    """Order-insensitive comparison with a float tolerance of 1e-6."""
    cols, rows = got
    if sorted(cols) != sorted(want.columns):
        raise Mismatch(f"{label}: columns {sorted(cols)} != {sorted(want.columns)}")
    if len(rows) != len(want):
        raise Mismatch(f"{label}: {len(rows)} rows, expected {len(want)}")
    w = want[cols].astype(object).where(want[cols].notna(), None)
    a = sorted((tuple(_num(v) for v in r) for r in rows), key=_sort_key)
    b = sorted((tuple(_num(v) for v in r) for r in w.itertuples(index=False)), key=_sort_key)
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if x is None or y is None:
                ok = x is None and y is None
            elif isinstance(x, float) or isinstance(y, float):
                ok = math.isclose(float(x), float(y), rel_tol=1e-6, abs_tol=2e-6)
            else:
                ok = x == y
            if not ok:
                raise Mismatch(f"{label}: row {ra} != expected {rb}")


# --- registry queries ------------------------------------------------------

def registry_op(name: str) -> Op:
    def build(ctx: Ctx, params: dict) -> dict[str, Any]:
        from covid_custom_sql_engine_spark.queries_registry import QUERIES

        return {"out": QUERIES[name](ctx.spark, ctx.sf_dir)}

    def check(ctx: Ctx, params: dict, results: dict[str, Any]) -> None:
        from covid_custom_sql_engine_spark.queries_registry import ORACLES

        cols, rows = results["out"]
        res = ctx.duck().execute(ORACLES[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if len(rows) != len(drows):
            raise Mismatch(f"{name}: {len(rows)} rows, oracle {len(drows)}")
        if sorted(cols) != sorted(dcols):
            raise Mismatch(f"{name}: columns {sorted(cols)} != oracle {sorted(dcols)}")
        table_key = _oracle_table_key()
        if table_key(rows, cols) != table_key(drows, dcols):
            raise Mismatch(f"{name}: values differ from the oracle")

    return Op(name, "read", build, check)


# --- relational writes -----------------------------------------------------

def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _timed_write(notes: dict, path: str, write: Callable[[], None]) -> None:
    t0 = time.perf_counter()
    write()
    notes["write_ms"] = notes.get("write_ms", 0.0) + (time.perf_counter() - t0) * 1000
    if notes.get("trace"):
        files, size = _dir_stats(path)
        notes["files_written"] = notes.get("files_written", 0) + files
        notes["bytes_written"] = notes.get("bytes_written", 0) + size


def partitioned_write_op() -> Op:
    """``sinks.write_partitioned`` of one shipping year of lineitem,
    partitioned by return flag, then a read-back of one flag that the
    reader answers from one partition directory."""

    def params(rng: random.Random, ctx: Ctx) -> dict:
        return {"year": rng.randint(1995, 2001), "flag": rng.choice("ANR")}

    def build(ctx: Ctx, p: dict) -> dict[str, Any]:
        from pyspark.sql import functions as F

        from covid_custom_sql_engine_spark.catalog import load_table

        li = load_table(ctx.spark, ctx.sf_dir, "lineitem")
        return {"slice": li.filter(F.year("l_shipdate") == p["year"]).select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus")}

    def act(ctx: Ctx, p: dict, built: dict[str, Any], notes: dict) -> dict[str, Any]:
        from pyspark.sql import functions as F

        from covid_custom_sql_engine_spark.sources.sinks import write_partitioned

        path = os.path.join(ctx.work, "out", "lineitem_by_flag")
        _timed_write(notes, path, lambda: write_partitioned(built["slice"], path, ["l_returnflag"]))
        back = (ctx.spark.read.parquet(path).filter(F.col("l_returnflag") == p["flag"])
                .groupBy("l_linestatus")
                .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("l_quantity").cast("long")).alias("qty")))
        return {"readback": (back.columns, back.collect())}

    def check(ctx: Ctx, p: dict, results: dict[str, Any]) -> None:
        want = ctx.duck().execute(
            "SELECT l_linestatus, count(*) AS n, sum(l_quantity::BIGINT) AS qty FROM lineitem "
            f"WHERE year(l_shipdate) = {p['year']} AND l_returnflag = '{p['flag']}' GROUP BY 1").df()
        same_rows("write_partitioned", results["readback"], want)

    return Op("write_partitioned", "write", build, check, act, params)


def merge_write_op() -> Op:
    """``merge.merge_upsert`` of the seeded change set into orders,
    written out as parquet and summarised on read-back."""

    def build(ctx: Ctx, p: dict) -> dict[str, Any]:
        from covid_custom_sql_engine_spark.catalog import load_table
        from covid_custom_sql_engine_spark.operators.merge import merge_upsert

        orders = load_table(ctx.spark, ctx.sf_dir, "orders")
        changes = ctx.spark.read.parquet(ctx.changes)
        return {"merged": merge_upsert(orders, changes, "o_orderkey")}

    def act(ctx: Ctx, p: dict, built: dict[str, Any], notes: dict) -> dict[str, Any]:
        from pyspark.sql import functions as F

        path = os.path.join(ctx.work, "out", "orders_merged")
        _timed_write(notes, path, lambda: built["merged"].write.mode("overwrite").parquet(path))
        back = ctx.spark.read.parquet(path).groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
            F.max("o_orderkey").alias("max_key"))
        return {"readback": (back.columns, back.collect())}

    def check(ctx: Ctx, p: dict, results: dict[str, Any]) -> None:
        want = ctx.duck().execute(f"""
            WITH u AS (SELECT * FROM read_parquet('{ctx.changes}')),
            m AS (SELECT o.o_orderkey, coalesce(u.o_totalprice, o.o_totalprice) AS p,
                         coalesce(u.o_orderstatus, o.o_orderstatus) AS s
                  FROM orders o LEFT JOIN u ON o.o_orderkey = u.o_orderkey
                  UNION ALL
                  SELECT u.o_orderkey, u.o_totalprice, u.o_orderstatus FROM u
                  WHERE u.o_orderkey NOT IN (SELECT o_orderkey FROM orders))
            SELECT s AS o_orderstatus, count(*) AS n, sum(round(p * 100)::BIGINT) AS cents,
                   max(o_orderkey) AS max_key
            FROM m GROUP BY 1""").df()
        same_rows("merge_upsert", results["readback"], want)

    return Op("merge_upsert", "write", build, check, act)


# --- interactive: the dashboard and the SQL operations demo ----------------

DASH_METRICS = ("total_cases", "total_deaths", "new_cases", "new_deaths")


def dashboard_op() -> Op:
    def params(rng: random.Random, ctx: Ctx) -> dict:
        import numpy as np

        # Ranges and selections of one size, so every session does about
        # the same work and seeds differ in data, not in load.
        info = ctx.owid
        start = rng.randint(0, info["n_days"] // 2)
        day = np.datetime64(info["first_date"])
        return {
            "date_range": (str(day + start), str(day + start + info["n_days"] // 2)),
            "locations": sorted(rng.sample(info["locations"], 10)),
            "chart_metric": rng.choice(DASH_METRICS),
        }

    def build(ctx: Ctx, p: dict) -> dict[str, Any]:
        from covid_custom_sql_engine_spark.pipelines import dashboard_pipeline

        return dashboard_pipeline(
            ctx.spark, covid_csv=ctx.owid["csv"], meta_csv=ctx.owid["meta"],
            date_range=p["date_range"], locations=p["locations"], chart_metric=p["chart_metric"])

    def act(ctx: Ctx, p: dict, built: dict[str, Any], notes: dict) -> dict[str, Any]:
        fact = built["fact"]
        t0 = time.perf_counter()
        out: dict[str, Any] = {"fact": fact.count()}  # fills fact.cache()
        notes["cache_fill_ms"] = (time.perf_counter() - t0) * 1000
        if notes.get("trace"):
            infos = ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            notes["cache_bytes"] = sum(i.memSize() + i.diskSize() for i in infos)
        for k, df in frames_of(built).items():
            if k != "fact":
                out[k] = (df.columns, df.collect())
        fact.unpersist()
        notes["csv_parse_ms"] = sum(e.ms for e in built["log"].entries if e.op == "load+validate")
        return out

    def check(ctx: Ctx, p: dict, results: dict[str, Any]) -> None:
        for k, want in dashboard_reference(ctx.owid, p).items():
            if k == "fact":
                if results["fact"] != want:
                    raise Mismatch(f"dashboard.fact: {results['fact']} rows, expected {want}")
            else:
                same_rows(f"dashboard.{k}", results[k], want)

    return Op("dashboard", "read", build, check, act, params)


def dashboard_reference(info: dict, p: dict) -> dict[str, Any]:
    """The dashboard's outputs recomputed with pandas from the CSV."""
    raw = pd.read_csv(info["csv"], dtype=str, keep_default_na=False, na_values=[""])
    start, end = p["date_range"]
    fact = raw[raw["continent"].notna() & (raw["date"] >= start) & (raw["date"] <= end)]
    num = fact.apply(lambda c: pd.to_numeric(c, errors="coerce"))
    metrics = list(DASH_METRICS)
    typed = pd.concat([fact[["location", "date"]], num[metrics]], axis=1)

    latest = typed.groupby("location", as_index=False)[metrics].max()
    latest = latest[latest["location"].isin(p["locations"])]
    stats = []
    for m in metrics:
        v = typed[m].dropna()
        stats.append({
            "metric": m, "count": float(len(typed)),
            "sum": v.sum() if len(v) else None, "avg": v.mean() if len(v) else None,
            "min": v.min() if len(v) else None, "max": v.max() if len(v) else None,
            "median": v.median() if len(v) else None, "std": v.std() if len(v) > 1 else None,
        })
    cm = p["chart_metric"]
    chart = typed[["location", "date", cm]].sort_values(["location", "date"])
    chart[f"{cm}_filled"] = chart.groupby("location")[cm].ffill().fillna(0.0)

    x, y = num["people_fully_vaccinated_per_hundred"], num["new_cases_smoothed_per_million"]
    both = x.notna() & y.notna()
    x, y = x[both], y[both]
    n = len(x)
    slope = intercept = herd = None
    if n >= 3:
        sx, sy, sxx, sxy = x.sum(), y.sum(), (x * x).sum(), (x * y).sum()
        denom = n * sxx - sx * sx
        slope = 0.0 if denom <= 0 else (n * sxy - sx * sy) / denom
        intercept = (sy - slope * sx) / n
        if slope < 0:
            herd = min(max(-intercept / slope, 0.0), 100.0)
    r6 = lambda v: None if v is None else round(v, 6)  # noqa: E731
    vax = pd.DataFrame([{
        "n_pairs": n, "slope": r6(slope), "intercept": r6(intercept),
        "eff_40": r6(None if slope is None else slope * 40.0),
        "eff_60": r6(None if slope is None else slope * 60.0),
        "herd_threshold_estimate": r6(herd),
    }])

    pos = ["gdp_per_capita", "human_development_index", "hospital_beds_per_thousand"]
    burden = "total_deaths_per_million"
    per = pd.concat([fact[["location"]], num[pos + [burden]]], axis=1).groupby("location").mean()
    norm = (per - per.min()) / (per.max() - per.min()).where(lambda r: r > 0)
    pos_mean = norm[pos].mean(axis=1, skipna=True)
    score = pos_mean.fillna(0.0) - norm[burden].fillna(0.0)
    score = score.where(pos_mean.notna() | norm[burden].notna()).round(6)
    resilience = pd.DataFrame({"location": per.index, "economic_resilience_score": score.values})

    meta = pd.read_csv(info["meta"], dtype=str, keep_default_na=False, na_values=[""])
    meta = meta.rename(columns={c: f"r_{c}" for c in meta.columns})
    enriched = latest.merge(meta, left_on="location", right_on="r_location", how="inner")
    return {
        "fact": len(fact),
        "latest_tbl": latest,
        "locations": pd.DataFrame({"location": sorted(fact["location"].unique())}),
        "date_bounds": pd.DataFrame([{"min_date": fact["date"].min(), "max_date": fact["date"].max()}]),
        "stats": pd.DataFrame(stats),
        "chart": chart,
        "vaccination_effect": vax,
        "resilience": resilience,
        "enriched": enriched,
    }


def demo_op() -> Op:
    """The SQL operations demo over the workload's orders (15k rows)."""

    def params(rng: random.Random, ctx: Ctx) -> dict:
        return {"min_totalprice": float(rng.randint(50, 450) * 1000)}

    def build(ctx: Ctx, p: dict) -> dict[str, Any]:
        from covid_custom_sql_engine_spark.demo import sql_operations_demo

        return sql_operations_demo(ctx.spark, ctx.sf_dir, csv_dir=os.path.join(ctx.work, "demo_csv"),
                                   min_totalprice=p["min_totalprice"])

    def act(ctx: Ctx, p: dict, built: dict[str, Any], notes: dict) -> dict[str, Any]:
        notes["csv_parse_ms"] = built["log"].entries[0].ms
        res = built["result"]
        return {"result": (res.columns, res.collect())}

    def check(ctx: Ctx, p: dict, results: dict[str, Any]) -> None:
        orders = pd.read_parquet(os.path.join(ctx.sf_dir, "orders.parquet"))
        cust = pd.read_parquet(os.path.join(ctx.sf_dir, "customer.parquet"))
        o = orders[orders["o_totalprice"] > p["min_totalprice"]]
        g = o.groupby("o_custkey").agg(n_orders=("o_orderkey", "size"),
                                      sum_totalprice=("o_totalprice", "sum")).reset_index()
        want = g.merge(cust, left_on="o_custkey", right_on="c_custkey").rename(
            columns={"c_mktsegment": "r_c_mktsegment", "c_nationkey": "r_c_nationkey"})
        want = want[["o_custkey", "n_orders", "sum_totalprice", "r_c_mktsegment", "r_c_nationkey"]]
        same_rows("demo", results["result"], want)

    return Op("demo", "read", build, check, act, params)


# --- workload table --------------------------------------------------------

def _reset(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _star(sf: float, changes: bool = False) -> Callable[[Ctx], None]:
    def prepare(ctx: Ctx) -> None:
        ctx.sf_dir = _reset(ctx.data_dir)
        counts = datagen.star_schema(ctx.sf_dir, sf, ctx.seed)
        if changes:
            ctx.changes = os.path.join(ctx.sf_dir, "orders_changes.parquet")
            counts["changes"] = datagen.orders_change_set(ctx.sf_dir, ctx.changes, ctx.seed)
        shutil.rmtree(os.path.join(ctx.work, "out"), ignore_errors=True)
        ctx.input_rows = sum(counts.values())
        ctx.input_bytes = sum(os.path.getsize(os.path.join(ctx.sf_dir, f)) for f in os.listdir(ctx.sf_dir))

    return prepare


def _warm_star(ctx: Ctx) -> None:
    from covid_custom_sql_engine_spark.catalog import load_table

    for t in TABLES:
        load_table(ctx.spark, ctx.sf_dir, t)


OWID_LOCATIONS, OWID_DAYS = 120, 500


def _prepare_interactive_sql(ctx: Ctx) -> None:
    _star(INTERACTIVE_SQL_SF, changes=True)(ctx)
    ctx.owid = datagen.owid(os.path.join(ctx.data_dir, "owid"), ctx.seed, OWID_LOCATIONS, OWID_DAYS)
    shutil.rmtree(os.path.join(ctx.work, "demo_csv"), ignore_errors=True)
    ctx.input_rows += ctx.owid["rows"]
    ctx.input_bytes += ctx.owid["bytes"]


def _warm_interactive_sql(ctx: Ctx) -> None:
    from covid_custom_sql_engine_spark.sources import read_csv_ref

    _warm_star(ctx)
    read_csv_ref(ctx.spark, ctx.owid["csv"]).columns
    read_csv_ref(ctx.spark, ctx.owid["meta"]).columns


# Each workload keeps the operations of the reference's own use case
# and one representative per query shape: every distinct operation costs
# a cold first run in every benchmark run, so the lists stay short.
SQL_READS = ["flagship_revenue_by_nation", "tpch_q3_shipping_priority"]
ITERATIVE_VECTOR = [
    "bpe_train_merges", "ppr_trusted_sources",
    "cosine_topk", "mjpeg_stats_real",
]
INTERACTIVE_SQL_SF, ITERATIVE_VECTOR_SF = 0.01, 0.001

WORKLOADS = {
    "interactive_sql": Workload(
        "interactive_sql",
        "dashboard and SQL demo tabs plus relational reads and writes: Catalyst, execute, CSV, cache and sinks",
        [dashboard_op(), demo_op()]
        + [registry_op(q) for q in SQL_READS] + [partitioned_write_op(), merge_write_op()],
        _prepare_interactive_sql, _warm_interactive_sql),
    "iterative_vector": Workload(
        "iterative_vector",
        "driver-loop graph and text queries plus Arrow and mapInPandas vector and media queries: build and Python workers",
        [registry_op(q) for q in ITERATIVE_VECTOR], _star(ITERATIVE_VECTOR_SF), _warm_star),
}
