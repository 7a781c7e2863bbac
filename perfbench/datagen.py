"""Seeded input generators for the benchmark.

Everything the benchmark feeds the engine is made here from one integer
seed, so the same seed gives byte-identical inputs:

- ``star_schema``: the TPC-H-shaped parquet tables the registry queries
  read (region nation customer supplier part orders lineitem events
  documents embeddings), with the column types and value ranges of the
  engine's test data, scaled by ``sf``;
- ``owid``: an OWID-shaped COVID CSV plus ``country_meta.csv`` for the
  dashboard pipeline (schema: FIXTURES.md section 1 and 2), with null
  continents, trailing nulls, gaps and quoted names;
- ``orders_change_set``: the seeded update/insert set the relational
  workload merges into ``orders``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (["en"] * 8) + (["zh"] * 3) + (["es"] * 3) + (["fr"] * 3) + (["de"] * 3)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_since_epoch.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _epoch_day(date: str) -> int:
    return int(np.datetime64(date, "D").astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def star_schema(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten registry tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 150)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 200)
    n_ord = max(int(1_500_000 * sf), 1_500)
    n_line = max(int(6_000_000 * sf), 6_000)
    n_events = max(int(1_000_000 * sf), 1_000)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    n_users = max(int(15_000 * sf), 15)

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }))
    names = np.array([f"{a} {b}" for a in PART_WORDS for b in PART_NOUNS])
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    }))
    d0, d1 = _epoch_day("1995-01-01"), _epoch_day("2001-08-01")
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }))
    s0, s1 = _epoch_day("1995-01-02"), _epoch_day("2001-11-04")
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng.integers(s0, s1 + 1, n_line)),
    }))
    e0 = _epoch_day("2024-01-01") * _DAY_US
    ts = np.sort(rng.integers(e0, e0 + 30 * _DAY_US, n_events))
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }))
    _write(out_dir, "documents", pa.table(_documents(rng, n_docs)))
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }))
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_events, "documents": n_docs, "embeddings": n_emb,
    }


def _documents(rng: np.random.Generator, n: int) -> dict[str, object]:
    """Uniform 30-word vocabulary, 10-100 words per document; about 5% of
    documents are near-duplicates (another document's text plus one or
    two ``dup`` tokens), as in the engine's test corpus."""
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        src = int(rng.integers(0, n))
        if src != i and not texts[src].endswith(" dup"):
            texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def orders_change_set(sf_dir: str, out_path: str, seed: int) -> int:
    """Seeded MERGE change set for ``orders``: updates to 1% of the
    existing keys (new price and status, some NULLs meaning "keep") plus
    a quarter as many new keys."""
    rng = np.random.default_rng(seed + 7)
    keys = pq.read_table(os.path.join(sf_dir, "orders.parquet"), columns=["o_orderkey"])
    n_ord = keys.num_rows
    n_upd = max(n_ord // 100, 10)
    upd = rng.choice(n_ord, n_upd, replace=False)
    ins = n_ord + np.arange(n_upd // 4)
    k = np.concatenate([upd, ins]).astype(np.int64)
    price = _money(rng, 1000.0, 500_000.0, len(k))
    status = np.array(["F", "O", "P"])[rng.integers(0, 3, len(k))].astype(object)
    status[rng.random(len(k)) < 0.2] = None
    pq.write_table(pa.table({
        "o_orderkey": pa.array(k, pa.int64()),
        "o_totalprice": price,
        "o_orderstatus": pa.array(list(status), pa.string()),
        "o_custkey": pa.array(rng.integers(0, 150, len(k)), pa.int64()),
    }), out_path)
    return len(k)


# --- OWID-shaped dashboard input -------------------------------------------

OWID_COLUMNS = [
    "iso_code", "continent", "location", "date", "population",
    "total_cases", "new_cases", "new_cases_smoothed",
    "total_deaths", "new_deaths", "new_deaths_smoothed",
    "total_cases_per_million", "new_cases_smoothed_per_million",
    "total_deaths_per_million", "new_deaths_smoothed_per_million",
    "people_fully_vaccinated_per_hundred",
    "gdp_per_capita", "median_age", "hospital_beds_per_thousand",
    "human_development_index",
]
CONTINENTS = ["Africa", "Asia", "Europe", "North America", "Oceania", "South America"]
# Aggregate rows carry a NULL continent (filtered out as non-countries).
AGGREGATES = ["World", "Europe", "High income", "European Union (27)"]
QUOTED_NAMES = ['Korea, South', 'Bonaire "Sint" Eustatius', "Cote d'Ivoire, Republic"]


def owid(out_dir: str, seed: int, n_locations: int, n_days: int) -> dict[str, object]:
    """Write ``owid-covid-data.csv`` and ``country_meta.csv``.

    One row per (location, date) over ``n_days`` days from 2020-01-22,
    with about 3% of days missing per location, cumulative totals that
    end in 0-5 trailing NULL days, 7-day smoothed columns that are NULL
    for the first 6 days, vaccination NULL before a per-location start,
    and static indicators NULL for some locations (one continent keeps
    fewer than two non-null ``median_age`` values).
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 11)
    names = QUOTED_NAMES + [f"Country {i:03d}" for i in range(n_locations - len(QUOTED_NAMES))]
    locs = [(n, CONTINENTS[i % len(CONTINENTS)], f"C{i:03d}") for i, n in enumerate(names)]
    locs += [(n, None, f"OWID_{i}") for i, n in enumerate(AGGREGATES)]
    base = np.datetime64("2020-01-22")
    frames = []
    for li, (name, cont, iso) in enumerate(locs):
        days = np.flatnonzero(rng.random(n_days) > 0.03)
        n = len(days)
        pop = float(rng.integers(100_000, 200_000_000))
        new_c = rng.poisson(rng.uniform(1, 500), n).astype(float)
        new_d = rng.poisson(rng.uniform(0.1, 10), n).astype(float)
        tot_c, tot_d = np.cumsum(new_c), np.cumsum(new_d)
        sm_c = pd.Series(new_c).rolling(7).mean().to_numpy()
        sm_d = pd.Series(new_d).rolling(7).mean().to_numpy()
        new_c[rng.random(n) < 0.02] = np.nan
        new_d[rng.random(n) < 0.02] = np.nan
        trail = int(rng.integers(0, 6))
        if trail:
            tot_c[-trail:] = np.nan
            tot_d[-trail:] = np.nan
        vax = np.full(n, np.nan)
        v0 = int(n * rng.uniform(0.4, 0.9))
        vax[v0:] = np.round(np.linspace(0.1, rng.uniform(20, 90), n - v0), 2)
        vax[rng.random(n) < 0.3] = np.nan

        def static(lo: float, hi: float, p_null: float) -> float:
            return np.nan if rng.random() < p_null else round(float(rng.uniform(lo, hi)), 3)

        age = np.nan if cont == "Oceania" and li > 4 else static(15, 50, 0.1)
        frames.append(pd.DataFrame({
            "iso_code": iso, "continent": cont, "location": name,
            "date": np.datetime_as_string(base + days, unit="D"),
            "population": pop,
            "total_cases": tot_c, "new_cases": new_c, "new_cases_smoothed": np.round(sm_c, 3),
            "total_deaths": tot_d, "new_deaths": new_d, "new_deaths_smoothed": np.round(sm_d, 3),
            "total_cases_per_million": np.round(tot_c / pop * 1e6, 3),
            "new_cases_smoothed_per_million": np.round(sm_c / pop * 1e6, 3),
            "total_deaths_per_million": np.round(tot_d / pop * 1e6, 3),
            "new_deaths_smoothed_per_million": np.round(sm_d / pop * 1e6, 3),
            "people_fully_vaccinated_per_hundred": vax,
            "gdp_per_capita": static(500, 90_000, 0.1), "median_age": age,
            "hospital_beds_per_thousand": static(0.1, 13, 0.2),
            "human_development_index": static(0.3, 0.95, 0.1),
        }))
    fact = pd.concat(frames, ignore_index=True)[OWID_COLUMNS]
    csv_path = os.path.join(out_dir, "owid-covid-data.csv")
    # NaN and None are written as empty cells, strings are quoted.
    pacsv.write_csv(pa.Table.from_pandas(fact, preserve_index=False), csv_path)

    # Dimension: most fact locations, some unknown ones, one NULL key,
    # one duplicated location (one-to-many fan-out), a quoted income group.
    keep = [n for n, c, _ in locs if c is not None and rng.random() < 0.85]
    meta_rows = [(n, CONTINENTS[i % 6], ["High", "Upper middle", "Lower middle", "Low, income", "Unknown"][i % 5])
                 for i, n in enumerate(keep)]
    meta_rows += [(f"Atlantis {i}", "Oceania", "Unknown") for i in range(3)]
    meta_rows += [(None, "Europe", "High"), (keep[0], "Asia", "Unknown")]
    meta = pd.DataFrame(meta_rows, columns=["location", "continent", "income_group"])
    meta_path = os.path.join(out_dir, "country_meta.csv")
    meta.to_csv(meta_path, index=False)
    return {
        "csv": csv_path,
        "meta": meta_path,
        "rows": len(fact),
        "bytes": os.path.getsize(csv_path),
        "locations": [n for n, c, _ in locs if c is not None],
        "first_date": str(base),
        "n_days": n_days,
    }
