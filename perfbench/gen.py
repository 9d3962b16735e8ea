"""Seeded benchmark inputs, generated once per (seed, size) and cached.

Three input sets, each a pure function of the seed and its size:

- ``star``: the ten star-schema tables the registry queries read
  (``region`` .. ``embeddings``), with the column types and value
  distributions of the synthetic testdata in ``TESTDATA.md``, written as one
  parquet file per table so ``sources.read_table`` reads them as-is.
- ``flights``: a 2019-shaped and a 2023-shaped CSV pair for the
  reference flight pipeline. The 2019 columns follow the distributions
  of ``tests/flight_fixtures.py:kaggle_shaped_2019_pdf``; the 2023 twin
  uses the same shapes under the 2023 column names.
- the ``ingest_serve`` corpus is the output of the engine's own
  ``synthetic_docs`` / ``synthetic_embeddings`` sources for the seed;
  ``workloads.py`` writes it under the same cache root.

Generation writes to a temporary directory and renames it into place,
so a run killed mid-generation never leaves a half-written cache entry.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pandas as pd

#: Row counts at scale factor 1 (the sf0.01 testdata counts are these
#: times 0.01). ``documents`` and ``embeddings`` have floors, as in the
#: testdata.
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_DOC_FLOOR, _EMB_FLOOR = 500, 500

_WORDS = (
    "the a spark data table row column key value join merge sort scan "
    "filter group agg window batch stream hash part order line customer "
    "query vector small big fast slow dup"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]

AIRLINES = [
    "Delta", "United", "Southwest Airlines", "American Airlines",
    "Frontier Airlines",
]
REASONS_2023 = ["None", "Weather", "Air Traffic Control", "Maintenance"]
#: Departure-hour weights and the distance lognormal of the Kaggle-shaped
#: flight fixture (``tests/flight_fixtures.py``).
_HOUR_W = np.array(
    [1, 1, 1, 1, 2, 14, 28, 30, 28, 26, 25, 26,
     27, 26, 25, 27, 28, 27, 26, 22, 16, 10, 5, 2], dtype=float,
)
_DIST_MU, _DIST_SIGMA = 6.48, 0.72


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def star_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The ten star-schema tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n = {t: max(1, int(round(b * sf))) for t, b in _BASE_ROWS.items()}
    n_doc = max(_DOC_FLOOR, int(round(50_000 * sf)))
    n_emb = max(_EMB_FLOOR, int(round(20_000 * sf)))
    n_users = max(10, int(round(15_000 * sf)))
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    nc = n["customer"]
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = n["part"]
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(_P_ADJ, npart), rng.choice(_P_NOUN, npart)
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": rng.choice(_P_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10, 2),
        }
    )
    no = n["orders"]
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
            "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(30 * 86400.0 / ne, ne)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us")
            + ts_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, ne).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    lens = rng.integers(10, 101, n_doc)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(_WORDS), k)]) for k in lens]
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.normal(size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return out


def flights_frames(seed: int, n: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """All-string 2019- and 2023-shaped flight frames of ``n`` rows each."""
    rng = np.random.default_rng([seed, 2])

    def shape(year: int):
        month = rng.integers(1, 13, n)
        day = rng.integers(1, 29, n)
        hour = rng.choice(24, size=n, p=_HOUR_W / _HOUR_W.sum())
        minute = rng.integers(0, 60, n)
        dist = np.clip(rng.lognormal(_DIST_MU, _DIST_SIGMA, n), 31, 5095).round()
        delay = np.round(
            rng.normal(-5, 18, n)
            + rng.exponential(20, n) * (rng.random(n) < 0.25),
            1,
        )
        return month, day, hour, minute, dist, delay

    month, day, hour, minute, dist, delay = shape(2019)
    cancelled = rng.random(n) < 0.025
    codes = rng.choice(["A", "B", "C", "D"], size=n)
    f19 = pd.DataFrame(
        {
            "FL_DATE": [f"2019-{m:02d}-{d:02d}" for m, d in zip(month, day)],
            "AIRLINE": rng.choice(AIRLINES, size=n),
            "DEP_TIME": [f"{v:.1f}" for v in (hour * 100 + minute)],
            "DEP_DELAY": [f"{v:.1f}" for v in delay],
            "ARR_DELAY": [f"{v:.1f}" for v in delay],
            "CANCELLED": np.where(cancelled, "1.0", "0.0"),
            "DIVERTED": np.where(rng.random(n) < 0.002, "1.0", "0.0"),
            "DISTANCE": [f"{v:.1f}" for v in dist],
            "CANCELLATION_CODE": np.where(cancelled, codes, None),
        }
    )
    month, day, hour, minute, dist, delay = shape(2023)
    f23 = pd.DataFrame(
        {
            "ScheduledDeparture": [
                f"2023-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:00"
                for mo, d, h, mi in zip(month, day, hour, minute)
            ],
            "DelayMinutes": [f"{v:.1f}" for v in np.maximum(delay, 0)],
            "Cancelled": np.where(rng.random(n) < 0.025, "True", "False"),
            "Diverted": np.where(rng.random(n) < 0.002, "True", "False"),
            "Distance": [f"{v:.1f}" for v in dist],
            "Airline": rng.choice(AIRLINES, size=n),
            "DelayReason": rng.choice(REASONS_2023, size=n),
        }
    )
    return f19, f23


def publish(final: str, write) -> str:
    """Run ``write(tmp_dir)`` and rename the result to ``final``."""
    if os.path.isdir(final):
        return final
    parent = os.path.dirname(final)
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".gen_", dir=parent)
    try:
        write(tmp)
        os.rename(tmp, final)
    except OSError:
        if not os.path.isdir(final):  # lost a race to an equal writer: fine
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def star_dir(root: str, seed: int, sf: float) -> str:
    """Directory holding ``<table>.parquet`` for every star table."""

    def write(tmp: str) -> None:
        for name, pdf in star_tables(seed, sf).items():
            pdf.to_parquet(f"{tmp}/{name}.parquet", index=False)

    return publish(f"{root}/star_s{seed}_sf{sf:g}", write)


def flights_dir(root: str, seed: int, n: int) -> str:
    """Directory holding ``2019.csv`` and ``2023.csv``."""

    def write(tmp: str) -> None:
        f19, f23 = flights_frames(seed, n)
        f19.to_csv(f"{tmp}/2019.csv", index=False)
        f23.to_csv(f"{tmp}/2023.csv", index=False)

    return publish(f"{root}/flights_s{seed}_n{n}", write)
