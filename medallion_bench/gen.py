"""Seeded input generator.

Every input the benchmark feeds the engine is made here from one
``numpy.random.Generator`` seeded by ``--seed``: the same seed gives
byte-identical inputs. Two shapes are produced:

- TSV drops for the medallion pipeline. A drop never holds two rows
  with the same key (same-drop ties have no deterministic winner in
  keep-latest-per-key dedup). Floats are written with ``repr`` and
  timestamps with microseconds, so Spark's CSV reader parses every
  field back to exactly the value kept in memory for the oracle.
- Parquet tables shaped like the registry's sf0.1 tables (TPC-H star,
  events, documents, embeddings), with sf0.1's row counts, for the
  registry operators.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)
_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_SHIP0 = np.datetime64("1995-01-01T00:00:00", "us")


def events_rows(rng: np.random.Generator, keys: np.ndarray) -> pd.DataFrame:
    """One `events`-shaped row per key. ``props`` is a JSON string, so
    it carries ``"`` — the TSV writer below quotes it."""
    n = len(keys)
    ts = _T0 + rng.integers(0, 86_400 * 365 * 1_000_000, n).astype("timedelta64[us]")
    return pd.DataFrame({
        "event_id": keys.astype(np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 5_000, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": rng.integers(0, 100_000, n) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


_NEEDS_QUOTE = '["\\\\\t\n]'


def _tsv_field(v) -> str:
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, np.datetime64):
        return str(v).replace("T", " ")
    s = str(v)
    if any(c in s for c in '"\\\t\n'):
        # Spark's CSV reader: quote char '"', escape char '\'
        return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'
    return s


def write_tsv(path: Path, df: pd.DataFrame) -> int:
    """Write ``df`` as a headed TSV file; returns its size in bytes.

    Arrow's writer is used when no string needs quoting (it refuses
    ``"`` unquoted, and quotes by doubling, which Spark's reader does
    not undo); otherwise rows are formatted here. The file is written
    under a temp name and renamed, so a listing never sees half a drop.
    """
    tmp = path.with_name("." + path.name + ".tmp")
    quoted = [c for c in df.columns
              if df[c].dtype == object and df[c].str.contains(_NEEDS_QUOTE).any()]
    if quoted:
        cols = [df[c].to_numpy() for c in df.columns]
        lines = ["\t".join(df.columns)]
        for i in range(len(df)):
            lines.append("\t".join(_tsv_field(c[i]) for c in cols))
        tmp.write_bytes(("\n".join(lines) + "\n").encode())
    else:
        pacsv.write_csv(pa.Table.from_pandas(df, preserve_index=False), tmp,
                        pacsv.WriteOptions(delimiter="\t", quoting_style="none"))
    tmp.rename(path)
    return path.stat().st_size


def update_keys(rng: np.random.Generator, n_existing: int, n: int) -> np.ndarray:
    """``n`` distinct earlier keys, chosen uniformly from [0, n_existing)."""
    return rng.choice(n_existing, size=min(n, n_existing), replace=False)


# ---------------------------------------------------------------------------
# registry-shaped tables for the operator queries
# ---------------------------------------------------------------------------
_WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup and
            # clustering operators have pairs to find
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(_WORDS[rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))]))
    langs = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, len(langs), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = centers[label] + 0.8 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    })


# row counts of the registry's sf0.1 tables
SF01_ROWS = {"orders": 150_000, "lineitem": 600_000, "customer": 15_000,
             "part": 20_000, "supplier": 1_000, "events": 100_000,
             "documents": 5_000, "embeddings": 2_000}


def write_registry_tables(rng: np.random.Generator, out: Path) -> None:
    """One parquet file per registry table under ``out``, at sf0.1's
    row counts."""
    out.mkdir(parents=True, exist_ok=True)
    n = SF01_ROWS
    n_orders, n_line, n_part, n_supp, n_cust = (
        n["orders"], n["lineitem"], n["part"], n["supplier"], n["customer"])
    pick = lambda a, k: np.asarray(a)[rng.integers(0, len(a), k)]  # noqa: E731
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(rng.integers(-99_999, 999_999, n_cust) / 100.0),
            "c_mktsegment": pa.array(pick(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(rng.integers(-99_999, 999_999, n_supp) / 100.0),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [f"{a} {b}" for a, b in zip(
                pick(["red", "blue", "hot", "large", "green", "small", "dark", "pale"], n_part),
                pick(["bolt", "ring", "nut", "gear", "screw", "pin", "cog", "rod"], n_part))],
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(pick(
                ["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO", "MEDIUM"], n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
            "o_orderstatus": pa.array(pick(["F", "O", "P"], n_orders)),
            "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n_orders) / 100.0),
            "o_orderdate": pa.array(_SHIP0 + (rng.integers(0, 2_500, n_orders)
                                              * 86_400_000_000).astype("timedelta64[us]")),
            "o_orderpriority": pa.array(pick(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_line).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(rng.integers(90_000, 10_500_000, n_line) / 100.0),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(pick(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(pick(["F", "O"], n_line)),
            "l_shipdate": pa.array(_SHIP0 + (rng.integers(0, 2_500, n_line)
                                             * 86_400_000_000).astype("timedelta64[us]")),
        }),
        "events": pa.Table.from_pandas(events_rows(rng, np.arange(n["events"])),
                                       preserve_index=False),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    for name, t in tables.items():
        pq.write_table(t, out / f"{name}.parquet")
