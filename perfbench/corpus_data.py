"""Seeded input tables for `corpus_batch` and the DuckDB oracle check of its
results.

The tables have the schemas and value ranges of the engine's sf0.01 test
tables `documents` and `lineitem` (the only ones the measured entries read),
so the registry entries run on them unchanged. Document 20k+1 is an edited
copy of document 20k, so the dedup entries find near-duplicate pairs.
Document lengths and where the pairs sit do not depend on the seed, so every
seed asks for about the same work.
"""
import math
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column order small join customer query "
         "big stream group filter vector index").split()
LANGS = ["en", "zh", "de", "es", "fr"]
N_DOCS = 1200
N_PARTS, N_SUPPS, N_LINES = 8000, 400, 80000


def _documents(rng):
    docs = []
    for i in range(N_DOCS):
        if i % 20 == 1:
            src = list(docs[i - 1])
            for j in rng.choice(len(src), size=max(1, len(src) // 25), replace=False):
                src[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            docs.append(src)
        else:
            n = 8 + (i * 37) % 92  # lengths 8..99, the same for every seed
            docs.append([VOCAB[k] for k in rng.integers(0, len(VOCAB), n)])
    text = [" ".join(d) for d in docs]
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array([LANGS[k] for k in rng.choice(5, N_DOCS, p=[.44, .14, .14, .14, .14])]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _lineitem(rng):
    sizes = rng.integers(1, 8, N_LINES)
    orderkey = np.repeat(np.arange(N_LINES), sizes)[:N_LINES]
    starts = np.concatenate([[0], np.flatnonzero(np.diff(orderkey)) + 1])
    linenumber = np.arange(N_LINES) - np.repeat(starts, np.diff(np.append(starts, N_LINES))) + 1
    partkey = rng.integers(0, N_PARTS, N_LINES)
    qty = rng.integers(1, 51, N_LINES).astype(np.float64)
    day0 = np.datetime64("1995-01-02", "us")
    ship = day0 + rng.integers(0, 2499, N_LINES).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPS, N_LINES), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (partkey % 1000) * 0.1), 2),
        "l_discount": np.round(rng.integers(0, 11, N_LINES) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINES) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, N_LINES)],
        "l_linestatus": [("O", "F")[k] for k in rng.integers(0, 2, N_LINES)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def generate(seed, out_dir):
    """Writes the five tables as `<name>.parquet` under `out_dir`."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, make in (("documents", _documents), ("lineitem", _lineitem)):
        pq.write_table(make(rng), out / f"{name}.parquet")


def _close(a, b):
    if isinstance(a, float) and isinstance(b, (int, float)):
        if math.isnan(a) and isinstance(b, float) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if a is None and b is None:
        return True
    return str(a) == str(b)


def check(data_dir, result_dir, name, sql):
    """Compares the engine's result of `name` with the oracle SQL run by
    DuckDB over the same tables: same columns, same rows in any order.
    Returns None when they agree, else what differs."""
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("SET threads=4")
        for t in ("documents", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        mine = con.execute(f"SELECT * FROM '{result_dir}/{name}/*.parquet'").fetchdf()
        want = con.execute(sql).fetchdf()
    except Exception as e:  # an unreadable result or a failing oracle is a mismatch
        return f"{type(e).__name__}: {e}"
    finally:
        con.close()
    cols = sorted(mine.columns)
    if cols != sorted(want.columns):
        return f"columns {cols} vs oracle {sorted(want.columns)}"
    if len(mine) != len(want):
        return f"{len(mine)} rows vs oracle {len(want)}"
    m = mine[cols].sort_values(cols).reset_index(drop=True)
    o = want[cols].sort_values(cols).reset_index(drop=True)
    for i in range(len(m)):
        for c in cols:
            if not _close(m.at[i, c], o.at[i, c]):
                return f"row {i} column {c}: {m.at[i, c]!r} vs oracle {o.at[i, c]!r}"
    return None
