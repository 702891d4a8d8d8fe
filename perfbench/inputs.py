"""Seeded benchmark inputs, cached under ``perfbench/.work/inputs``.

Two kinds of input:

- transcripts: ``quickwit_spark.pipeline.transcripts.materialize`` (which
  calls ``gen_transcripts``) at a given (turns, seed);
- the ten star-schema tables the ``__spark_entry__`` leaves read
  (``region`` … ``embeddings``), generated here with the same schemas,
  row-count scaling and value ranges as the ``sf*`` fixtures of TESTDATA.md, as
  single-row-group parquet files.

Each input lives in a directory keyed by (kind, size, seed). A directory is
written under a temporary name and renamed into place, so a killed run never
leaves a half-written input that a later run would trust. Only the most
recent ``KEEP`` directories of each kind are kept.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEEP = 24


def _cached(work: str, kind: str, key: str, build) -> tuple[str, bool]:
    """(path, generated): the cached directory for ``key``, built by
    ``build(tmp_dir)`` on a miss."""
    root = os.path.join(work, "inputs")
    path = os.path.join(root, f"{kind}-{key}")
    if os.path.isdir(path):
        os.utime(path)
        return path, False
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, path)
    old = sorted(
        (p for p in glob.glob(os.path.join(root, f"{kind}-*")) if ".tmp" not in p),
        key=os.path.getmtime,
    )
    for p in old[:-KEEP]:
        shutil.rmtree(p, ignore_errors=True)
    return path, True


def transcripts(work: str, turns: int, seed: int, num_files: int) -> tuple[str, bool]:
    """Directory holding ``transcripts.parquet`` + ``tenants.parquet``."""
    from quickwit_spark.pipeline.transcripts import materialize

    return _cached(
        work, "transcripts", f"{turns}-{seed}",
        lambda d: materialize(turns, d, seed=seed, num_files=num_files),
    )


def tables(work: str, sf: float, seed: int) -> tuple[str, bool]:
    """Directory holding the ten ``<name>.parquet`` leaf tables at ``sf``."""
    return _cached(work, "tables", f"{sf:g}-{seed}", lambda d: write_tables(d, sf, seed))


# --------------------------------------------------------------------------
# star-schema tables
# --------------------------------------------------------------------------

_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split()
)
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_PART_ADJ = np.array(["small", "large", "red", "blue", "hot", "cold", "new", "old"])
_PART_NOUN = np.array(["ring", "widget", "bolt", "gear", "anvil", "gizmo", "plate", "rod"])
_DAY_US = 86_400 * 1_000_000


def _date_col(rng, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (rng.integers(0, days, n) * _DAY_US).astype("timedelta64[us]"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = rng.choice(_WORDS, size=int(lengths.sum()))
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # 5% near-duplicates: another document's text with a marker appended
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _events(rng, n: int, n_users: int) -> pa.Table:
    # monotone timestamps over 30 days, exponential gaps
    gaps = rng.exponential(1.0, n)
    ts_us = (np.cumsum(gaps) / gaps.sum() * (30 * _DAY_US - 60_000_000)).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(
            rng.choice(np.array(["signup", "error", "click", "view", "purchase"]), n)
        ),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pa.array(rng.choice(np.array(
                ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]), n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(np.char.add(np.char.add(
                rng.choice(_PART_ADJ, n_part), " "), rng.choice(_PART_NOUN, n_part))),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(np.array(
                ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"]), n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(np.array(["P", "O", "F"]), n_ord)),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
            "o_orderdate": _date_col(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": pa.array(rng.choice(np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_ord)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(np.array(["R", "A", "N"]), n_line)),
            "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), n_line)),
            "l_shipdate": _date_col(rng, n_line, "1995-01-02", 2499),
        }),
        "events": _events(rng, n_events, max(10, int(150_000 * sf))),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, table in out.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
