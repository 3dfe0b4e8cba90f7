"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's query registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``), one
parquet file each, with the column names, types and value ranges of the
TPC-H-like star schema the engine was built against. Row counts scale with
``sf`` the same way (sf0.1: 600k lineitem rows over 150k orders, so about
147k order keys carry at least one line item).

It also writes the two stored versioned tables the fresh workloads read
(``fresh_reads`` and ``fresh_rescore``): ``lineitem`` grouped by order key
into a ts-desc ``value_versions`` cell array (ts = ship date in epoch ms +
line number, value = extended price), the cell encoding of
``queries_kiji.versioned_events``, plus per-order features, the segment
``entity_id % 5``, and a copy of the cells for every other attached column.
They are sorted by key in row groups of 10,000, so a point read can skip row
groups by their statistics.

Every value is a function of a numpy ``Generator`` seeded with ``seed``, so
the same (seed, sf) gives byte-identical files. The dataset is built once per
checkout into a cache directory and published with an atomic rename.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generator's output changes, so stale caches are not reused
VERSION = 2

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "red", "hot", "cold", "old", "large", "small", "green", "dark"]
_NOUN = ["anvil", "ring", "bolt", "plate", "gear", "widget", "rod"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.42, 0.16, 0.14, 0.14]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: str, offsets: np.ndarray) -> np.ndarray:
    return (np.datetime64(base, "D") + offsets.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """Build every table in memory."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = int(50_000 * sf)
    n_vec = int(20_000 * sf)
    out: dict[str, pd.DataFrame] = {}

    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": _REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype="int64")
    out["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(_STATUS, n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n_ord)),
            "o_orderpriority": rng.choice(_PRIORITY, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_line).astype("float64")
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n_line)),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(60.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.05:
            # near duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, len(texts)))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(8, 100)))))
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centroids[labels] + rng.normal(0.0, 0.08, (n_vec, 64))).astype("float32")
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype="int64"),
            "embedding": list(vecs),
            "label": labels.astype("int32"),
        }
    )
    return out


def _arrow(name: str, df: pd.DataFrame) -> pa.Table:
    if name == "embeddings":
        schema = pa.schema(
            [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
             ("label", pa.int32())]
        )
        return pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    return pa.Table.from_pandas(df, preserve_index=False)


#: versioned tables: name -> attached columns besides ``value``
VERSIONED = {"fresh_reads": ["kv"], "fresh_rescore": ["pscore", "mscore"]}


def _versioned(src: str, dest: str, copies: list[str]) -> None:
    import duckdb

    extra = "".join(f", value_versions AS {c}_versions" for c in copies)
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          SELECT *{extra} FROM (
            SELECT l_orderkey AS entity_id,
              list(struct_pack(ts := epoch_ms(l_shipdate) + l_linenumber,
                               value := l_extendedprice)
                   ORDER BY epoch_ms(l_shipdate) + l_linenumber DESC,
                            l_extendedprice DESC) AS value_versions,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS feat_total,
              CAST(COUNT(*) AS DOUBLE) AS feat_lines,
              l_orderkey % 5 AS seg
            FROM read_parquet('{src}') GROUP BY l_orderkey)
          ORDER BY entity_id
        ) TO '{dest}' (FORMAT parquet, ROW_GROUP_SIZE 10000)
    """)
    con.close()


def ensure(cache_root: str, seed: int = 42, sf: float = 0.1) -> str:
    """Return the dataset directory for (seed, sf), building it if absent."""
    dest = os.path.join(cache_root, f"sf{sf}-seed{seed}-v{VERSION}")
    if os.path.isdir(dest):
        return dest
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{dest}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, df in tables(seed, sf).items():
        pq.write_table(_arrow(name, df), os.path.join(tmp, f"{name}.parquet"))
    for name, copies in VERSIONED.items():
        _versioned(os.path.join(tmp, "lineitem.parquet"),
                   os.path.join(tmp, f"{name}.parquet"), copies)
    try:
        os.rename(tmp, dest)
    except OSError:  # another run published it first
        shutil.rmtree(tmp, ignore_errors=True)
    return dest
