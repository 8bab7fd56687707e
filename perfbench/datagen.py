"""Deterministic inputs for the benchmark.

``star_tables`` writes the ten star-schema tables the registry queries
read (region … embeddings), with the schemas, value domains and
row-count ratios of the project's synthetic test data: the fact and
stream tables scale with ``sf``; documents and embeddings keep a
500-row floor.  The tables depend only on ``sf`` (a fixed generator
seed), so every run of a workload reads the same bytes.

``medallion_source`` writes the orders source the medallion workload
ingests and the upsert batches it merges; both depend on the run seed.
Everything is numpy + pyarrow — no Spark — so inputs exist before the
engine starts and are byte-identical for a given seed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()
STAR_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts_us(a: np.ndarray) -> pa.Array:
    """datetime64[us] → parquet TIMESTAMP(MICROS, isAdjustedToUTC=false)."""
    return pa.array(a.astype("datetime64[us]"), type=pa.timestamp("us"))


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _star_arrays(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(STAR_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _ts_us(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts_us(_days(rng, n_li, "1995-01-02", "2001-11-04")),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = _EPOCH + np.sort(rng.integers(0, month_us, n_ev)).astype("timedelta64[us]")
    ts = ts + (np.datetime64("2024-01-01T00:00:00", "us") - _EPOCH)
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts_us(ts),
            "user_id": rng.integers(0, max(150, int(15_000 * sf)), n_ev).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.05:
            # near duplicate: an earlier document plus one marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(_VOCAB)[rng.integers(0, len(_VOCAB), n)]))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return out


def star_tables(dest: str, sf: float) -> str:
    """Write the star-schema tables under ``dest`` once; later calls
    reuse them.  The directory appears atomically (written beside it,
    then renamed), so an interrupted run never leaves a partial set."""
    if os.path.isfile(os.path.join(dest, "_COMPLETE")):
        return dest
    tmp = f"{dest}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _star_arrays(sf).items():
        _write(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
    os.rename(tmp, dest)
    return dest


def medallion_source(
    orders_path: str,
    dest: str,
    seed: int,
    copies: int,
    batches: int,
    batch_rows: int,
    dup_rows: int,
) -> dict:
    """Write the medallion inputs for ``seed`` under ``dest``.

    - ``source.parquet``: ``orders`` replicated ``copies`` times with
      disjoint keys (copy c adds c·N to every key) and seeded ±5 %
      price jitter, plus ``dup_rows`` exact duplicate rows for the
      silver dedup to remove.
    - ``batch_NN.parquet``: upsert batches in silver's column layout;
      half of each batch updates existing keys (new price and status),
      half inserts keys past the source range.  Keys never repeat
      within a batch, so every MERGE is well defined.
    """
    rng = np.random.default_rng([seed, 7919])
    base = pq.read_table(orders_path)
    n = base.num_rows
    keys = np.concatenate(
        [base["o_orderkey"].to_numpy() + c * n for c in range(copies)]
    )
    price = np.tile(base["o_totalprice"].to_numpy(), copies)
    price = np.round(price * rng.uniform(0.95, 1.05, price.size), 2)
    cols = {
        "o_orderkey": keys,
        "o_custkey": np.tile(base["o_custkey"].to_numpy(), copies),
        "o_orderstatus": np.tile(base["o_orderstatus"].to_numpy(zero_copy_only=False), copies),
        "o_totalprice": price,
        "o_orderdate": np.tile(
            base["o_orderdate"].to_numpy().astype("datetime64[us]"), copies
        ),
        "o_orderpriority": np.tile(
            base["o_orderpriority"].to_numpy(zero_copy_only=False), copies
        ),
    }
    dup_idx = rng.choice(keys.size, dup_rows, replace=False)
    order = rng.permutation(keys.size + dup_rows)
    rows = np.concatenate([np.arange(keys.size), dup_idx])[order]
    src = pa.table(
        {
            k: (_ts_us(v[rows]) if k == "o_orderdate" else v[rows])
            for k, v in cols.items()
        }
    )
    os.makedirs(dest, exist_ok=True)
    src_path = os.path.join(dest, "source.parquet")
    _write(src, src_path)

    batch_paths = []
    next_key = int(keys.max()) + 1
    for b in range(batches):
        n_upd = batch_rows // 2
        n_ins = batch_rows - n_upd
        upd_keys = rng.choice(keys.size, n_upd, replace=False)
        ins_keys = np.arange(next_key, next_key + n_ins, dtype=np.int64)
        next_key += n_ins
        pick = np.concatenate([upd_keys, rng.integers(0, keys.size, n_ins)])
        odate = cols["o_orderdate"][pick]
        batch = pa.table(
            {
                "o_orderkey": np.concatenate([keys[upd_keys], ins_keys]),
                "o_custkey": cols["o_custkey"][pick],
                "o_orderstatus": np.array(["f", "o", "p"])[
                    rng.integers(0, 3, batch_rows)
                ],
                "o_totalprice": _money(rng, batch_rows, 1000.0, 500_000.0),
                "o_orderdate": _ts_us(odate),
                "o_orderpriority": cols["o_orderpriority"][pick],
                "order_date": pa.array(
                    odate.astype("datetime64[D]"), type=pa.date32()
                ),
            }
        )
        path = os.path.join(dest, f"batch_{b:02d}.parquet")
        _write(batch, path)
        batch_paths.append(path)
    return {"source": src_path, "batches": batch_paths}


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (0 if it is absent)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total
