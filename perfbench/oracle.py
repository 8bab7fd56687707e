"""DuckDB expectations for every benchmark output.

Query workloads reuse each registry entry's own oracle SQL and the
project's order-insensitive comparison (``tools/check_oracle.py``'s
``compare``/``norm_frame``, imported unchanged).  The medallion
workload's expectations are computed here from the seeded source and
batch files: silver after dedup, gold daily KPIs and segment demand,
silver after every upsert (row count, key set, exact price sum), and
the answers to the read-back phase.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import pickle
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pandas as pd

CENT = Decimal("0.01")


def load_check_oracle(root: str):
    """Import ``tools/check_oracle.py`` from the checkout by path."""
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def query_oracles(registry, names: list[str], sf_dir: str, tables) -> dict:
    """Each query's expected result frame.  The frames depend only on the
    generated tables and the oracle SQL, so they are computed once per
    checkout and kept beside the tables, keyed by a hash of the SQL."""
    key = hashlib.sha256(
        json.dumps([[n, registry[n].sql] for n in names]).encode()).hexdigest()
    path = os.path.join(f"{sf_dir}-oracle", f"{key[:24]}.pkl")
    if os.path.isfile(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    con = _connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    frames = {n: con.sql(registry[n].sql).df() for n in names}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(frames, f)
    os.replace(tmp, path)
    return frames


def _round2(x: float) -> float:
    """Spark's ``round(double, 2)``: HALF_UP on the double's shortest
    decimal representation."""
    return float(Decimal(repr(x)).quantize(CENT, rounding=ROUND_HALF_UP))


def price_sum(v) -> Decimal:
    """Exact decimal(…,2) sum as DuckDB and Spark both compute it."""
    return Decimal(str(v)) if v is not None else Decimal(0)


class MedallionOracle:
    """Expected lake state for one seeded source and its batches."""

    def __init__(self, source: str, batches: list[str], ranges: list[tuple]):
        con = _connect()
        con.sql(f"CREATE VIEW src AS SELECT * FROM '{source}'")
        con.sql("CREATE TABLE silver0 AS SELECT DISTINCT * FROM src")
        union = " UNION ALL ".join(
            f"SELECT o_orderkey, o_totalprice, o_orderpriority, {i} AS bi "
            f"FROM '{p}'" for i, p in enumerate(batches)
        )
        con.sql(
            f"""CREATE TABLE final AS
            WITH b AS ({union}),
            last AS (SELECT * FROM b QUALIFY row_number() OVER
                     (PARTITION BY o_orderkey ORDER BY bi DESC) = 1)
            SELECT o_orderkey, o_totalprice, o_orderpriority FROM last
            UNION ALL
            SELECT o_orderkey, o_totalprice, o_orderpriority FROM silver0
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM last)"""
        )
        dec = "CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS VARCHAR)"
        self.silver0 = self._count_sum(con, "silver0", dec)
        self.final = self._count_sum(con, "final", dec)
        self.final_keys = con.sql(
            "SELECT o_orderkey FROM final ORDER BY 1").df()["o_orderkey"].to_numpy()
        self.by_priority = {
            r[0]: (r[1], price_sum(r[2]))
            for r in con.sql(
                f"SELECT o_orderpriority, COUNT(*), {dec} FROM final GROUP BY 1"
            ).fetchall()
        }
        self.ranges = [
            self._count_sum(
                con, f"final WHERE o_orderkey BETWEEN {lo} AND {hi}", dec)
            for lo, hi in ranges
        ]
        daily = con.sql(
            f"""SELECT CAST(o_orderdate AS DATE) AS order_date,
                       COUNT(*) AS daily_order_count, {dec} AS s
                FROM silver0 GROUP BY 1"""
        ).df()
        seg = con.sql(
            f"""SELECT CAST(o_orderdate AS DATE) AS order_date, o_orderpriority,
                       COUNT(*) AS order_count, {dec} AS s
                FROM silver0 GROUP BY 1, 2"""
        ).df()
        self.gold_daily = self._finish(
            daily, {"daily_total_revenue": None, "avg_order_value": "daily_order_count"})
        self.gold_segment = self._finish(seg, {"total_revenue": None})

    @staticmethod
    def _count_sum(con, rel: str, dec: str) -> tuple[int, Decimal]:
        n, s = con.sql(f"SELECT COUNT(*), {dec} FROM {rel}").fetchone()
        return int(n), price_sum(s)

    @staticmethod
    def _finish(df: pd.DataFrame, cols: dict) -> pd.DataFrame:
        """Gold's double columns: the exact decimal sum converted to
        double (correctly rounded), optionally divided by a count, then
        rounded to cents as Spark does."""
        total = df["s"].map(lambda v: float(Decimal(v)))
        for name, per in cols.items():
            vals = total if per is None else total / df[per]
            df[name] = vals.map(_round2)
        return df.drop(columns=["s"])
