"""Output checks for the graft benchmark, run after the harness JVM exits.

Each check returns a list of failure strings (empty = pass):

  query_mix      every query's check-pass output against its registry
                 oracle SQL run in DuckDB: rows + schema + value hash over
                 columns sorted by name (the rule of tools/compare_oracle.py);
                 a query without an oracle must return rows
  etl_dag        loaded and stored row counts, the quarantine count and both
                 views against ground truth computed in DuckDB from the clean
                 frames the generator wrote before injecting dirt
  table_churn    every read (point lookup, time travel, change feed) and the
  stream_upsert  final version against an independent model that applies the
                 same batches last-wins by key
"""
import glob
import hashlib
import json
import os
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pandas as pd
import pyarrow.parquet as pq

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]


# ------------------------------------------------------------- frame compare

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert(None)
        if df[c].dtype.kind == "M":
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for c in df.columns:
        s = df[c]
        vals = s.round(6).astype(str) if s.dtype.kind == "f" else s.astype(str)
        h.update("|".join(vals.tolist()).encode())
    return h.hexdigest()


def compare_frames(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list:
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return [f"{name}: columns {list(g.columns)} != {list(w.columns)}"]
    if len(g) != len(w):
        return [f"{name}: rows {len(g)} != {len(w)}"]
    if value_hash(g) != value_hash(w):
        return [f"{name}: value hash differs"]
    return []


def read_dir(path: str) -> pd.DataFrame:
    files = sorted(glob.glob(f"{path}/*.parquet"))
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


# ---------------------------------------------------------------- query_mix

def check_queries(check: dict, star_dir: str) -> list:
    out = check["dir"]
    oracles = json.load(open(f"{out}/oracle_sql.json"))
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')")
    fails = []
    for name in check["queries"]:
        if not os.path.isdir(f"{out}/{name}"):
            fails.append(f"{name}: no output")
            continue
        got = read_dir(f"{out}/{name}")
        if name not in oracles:
            if len(got) == 0:
                fails.append(f"{name}: rows-only query returned no rows")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            fails.append(f"{name}: oracle error {e}")
            continue
        fails += compare_frames(name, got, want)
    return fails


# ------------------------------------------------------------------ etl_dag

ORDER_SUMMARY_SQL = """
WITH items AS (
  SELECT l_orderkey, count(*) AS item_count,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,6))),2) AS DOUBLE) AS total_price,
         CAST(round(sum(CAST(l_extendedprice*l_discount AS DECIMAL(30,6))),2) AS DOUBLE) AS total_discount
  FROM order_items GROUP BY l_orderkey)
SELECT o_orderkey, o_orderstatus, o_orderdate, c_name, n_name AS nation,
       coalesce(item_count, 0) AS item_count,
       coalesce(total_price, 0.0) AS total_price,
       coalesce(total_discount, 0.0) AS total_discount
FROM orders
LEFT JOIN customers ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN items ON o_orderkey = items.l_orderkey
"""

# avg_order_price is left unrounded here: see half_up_of_double
DELIVERY_PERFORMANCE_SQL = """
SELECT n_name AS nation, count(*) AS total_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) / count(o_totalprice)
         AS avg_order_price,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS fulfilled_count,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS pending_count,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS open_count
FROM orders
JOIN customers ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def half_up_of_double(x: float, places: int) -> float:
    """Round a double as the program's `Analytics.moneyAvg` documents it:
    half-up on the double's decimal form. DuckDB's round(double) scales
    by 10^places first, which can land a quotient just below a tie (e.g.
    92363295.33 / 360 = 256564.70924999998...) exactly on it and round it
    up; the program rounds that double down.
    """
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def etl_truth(etl_dir: str) -> dict:
    """Ground truth from the clean frames: row counts and both views."""
    con = duckdb.connect()
    for t in ["orders", "customers", "order_items"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{etl_dir}/clean/{t}.parquet')")
    con.execute(f"CREATE VIEW nation AS SELECT * FROM read_parquet('{etl_dir}/in/nation.parquet')")
    counts = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
              for t in ["orders", "customers", "order_items"]}
    truth = json.load(open(f"{etl_dir}/truth.json"))
    perf = con.execute(DELIVERY_PERFORMANCE_SQL).df()
    perf["avg_order_price"] = [half_up_of_double(x, 4) for x in perf["avg_order_price"]]
    return {"counts": counts, "quarantined": truth["quarantined"],
            "v_order_summary": con.execute(ORDER_SUMMARY_SQL).df(),
            "v_delivery_performance": perf}


def check_etl(check: dict, etl_dir: str) -> list:
    truth = etl_truth(etl_dir)
    fails = []
    if check["aborted"]:
        fails.append("etl: a gate aborted a load")
    for kind in ["loaded", "stored"]:
        for t, n in truth["counts"].items():
            if check[kind].get(t) != n:
                fails.append(f"etl: {kind} {t} = {check[kind].get(t)}, expected {n}")
    if check["quarantined"] != truth["quarantined"]:
        fails.append(f"etl: quarantined {check['quarantined']}, expected {truth['quarantined']}")
    for v in ["v_order_summary", "v_delivery_performance"]:
        fails += compare_frames(v, read_dir(f"{check['views']}/{v}"), truth[v])
    return fails


# ------------------------------------------------- table_churn / stream_upsert

class KeyedModel:
    """Last-wins-by-key state with an order-free digest kept incrementally:
    (rows, total cents, sum of key*1000003 + cents*31 + ord(status) + version*7).
    """

    def __init__(self):
        self.rows = {}
        self.count = self.cents = self.hash = 0

    @staticmethod
    def _cents(price: float) -> int:
        return int((price * 100) // 1 + (1 if (price * 100) % 1 >= 0.5 else 0))

    def _contrib(self, key, row):
        status, cents, version = row
        return cents, key * 1000003 + cents * 31 + ord(status) + version * 7

    def apply(self, table: pd.DataFrame) -> tuple:
        """Upsert a batch; returns (inserted, updated) key counts."""
        ins = upd = 0
        for key, status, price, version in zip(
                table["o_orderkey"].tolist(), table["o_orderstatus"].tolist(),
                table["o_totalprice"].tolist(), table["version"].tolist()):
            row = (status, self._cents(price), version)
            old = self.rows.get(key)
            if old is None:
                ins += 1
                self.count += 1
            else:
                upd += 1
                c, h = self._contrib(key, old)
                self.cents -= c
                self.hash -= h
            c, h = self._contrib(key, row)
            self.cents += c
            self.hash += h
            self.rows[key] = row
        return ins, upd

    def digest(self) -> tuple:
        return self.count, self.cents, self.hash


def batch_frame(path: str) -> pd.DataFrame:
    return pq.read_table(path, columns=["o_orderkey", "o_orderstatus", "o_totalprice",
                                        "version"]).to_pandas()


def check_churn(checks: list, churn_dir: str) -> list:
    need = max([c.get("batches", 0) for c in checks] +
               [c["batch"] + 1 for c in checks if c["kind"] == "changes"] + [0])
    model = KeyedModel()
    model.apply(read_dir(f"{churn_dir}/seed"))
    digests, changes = [model.digest()], []
    for b in range(need):
        changes.append(model.apply(read_dir(f"{churn_dir}/batches/b{b:05d}")))
        digests.append(model.digest())
    # point lookups need the state as of their step: replay again, in order
    points = sorted((c for c in checks if c["kind"] == "point"), key=lambda c: c["batches"])
    replay = KeyedModel()
    replay.apply(read_dir(f"{churn_dir}/seed"))
    applied, fails = 0, []
    for c in points:
        while applied < c["batches"]:
            replay.apply(read_dir(f"{churn_dir}/batches/b{applied:05d}"))
            applied += 1
        status, cents, version = replay.rows[c["key"]]
        got = c["rows"]
        if len(got) != 1 or (got[0][1], KeyedModel._cents(got[0][2]), got[0][3]) != (status, cents, version):
            fails.append(f"churn: point lookup {c['key']} after {c['batches']} batches = {got}, "
                         f"expected {[c['key'], status, cents / 100, version]}")
    for c in checks:
        if c["kind"] == "at":
            want = digests[c["batches"]]
            if (c["count"], c["cents"], c["hash"]) != want:
                fails.append(f"churn: version {c['version']} ({c['batches']} batches) digest "
                             f"{(c['count'], c['cents'], c['hash'])}, expected {want}")
        elif c["kind"] == "changes":
            ins, upd = changes[c["batch"]]
            want = {"insert": ins, "update_preimage": upd, "update_postimage": upd}
            got = {k: v for k, v in c["changes"].items() if v}
            if got != {k: v for k, v in want.items() if v}:
                fails.append(f"churn: changes of batch {c['batch']} = {got}, expected {want}")
    return fails


def check_stream(checks: list, stream_dir: str) -> list:
    files = sorted(glob.glob(f"{stream_dir}/b*.parquet"))
    model, digests = KeyedModel(), [(0, 0, 0)]
    for f in files:
        model.apply(batch_frame(f))
        digests.append(model.digest())
    fails = []
    for c in checks:
        want = digests[c["batches"]]
        if (c["count"], c["cents"], c["hash"]) != want:
            fails.append(f"stream: state after {c['batches']} batches digest "
                         f"{(c['count'], c['cents'], c['hash'])}, expected {want}")
    return fails


def run_checks(workload: str, checks: list, data_dir: str) -> list:
    if workload == "query_mix":
        return [f for c in checks for f in check_queries(c, f"{data_dir}/star")]
    if workload == "etl_dag":
        return [f for c in checks for f in check_etl(c, f"{data_dir}/etl")]
    if workload == "table_churn":
        return check_churn(checks, f"{data_dir}/churn")
    if workload == "stream_upsert":
        return check_stream(checks, f"{data_dir}/stream")
    raise ValueError(workload)
