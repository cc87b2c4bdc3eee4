"""Deterministic input generation for the graft benchmark.

Every input a workload feeds the program is produced here from the run's
seed: the same seed writes byte-identical files, another seed writes
different ones. Nothing is read from outside the output directory.

  star/     TPC-H-shaped star schema plus events, documents and embeddings,
            the layout `SparkEntry`'s registry queries read (query_mix)
  etl/      dirty orders CSV, customers CSV, carts JSON, the nation dim, and
            the clean frames the dirt was injected into (etl_dag ground truth)
  churn/    the seed table and the keyed merge batches (table_churn)
  stream/   the keyed upsert batches of one stream round (stream_upsert)

Usage: python3 perfbench/datagen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sizes: rows of each generated input
STAR_SF = 0.01            # star schema scale (15k orders, 60k lineitems)
ETL_BASE_ORDERS = 4_000  # orders before amplification
ETL_AMPLIFY = 2           # key-remapped copies of the base
ETL_CUSTOMERS = 1_000     # customers per copy
ETL_DIRT = 0.04           # share of rows duplicated / nulled / padded
CHURN_ROWS = 60_000       # seed table
CHURN_BATCH = 600         # rows per merge batch (1 % of the table)
CHURN_NEW_SHARE = 0.2     # new orders in a batch; the rest update recent ones
CHURN_BATCHES = 400       # pre-generated; a run uses as many as it has time for
STREAM_BATCHES = 4       # batches in one stream round
STREAM_STATE = 150_000    # keys in the state after the last batch of a round
STREAM_UPDATES = 0.25     # updates to existing keys, as a share of a batch's new keys

NATIONS = 25
STATUS = np.array(["F", "O", "P"])
PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
SHIP_MODES = np.array(["AIR", "RAIL", "TRUCK", "SHIP", "MAIL"])
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "s")

PQ_OPTS = dict(compression="snappy", write_statistics=True)


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, **PQ_OPTS)


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts_us(seconds_since_1995: np.ndarray) -> pa.Array:
    vals = (EPOCH_1995 + seconds_since_1995.astype("timedelta64[s]")).astype("datetime64[us]")
    return pa.array(vals, type=pa.timestamp("us"))


def ts_strings(seconds_since_1995: np.ndarray) -> np.ndarray:
    vals = EPOCH_1995 + seconds_since_1995.astype("timedelta64[s]")
    return np.char.replace(np.datetime_as_string(vals, unit="s").astype(str), "T", " ")


# --------------------------------------------------------------------- star

WORDS = np.array(("key agg row scan slow fast table value part hash a merge batch "
                  "spark the line sort window order data column join small customer "
                  "query big stream group filter vector dup").split())
PART_ADJ = np.array(["small", "red", "blue", "hot", "old", "large", "green", "cold"])
PART_NOUN = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "pipe", "valve"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en"] * 4 + ["de", "es", "fr", "zh"])


def gen_star(out: str, rng: np.random.Generator, sf: float = STAR_SF) -> None:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = n_emb = int(50_000 * sf)
    i32 = lambda a: pa.array(a, type=pa.int32())
    i64 = lambda a: pa.array(a, type=pa.int64())
    write_parquet(pa.table({
        "r_regionkey": i32(np.arange(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    write_parquet(pa.table({
        "n_nationkey": i32(np.arange(NATIONS)),
        "n_name": [f"NATION_{i}" for i in range(NATIONS)],
        "n_regionkey": i32(np.arange(NATIONS) % 5)}), f"{out}/nation.parquet")
    write_parquet(pa.table({
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, NATIONS, n_cust)),
        "c_acctbal": money(rng, -999, 9999, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]}), f"{out}/customer.parquet")
    write_parquet(pa.table({
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, NATIONS, n_supp)),
        "s_acctbal": money(rng, -999, 9999, n_supp)}), f"{out}/supplier.parquet")
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    write_parquet(pa.table({
        "p_partkey": i64(np.arange(n_part)),
        "p_name": np.char.add(np.char.add(PART_ADJ[adj], " "), PART_NOUN[noun]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")
    odate = rng.integers(0, 2404, n_ord) * 86400
    write_parquet(pa.table({
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": STATUS[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000, 500_000, n_ord),
        "o_orderdate": ts_us(odate),
        "o_orderpriority": PRIORITY[rng.integers(0, 5, n_ord)]}), f"{out}/orders.parquet")
    lok = np.sort(rng.integers(0, n_ord, n_line))
    first = np.r_[True, lok[1:] != lok[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    qty = rng.integers(1, 51, n_line).astype(float)
    perm = rng.permutation(n_line)
    write_parquet(pa.table({
        "l_orderkey": i64(lok[perm]),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32((np.arange(n_line) - run_start + 1)[perm]),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": ts_us(rng.integers(1, 2500, n_line) * 86400)}), f"{out}/lineitem.parquet")
    gaps = rng.exponential(259.0, n_ev)
    ev_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]"))
    write_parquet(pa.table({
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(ev_ts, type=pa.timestamp("us")),
        "user_id": i64(rng.integers(0, max(10, n_ev // 67), n_ev)),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 500, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")}),
        f"{out}/events.parquet")
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
        else:
            words = list(WORDS[rng.integers(0, len(WORDS), rng.integers(10, 100))])
        texts.append(" ".join(words))
    write_parquet(pa.table({
        "doc_id": i64(np.arange(n_doc)),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), n_doc)],
        "source": np.char.add("src", (np.arange(n_doc) % 20).astype(str)),
        "n_chars": i64(np.array([len(t) for t in texts]))}), f"{out}/documents.parquet")
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.35 + rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write_parquet(pa.table({
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": i32(labels)}), f"{out}/embeddings.parquet")


# ---------------------------------------------------------------------- etl

def amplify(base: np.ndarray, copies: int, stride: int) -> np.ndarray:
    """Tile a key column `copies` times, remapping copy i by i * stride."""
    return np.concatenate([base + i * stride for i in range(copies)])


def pad_case(rng, vals: np.ndarray, share: float) -> np.ndarray:
    """Seeded dirt on a categorical: surrounding blanks and mixed case."""
    out = vals.astype(object).copy()
    for i in np.flatnonzero(rng.random(len(vals)) < share):
        v = str(out[i])
        v = "".join(c.lower() if rng.random() < 0.5 else c for c in v)
        out[i] = " " * int(rng.integers(1, 3)) + v + " " * int(rng.integers(0, 3))
    return out


def write_csv(path: str, header: list, cols: list) -> None:
    """Plain CSV, empty field = null. Values never contain a comma."""
    rows = [",".join("" if v is None else str(v) for v in r) for r in zip(*cols)]
    with open(path, "w") as f:
        f.write(",".join(header) + "\n")
        f.write("\n".join(rows) + "\n")


def gen_etl(out: str, rng: np.random.Generator) -> None:
    os.makedirs(f"{out}/in/orders", exist_ok=True)
    os.makedirs(f"{out}/in/customers", exist_ok=True)
    os.makedirs(f"{out}/in/carts", exist_ok=True)
    n_base, k = ETL_BASE_ORDERS, ETL_AMPLIFY
    n_cust_base = ETL_CUSTOMERS
    # ---- clean frames: the base, amplified by key remapping
    okey = amplify(np.arange(n_base), k, n_base)
    n = len(okey)
    ocust = amplify(rng.integers(0, n_cust_base, n_base), k, n_cust_base)
    ckey = amplify(np.arange(n_cust_base), k, n_cust_base)
    nc = len(ckey)
    status = STATUS[rng.integers(0, 3, n)]
    price = money(rng, 1000, 500_000, n)
    odate_s = rng.integers(0, 2404, n) * 86400 + rng.integers(0, 86400, n)
    ship_s = odate_s + rng.integers(3600, 5 * 86400, n)
    deliv_s = ship_s + rng.integers(3600, 9 * 86400, n)
    freight = money(rng, 5, 900, n)
    prio = PRIORITY[rng.integers(0, 5, n)]
    cname = np.array([f"Customer#{i:09d}" for i in ckey])
    cnation = rng.integers(0, NATIONS, nc)
    cseg = SEGMENTS[rng.integers(0, 5, nc)]
    cbal = money(rng, -999, 9999, nc)
    csign = rng.integers(0, 2404, nc) * 86400 + rng.integers(0, 86400, nc)
    n_items = rng.integers(1, 8, n)
    it_order = np.repeat(okey, n_items)
    it_line = np.concatenate([np.arange(1, m + 1) for m in n_items])
    ni = len(it_order)
    it_part = rng.integers(0, 20_000, ni)
    it_qty = rng.integers(1, 51, ni)
    it_price = np.round(it_qty * rng.uniform(900, 2100, ni), 2)
    it_disc = np.round(rng.integers(0, 11, ni) * 0.01, 2)
    ship_mode = SHIP_MODES[rng.integers(0, 5, n)]
    city = np.char.add("CITY_", rng.integers(0, 200, n).astype(str))

    odate_str, ship_str, deliv_str = ts_strings(odate_s), ts_strings(ship_s), ts_strings(deliv_s)
    clean = f"{out}/clean"
    write_parquet(pa.table({
        "o_orderkey": okey, "o_custkey": ocust, "o_orderstatus": status,
        "o_totalprice": price,
        "o_orderdate": pa.array(odate_str.astype("datetime64[us]"), type=pa.timestamp("us"))}),
        f"{clean}/orders.parquet")
    write_parquet(pa.table({"c_custkey": ckey, "c_name": cname, "c_nationkey": cnation}),
                  f"{clean}/customers.parquet")
    write_parquet(pa.table({"l_orderkey": it_order, "l_linenumber": it_line,
                            "l_extendedprice": it_price, "l_discount": it_disc}),
                  f"{clean}/order_items.parquet")
    write_parquet(pa.table({"n_nationkey": pa.array(np.arange(NATIONS), type=pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(NATIONS)]}),
                  f"{out}/in/nation.parquet")

    # ---- dirt: every injected defect is one the clean stages remove
    d = ETL_DIRT
    o_prio = np.where(rng.random(n) < d, None, pad_case(rng, prio, d)).astype(object)
    o_freight = np.where(rng.random(n) < d, None, freight.astype(object))
    bad_ts = np.array(["n/a", "31/02/2020 25:61", "yesterday", "0000-00-00 00:00:00"])
    o_deliv = np.where(rng.random(n) < d, bad_ts[rng.integers(0, 4, n)], deliv_str)
    o_status = pad_case(rng, status, d)
    ocols = [okey.astype(object), ocust.astype(object), o_status, price.astype(object),
             odate_str, o_prio, ship_str, o_deliv, o_freight]
    dup = np.flatnonzero(rng.random(n) < d)              # exact duplicate rows
    junk = int(n * d / 4)                                # rows with a null key
    junk_cols = [np.full(junk, None, dtype=object),
                 rng.integers(0, n_cust_base, junk).astype(object),
                 STATUS[rng.integers(0, 3, junk)], money(rng, 1000, 9000, junk).astype(object),
                 odate_str[:junk], prio[:junk], ship_str[:junk], deliv_str[:junk],
                 freight[:junk].astype(object)]
    corrupt = int(n * d / 4)                             # unparseable price → quarantine
    corrupt_cols = [(okey[:corrupt] + 10 * n).astype(object), ocust[:corrupt].astype(object),
                    status[:corrupt], np.full(corrupt, "n/a", dtype=object),
                    odate_str[:corrupt], prio[:corrupt], ship_str[:corrupt],
                    deliv_str[:corrupt], freight[:corrupt].astype(object)]
    full = [np.concatenate([c, c[dup], j, x]) for c, j, x in zip(ocols, junk_cols, corrupt_cols)]
    order = rng.permutation(len(full[0]))
    with open(f"{out}/truth.json", "w") as f:
        json.dump({"quarantined": corrupt}, f)
    write_csv(f"{out}/in/orders/orders.csv",
              ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
               "o_priority", "o_shipped_at", "o_delivered_at", "o_freight"],
              [c[order] for c in full])

    c_seg = np.where(rng.random(nc) < d, None, pad_case(rng, cseg, d)).astype(object)
    c_bal = np.where(rng.random(nc) < d, None, cbal.astype(object))
    c_sign = np.where(rng.random(nc) < d, bad_ts[rng.integers(0, 4, nc)], ts_strings(csign))
    ccols = [ckey.astype(object), cname, cnation.astype(object), c_seg, c_bal, c_sign]
    cdup = np.flatnonzero(rng.random(nc) < d)
    cjunk = max(1, int(nc * d / 4))
    cjunk_cols = [np.full(cjunk, None, dtype=object), cname[:cjunk],
                  cnation[:cjunk].astype(object), cseg[:cjunk], cbal[:cjunk].astype(object),
                  ts_strings(csign[:cjunk])]
    cfull = [np.concatenate([c, c[cdup], j]) for c, j in zip(ccols, cjunk_cols)]
    corder = rng.permutation(len(cfull[0]))
    write_csv(f"{out}/in/customers/customers.csv",
              ["c_custkey", "c_name", "c_nationkey", "c_segment", "c_acctbal", "c_signup_at"],
              [c[corder] for c in cfull])

    # carts: one JSON object per order, items nested, shipping as a struct
    starts = np.r_[0, np.cumsum(n_items)]
    qty_null = rng.random(ni) < d
    lines = []
    for o in range(n):
        items = []
        for j in range(starts[o], starts[o + 1]):
            items.append('{"l_linenumber":%d,"l_partkey":%d,"l_quantity":%s,'
                         '"l_extendedprice":%s,"l_discount":%s}' % (
                             it_line[j], it_part[j], "null" if qty_null[j] else it_qty[j],
                             repr(float(it_price[j])), repr(float(it_disc[j]))))
        mode = ship_mode[o]
        if rng.random() < d:
            mode = "  " + mode.lower() + " "
        lines.append('{"l_orderkey":%d,"shipping":{"mode":"%s","city":"%s","eta":"%s"},'
                     '"items":[%s]}' % (okey[o], mode, city[o], deliv_str[o], ",".join(items)))
    dups = [lines[i] for i in np.flatnonzero(rng.random(n) < d)]
    allc = lines + dups
    corder = rng.permutation(len(allc))
    with open(f"{out}/in/carts/carts.json", "w") as f:
        f.write("\n".join(allc[i] for i in corder) + "\n")


# -------------------------------------------------------------------- churn

def keyed_state(rng, keys: np.ndarray, version: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, type=pa.int64()),
        "o_custkey": pa.array(np.asarray(keys, dtype=np.int64) * 7919 % 15_000, type=pa.int64()),
        "o_orderstatus": STATUS[rng.integers(0, 3, n)],
        "o_totalprice": money(rng, 1000, 500_000, n),
        "o_orderdate": ts_us(np.asarray(keys, dtype=np.int64) // 25 * 60),
        "version": pa.array(version, type=pa.int64())})


def recent_keys(rng, n_keys: int, count: int) -> np.ndarray:
    """Distinct keys skewed to the most recently created (a tracker feed)."""
    back = np.floor(rng.exponential(n_keys * 0.05, count * 3)).astype(np.int64)
    keys = n_keys - 1 - np.clip(back, 0, n_keys - 1)
    _, first = np.unique(keys, return_index=True)
    return keys[np.sort(first)][:count]


def gen_churn(out: str, rng: np.random.Generator) -> None:
    write_parquet(keyed_state(rng, np.arange(CHURN_ROWS), np.zeros(CHURN_ROWS, np.int64)),
                  f"{out}/seed/part-0.parquet")
    n_keys = CHURN_ROWS
    n_new = int(CHURN_BATCH * CHURN_NEW_SHARE)
    reads = []
    for b in range(CHURN_BATCHES):
        upd = recent_keys(rng, n_keys, CHURN_BATCH - n_new)
        keys = np.concatenate([upd, np.arange(n_keys, n_keys + n_new)])
        n_keys += n_new
        write_parquet(keyed_state(rng, keys, np.full(len(keys), b + 1, np.int64)),
                      f"{out}/batches/b{b:05d}/part-0.parquet")
        # the step's reads: a point lookup on one of the batch's keys, and a
        # time-travel depth that is recent half the time and old otherwise
        depth = rng.integers(1, 4) if rng.random() < 0.5 else rng.integers(4, 24)
        reads.append(f"{keys[rng.integers(0, len(keys))]} {depth}")
    with open(f"{out}/reads.txt", "w") as f:
        f.write("\n".join(reads) + "\n")


# ------------------------------------------------------------------- stream

def gen_stream(out: str, rng: np.random.Generator) -> None:
    per = STREAM_STATE // STREAM_BATCHES
    n_keys = 0
    for b in range(STREAM_BATCHES):
        new = np.arange(n_keys, n_keys + per)
        upd = (rng.choice(n_keys, min(n_keys, int(per * STREAM_UPDATES)), replace=False)
               if n_keys else np.array([], np.int64))
        n_keys += per
        keys = np.concatenate([upd, new])
        write_parquet(keyed_state(rng, keys, np.full(len(keys), b + 1, np.int64)),
                      f"{out}/b{b:05d}.parquet")


GENERATORS = {"query_mix": [("star", gen_star)], "etl_dag": [("etl", gen_etl)],
              "table_churn": [("churn", gen_churn)], "stream_upsert": [("stream", gen_stream)]}


def generate(workload: str, seed: int, out: str) -> None:
    for i, (sub, fn) in enumerate(GENERATORS[workload]):
        fn(f"{out}/{sub}", np.random.default_rng([seed, i]))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
