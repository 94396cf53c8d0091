"""Seeded input generators. The seed drives everything here; the program
under test only ever sees the files these functions write.

- ``log_records`` / ``log_expect``: behavioural-log envelopes
  (FIXTURES.md §1) and the per-topic rows the splitter must emit;
  ``write_lines`` writes them as JSON-lines files.
- ``cdc_records`` / ``cdc_fact_expect`` / ``cdc_dim_lww``: Maxwell CDC
  rows (FIXTURES.md §3), their fact rows per topic and the
  last-write-wins dim state.
- ``write_tables``: the TPC-H-ish star plus events/documents/embeddings,
  shaped like the repo's sf0.01 test tables, written as ``nparts`` parquet
  part files per table with rows in seeded order.

Every generated record carries the index of the file it was released in
(``mid`` prefix for logs, ``data._f`` for CDC), so output checks can
attribute each mismatch to one released file.
"""

from __future__ import annotations

import json
import os
import random

BASE_TS = 1_700_000_000_000  # epoch ms

TOPICS = ("DWD_ERROR_LOG", "DWD_PAGE_LOG", "DWD_PAGE_DISPLAY",
          "DWD_PAGE_ACTION", "DWD_START_LOG")

# ------------------------------------------------------------------ logs


def log_records(seed: int, file_idx: int, n: int) -> list[dict]:
    rng = random.Random(seed * 1_000_003 + file_idx)
    rows = []
    for i in range(n):
        ts = BASE_TS + file_idx * 100_000 + i
        common = {
            "ar": str(rng.randint(1, 34)),
            "ba": rng.choice(["Xiaomi", "Huawei", "iPhone", "Oneplus"]),
            "ch": rng.choice(["appstore", "web", "oppo", "xiaomi"]),
            "is_new": rng.choice(["0", "1"]),
            "md": f"model-{rng.randint(1, 9)}",
            "mid": f"f{file_idx}-{i}",
            "os": rng.choice(["Android 11", "iOS 13"]),
            "uid": str(rng.randint(1, 5000)),
            "vc": "v2.1.134",
        }
        rec = {"common": common, "ts": ts}
        if rng.random() < 0.05:
            rec["err"] = {"error_code": rng.randint(1001, 1009),
                          "msg": "Exception in thread main"}
        has_page = rng.random() < 0.8
        if has_page:
            rec["page"] = {
                "during_time": rng.randint(1000, 20000),
                "item": str(rng.randint(1, 30)), "item_type": "sku_id",
                "last_page_id": rng.choice([None, "home", "cart"]),
                "page_id": rng.choice(["home", "good_detail", "cart",
                                       "trade"]),
                "source_type": rng.choice(["promotion", "query", None])}
            displays = [{"display_type": rng.choice(["promotion", "query"]),
                         "item": str(rng.randint(1, 30)),
                         "item_type": "sku_id", "order": str(k + 1),
                         "pos_id": str(rng.randint(1, 5))}
                        for k in range(rng.randint(0, 3))]
            actions = [{"action_id": rng.choice(["favor_add", "cart_add"]),
                        "item": str(rng.randint(1, 30)),
                        "item_type": "sku_id", "ts": ts + 500}
                       for _ in range(rng.randint(0, 2))]
            if displays:
                rec["displays"] = displays
            if actions:
                rec["actions"] = actions
        if not has_page or rng.random() < 0.1:
            rec["start"] = {"entry": rng.choice(["icon", "notice"]),
                            "loading_time": rng.randint(500, 5000),
                            "open_ad_id": str(rng.randint(1, 20)),
                            "open_ad_ms": rng.randint(100, 9000),
                            "open_ad_skip_ms": rng.randint(0, 500)}
        rows.append(rec)
    return rows


def log_expect(records: list[dict]) -> dict[str, int]:
    """Per-topic row counts the splitter must emit for these records:
    err records go to the error topic only; the rest fan out by block."""
    c = dict.fromkeys(TOPICS, 0)
    for r in records:
        if "err" in r:
            c["DWD_ERROR_LOG"] += 1
            continue
        if "page" in r:
            c["DWD_PAGE_LOG"] += 1
            c["DWD_PAGE_DISPLAY"] += len(r.get("displays", ()))
            c["DWD_PAGE_ACTION"] += len(r.get("actions", ()))
        if "start" in r:
            c["DWD_START_LOG"] += 1
    return c


def write_lines(path: str, records: list[dict]) -> None:
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


# ------------------------------------------------------------------- CDC

FACT_TABLES = ["order_info", "order_detail"]
DIM_TABLES = ["user_info", "base_province"]
_CDC_TABLES = FACT_TABLES + DIM_TABLES + ["cart_info"]  # last: unrouted
_CDC_TYPES = (["insert"] * 5 + ["update"] * 3 + ["bootstrap-insert"]
              + ["delete", "ddl"])
_OP = {"insert": "I", "bootstrap-insert": "I", "update": "U"}


def cdc_records(seed: int, file_idx: int, n: int) -> list[dict]:
    """Maxwell rows. ``ts`` is unique per row, so last-write-wins is
    deterministic. Dim ids are drawn from a range far larger than a run
    writes, so the dimension snapshots grow for the whole run."""
    rng = random.Random(seed * 1_000_003 + file_idx)
    rows = []
    for i in range(n):
        t = rng.choice(_CDC_TABLES)
        rows.append({
            "database": "gmall", "table": t, "type": rng.choice(_CDC_TYPES),
            "ts": BASE_TS + file_idx * 100_000 + i,
            "data": {"id": str(rng.randint(1, 2_000_000)),
                     "name": f"r{file_idx}-{i}",
                     "amount": str(rng.randint(1, 500)),
                     "_f": str(file_idx)},
        })
    return rows


def cdc_fact_expect(records: list[dict]) -> dict[str, int]:
    """Fact rows per ``{TABLE}_{op}`` topic."""
    c: dict[str, int] = {}
    for r in records:
        op = _OP.get(r["type"])
        if op and r["table"] in FACT_TABLES:
            k = f"{r['table'].upper()}_{op}"
            c[k] = c.get(k, 0) + 1
    return c


def cdc_dim_lww(records: list[dict], state: dict | None = None) -> dict:
    """Python last-write-wins over I/U dim rows:
    {table: {id: (ts, data)}}."""
    state = state if state is not None else {t: {} for t in DIM_TABLES}
    for r in records:
        if r["type"] in _OP and r["table"] in DIM_TABLES:
            cur = state[r["table"]].get(r["data"]["id"])
            if cur is None or r["ts"] > cur[0]:
                state[r["table"]][r["data"]["id"]] = (r["ts"], r["data"])
    return state


# ---------------------------------------------------------------- tables

_PART_ADJ = ["large", "hot", "blue", "red", "small", "green", "steel",
             "brass", "cold", "fine"]
_PART_NOUN = ["ring", "bolt", "gear", "nut", "valve", "pipe", "spring",
              "plate"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE",
             "BUILDING"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = ("spark join fast window batch part line column order small sort "
          "value scan hash slow group agg filter query big key row table "
          "stream merge data a the customer vector").split()
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _tables(seed: int, sf: float) -> dict:
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), \
        int(200_000 * sf)
    n_ord, n_ev, n_doc, n_emb = int(1_500_000 * sf), int(1_000_000 * sf), \
        int(50_000 * sf), int(50_000 * sf)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts_us = pa.timestamp("us")
    d0 = np.datetime64("1995-01-01", "us")
    day = np.timedelta64(1, "D").astype("timedelta64[us]")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999, 9999, n_cust), f64),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist()})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999, 9999, n_supp), f64)})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD",
                              "PROMO"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2), f64)})

    o_date = d0 + rng.integers(0, 2404, n_ord) * day
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord).tolist(),
        "o_totalprice": pa.array(money(1000, 500_000, n_ord), f64),
        "o_orderdate": pa.array(o_date, ts_us),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist()})

    per = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord), per)
    n_li = len(l_ok)
    l_ln = np.concatenate([np.arange(1, k + 1) for k in per])
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ok, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(l_ln, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900, 2100, n_li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
        "l_shipdate": pa.array(
            o_date[l_ok] + rng.integers(1, 122, n_li) * day, ts_us)})

    # one user per ten customers, each with at least two events, so every
    # z-score group has a defined sample standard deviation
    n_user = n_cust // 10
    users = np.concatenate([np.tile(np.arange(n_user), 2),
                            rng.integers(0, n_user, n_ev - 2 * n_user)])
    rng.shuffle(users)
    ev_ts = np.sort(np.datetime64("2024-01-01", "us")
                    + rng.integers(0, 30 * 86_400_000_000, n_ev)
                    .astype("timedelta64[us]"))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts, ts_us),
        "user_id": pa.array(users, i64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
        "value": pa.array(np.round(rng.exponential(60, n_ev), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            ws = texts[int(rng.integers(0, i))].split(" ")
            ws[int(rng.integers(0, len(ws)))] = str(rng.choice(_WORDS))
        else:
            ws = rng.choice(_WORDS, int(rng.integers(15, 90))).tolist()
        texts.append(" ".join(ws))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.3 + rng.normal(0, 1, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(vecs.astype(np.float32).tolist(),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def write_tables(root: str, seed: int, sf: float, nparts: int) -> dict:
    """Write every table as ``<root>/<t>.parquet/part-NNNNN.parquet``,
    rows in a seeded order split over ``nparts`` files. Returns
    {table: the generated arrow table}."""
    import numpy as np
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 1)
    tables = _tables(seed, sf)
    for name, tbl in tables.items():
        tbl = tbl.take(rng.permutation(tbl.num_rows))
        d = os.path.join(root, f"{name}.parquet")
        os.makedirs(d)
        k = max(1, min(nparts, tbl.num_rows // 4))
        step = -(-tbl.num_rows // k)
        for p in range(k):
            pq.write_table(tbl.slice(p * step, step),
                           os.path.join(d, f"part-{p:05d}.parquet"))
    return tables
