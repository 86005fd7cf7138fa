"""Seeded input generators for the pipeline benchmark.

Everything the engine sees in a run comes from here:

* ``tables``   -- the star-schema tables in the testdata layout (one parquet
  file per table).  The rows come from a fixed base draw and are then
  permuted by the workload seed, so every seed does the same logical work.
* ``corpus``   -- the ``documents`` table.  A fixed base corpus with planted
  near-duplicates and shared passages, rewritten by a seed-keyed letter
  rotation that keeps every length and the duplicate structure.
* ``api_payloads`` -- the rows a synthetic paginated API serves per
  (dataset, target date) for the four landed datasets, staged as JSON
  lines by ``write_payloads``, which also returns the raw payload bytes
  (the denominator of ``bytes_per_user_byte``).
* ``failure_plan`` -- the seeded 401s (healed by the catch-up pass) and
  429s (retried) the API answers.

``expected_landing`` gives the exact per dataset-date counts and sums the
landed tables must hold.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "spring"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = ["alpha", "beam", "cache", "delta", "edge", "flow", "grid", "heap",
         "index", "join", "key", "log", "map", "node", "open", "page",
         "queue", "rank", "shard", "tree", "unit", "view", "word", "zone",
         "batch", "merge", "scan", "sort", "table", "value", "the", "a"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
DATASETS = ["orders", "lineitem", "customer", "events"]

# rows per table per unit of `scale` (scale 1 = the testdata sf0.001 sizes)
TABLE_ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
              "events": 1000, "users": 15}


def _ts(days):
    """Days since 1970-01-01 (float) -> numpy datetime64[us]."""
    return (np.asarray(days) * 86400e6).astype("int64").astype("datetime64[us]")


def _day(s):
    return (dt.date.fromisoformat(s) - dt.date(1970, 1, 1)).days


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(scale):
    """The fixed base draw: dict of table name -> pyarrow.Table."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = TABLE_ROWS["customer"] * scale
    n_supp = TABLE_ROWS["supplier"] * scale
    n_part = TABLE_ROWS["part"] * scale
    n_ord = TABLE_ROWS["orders"] * scale
    n_ev = TABLE_ROWS["events"] * scale
    n_users = TABLE_ROWS["users"] * scale
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{COLORS[i % 7]} {NOUNS[(i // 7) % 6]}"
                   for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    d0, d1 = _day("1995-01-01"), _day("2001-08-01")
    odays = rng.integers(d0, d1 + 1, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(odays),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _cents(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odays, lines)
                          + rng.integers(1, 121, n_li))})
    ev_days = np.sort(rng.uniform(_day("2024-01-01"), _day("2024-01-31"), n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_days),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _cents(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return t


def base_corpus(n_docs):
    """Fixed base corpus: random word runs plus planted near-duplicates
    (a copy of an earlier document with one word appended or replaced)
    and shared passages (a 24-word run of an earlier document spliced
    into a fresh one)."""
    rng = np.random.default_rng(BASE_SEED + 1)
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i >= 10 and r < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words = words + ["dup"]
            else:
                words[int(rng.integers(0, len(words)))] = "dup"
        elif i >= 10 and r < 0.16:
            src = texts[int(rng.integers(0, i))].split()
            start = int(rng.integers(0, max(1, len(src) - 24)))
            words = ([VOCAB[k] for k in rng.integers(0, len(VOCAB), 6)]
                     + src[start:start + 24]
                     + [VOCAB[k] for k in rng.integers(0, len(VOCAB), 8)])
        else:
            words = [VOCAB[k] for k in
                     rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    langs = [LANGS[k] for k in rng.choice(len(LANGS), n_docs, p=LANG_P)]
    return texts, langs


def rotate(text, k):
    """Caesar-rotate lowercase letters by k; spaces and lengths kept."""
    return "".join(chr((ord(c) - 97 + k) % 26 + 97) if "a" <= c <= "z" else c
                   for c in text)


def corpus(seed, n_docs):
    texts, langs = base_corpus(n_docs)
    k = 1 + seed % 25
    texts = [rotate(t, k) for t in texts]
    order = np.random.default_rng(seed).permutation(n_docs)
    return pa.table({
        "doc_id": pa.array(order, pa.int64()),
        "text": [texts[i] for i in order],
        "lang": [langs[i] for i in order],
        "source": [f"src{i % 20}" for i in order],
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64())})


def tables(seed, scale, n_docs):
    """All staged tables for one seed: the base draw, rows permuted."""
    rng = np.random.default_rng(seed)
    out = {}
    for name, tbl in base_tables(scale).items():
        out[name] = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
    out["documents"] = corpus(seed, n_docs)
    return out


def write_tables(tbls, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tbls.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- landing

def dates_from(start, n):
    d = dt.date.fromisoformat(start)
    return [(d + dt.timedelta(days=i)).isoformat() for i in range(n)]


def api_payloads(seed, dates, rows_per_date):
    """Per-dataset rows for every target date: dict dataset -> pyarrow
    table carrying the landed schema plus ``target_date``.

    Keys are unique per dataset across all dates; every order references
    a customer landed on or before its date, and every line item an order
    of the same date, so the landed history joins the way the refresh
    programs expect."""
    rng = np.random.default_rng(seed)
    per = {d: {} for d in DATASETS}
    cust_seen = 0
    okey = lkey = ekey = 0
    for day in dates:
        n_c = rows_per_date["customer"]
        ck = np.arange(cust_seen, cust_seen + n_c)
        cust_seen += n_c
        per["customer"][day] = {
            "c_custkey": ck,
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_c)],
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_c)}
        n_o = rows_per_date["orders"]
        ok = np.arange(okey, okey + n_o)
        okey += n_o
        per["orders"][day] = {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, cust_seen, n_o),
            "o_totalprice": _cents(rng, 1000, 500000, n_o),
            "o_orderdate": [day] * n_o}
        n_l = rows_per_date["lineitem"]
        per["lineitem"][day] = {
            "l_rowid": np.arange(lkey, lkey + n_l),
            "l_orderkey": rng.choice(ok, n_l),
            "l_quantity": rng.integers(1, 51, n_l).astype("float64"),
            "l_extendedprice": _cents(rng, 900, 105000, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0}
        lkey += n_l
        n_e = rows_per_date["events"]
        per["events"][day] = {
            "event_id": np.arange(ekey, ekey + n_e),
            "user_id": rng.integers(0, 50, n_e),
            "ts": _ts(np.sort(_day(day) + rng.uniform(0, 1, n_e))),
            "value": _cents(rng, 0.01, 490.0, n_e)}
        ekey += n_e
    out = {}
    for ds, by_day in per.items():
        cols = {}
        for day in dates:
            for c, v in by_day[day].items():
                cols.setdefault(c, []).append(np.asarray(v))
            n = len(next(iter(by_day[day].values())))
            cols.setdefault("target_date", []).append(np.array([day] * n))
        out[ds] = pa.table({c: np.concatenate(v) for c, v in cols.items()})
    return out


KEY_COL = {"orders": "o_orderkey", "lineitem": "l_rowid",
           "customer": "c_custkey", "events": "event_id"}
VALUE_COL = {"orders": "o_totalprice", "lineitem": "l_extendedprice",
             "customer": "c_acctbal", "events": "value"}


def expected_landing(payloads):
    """Exact per (dataset, date) figures: rows, sum of keys, sum of the
    value column in integer cents."""
    exp = {}
    for ds, tbl in payloads.items():
        days = tbl.column("target_date").to_numpy(zero_copy_only=False)
        keys = tbl.column(KEY_COL[ds]).to_numpy()
        cents = np.round(tbl.column(VALUE_COL[ds]).to_numpy() * 100).astype("int64")
        for day in np.unique(days):
            m = days == day
            exp[f"{ds}/{day}"] = [int(m.sum()), int(keys[m].sum()),
                                  int(cents[m].sum())]
    return exp


def failure_plan(seed, dates, unauthorized_per_date, throttled_per_date):
    """Failures, the same number on every date: ``unauthorized``
    dataset-dates answer 401 until the catch-up pass heals them;
    ``throttled`` ones answer 429 one or two times (seeded) before
    succeeding. Which datasets fail rotates with the date's position, not
    the seed, so every seed lands the same mix of failing and healthy
    dataset-dates and the per dataset-date latencies stay comparable."""
    rng = np.random.default_rng(seed + 7919)
    unauth, throttled = [], {}
    n = len(DATASETS)
    for k, d in enumerate(dates):
        order = [DATASETS[(k + j) % n] for j in range(n)]
        unauth += [f"{ds}/{d}" for ds in order[:unauthorized_per_date]]
        for ds in order[unauthorized_per_date:
                        unauthorized_per_date + throttled_per_date]:
            throttled[f"{ds}/{d}"] = int(rng.integers(1, 3))
    return {"unauthorized": sorted(unauth), "throttled": throttled}


def write_payloads(payloads, out_dir):
    """Stage the API payloads as JSON lines, one file per dataset, one
    object per row (timestamps as ISO strings) -- the bytes the API would
    send. Returns the payload bytes per "<dataset>/<date>"."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for ds, tbl in payloads.items():
        with open(os.path.join(out_dir, f"{ds}.jsonl"), "w") as f:
            for row in tbl.to_pylist():
                line = json.dumps(row, default=str, separators=(",", ":")) + "\n"
                f.write(line)
                cell = f"{ds}/{row['target_date']}"
                sizes[cell] = sizes.get(cell, 0) + len(line)
    return sizes
