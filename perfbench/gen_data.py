"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the catalog queries read (TPC-H-ish star schema plus
`events`, `documents` and `embeddings`) as one parquet file each, with the
schemas and value distributions of the repository's sf0.1 test tables, plus
`claims`, the lab4-shaped feed of the streaming chain. The same (seed, scale)
always writes the same rows; `scale` = 1.0 is sf0.1 size (600 k lineitems,
100 k events, 5 k documents, 100 k claims).

Usage: python3 perfbench/gen_data.py <out_dir> <seed> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
CITIES = ["Naples", "Tampa", "Miami", "Orlando", "Sarasota", "Fort Myers", "Cape Coral",
          "Jacksonville"]
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
US = 1_000_000
DAY = 86_400 * US


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(x):
    return np.round(x, 2)


def generate(out, seed, scale=1.0):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(15000 * scale), max(10, int(1000 * scale)), int(20000 * scale)
    n_ord, n_line = int(150000 * scale), int(600000 * scale)
    n_ev, n_doc, n_vec = int(100000 * scale), int(5000 * scale), int(2000 * scale)
    # the seed shifts event time by whole hours and keys by a fixed stride, so
    # each seed's windows and ids land on different boundaries
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64) + int(seed % 168) * 3600 * US
    key_off = int(seed % 1000) * 1_000_000

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust, dtype=np.int64) + key_off
    _write(out, "customer", {
        "c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out, "supplier", {
        "s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    adj, noun = rng.integers(0, len(PART_ADJ), n_part), rng.integers(0, len(PART_NOUN), n_part)
    _write(out, "part", {
        "p_partkey": pk, "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})

    ok = np.arange(n_ord, dtype=np.int64) + key_off
    odate0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    odate = odate0 + rng.integers(0, 2403, n_ord) * DAY
    _write(out, "orders", {
        "o_orderkey": ok, "o_custkey": rng.integers(0, n_cust, n_ord) + key_off,
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    lo = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": lo + key_off, "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng.uniform(900.0, 105000.0, n_line)),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(odate[lo] + rng.integers(1, 122, n_line) * DAY)})

    # events: ids ascend with event time over 30 days, distinct microsecond stamps
    span = 30 * DAY
    ts = np.sort(rng.choice(span, n_ev, replace=False)) + t0
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64) + key_off, "ts": _ts(ts),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng.exponential(50.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: 31-word vocabulary; 5% are a copy of an earlier document with
    # " dup" appended (the near-duplicate population dedup queries look for)
    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64) + key_off, "text": texts,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vec = rng.standard_normal((n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64) + key_off,
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})

    _claims(out, rng, int(100000 * scale), t0)


def _claims(out, rng, n, t0):
    """Lab4-shaped claims over 56 days in 8 cities: a steady base rate plus
    planted surges (about one 6-hour window in twelve per city, after a
    3-day warm-up) carrying 3x the claims at twice the amounts -- the spikes
    the chain's anomaly stage flags. Ids ascend with event time."""
    window, n_win = 6 * 3600 * US, 56 * 4
    surge = rng.random((len(CITIES), n_win)) < 1 / 12
    surge[:, :12] = False
    base = n / (len(CITIES) * n_win * (1 + 3 * surge.mean()))
    counts = rng.poisson(base * np.where(surge, 4.0, 1.0))
    city = np.repeat(np.repeat(np.arange(len(CITIES)), n_win), counts.ravel())
    win = np.repeat(np.tile(np.arange(n_win), len(CITIES)), counts.ravel())
    ts = (t0 - t0 % window) + win * window + rng.integers(0, window, len(win))
    amount = _money(rng.exponential(500.0, len(win)) *
                    np.where(surge.ravel()[city * n_win + win], 2.0, 1.0))
    order = np.lexsort((city, ts))
    _write(out, "claims", {
        "claim_id": np.arange(len(order), dtype=np.int64),
        "city": np.array(CITIES)[city[order]], "ts": _ts(ts[order]), "amount": amount[order]})


def stage_slices(out, plan, period_s):
    """Cuts `claims` into the streaming chain's feed slices by claim-id rank,
    which ascends with event time: one parquet file per slice under
    `<out>/chain-staged/`, plus `slices.tsv` (the open loop's period, then
    each slice's role, row count and latest event time in ms). Per-city
    sentinels 7 h past the last claim ride the last slice so the watermark
    closes every real window. `plan` lists (role, slice count) in publishing
    order."""
    t = pq.read_table(os.path.join(out, "claims.parquet"))
    roles = [role for role, k in plan for _ in range(k)]
    ids = t["claim_id"].to_numpy()
    ts = t["ts"].cast(pa.int64()).to_numpy()
    city = np.array(t["city"].to_pylist())
    amount = t["amount"].to_numpy()
    cities = sorted(set(city))
    slice_of = (ids - ids.min()) * len(roles) // len(ids)
    sentinel_ts = ts.max() + 7 * 3600 * US
    staged = os.path.join(out, "chain-staged")
    os.makedirs(staged)
    lines = [f"period_s\t{period_s}"]
    for i, role in enumerate(roles):
        m = slice_of == i
        cols = {"claim_id": ids[m], "city": city[m], "ts": ts[m], "amount": amount[m]}
        if i == len(roles) - 1:
            cols = {"claim_id": np.concatenate([cols["claim_id"], -1 - np.arange(len(cities))]),
                    "city": np.concatenate([cols["city"], cities]),
                    "ts": np.concatenate([cols["ts"], np.full(len(cities), sentinel_ts)]),
                    "amount": np.concatenate([cols["amount"], np.zeros(len(cities))])}
        lines.append(f"{i}\t{role}\t{len(cols['ts'])}\t{cols['ts'].max() // 1000}")
        cols["ts"] = pa.array(cols["ts"], type=pa.timestamp("us", tz="UTC"))
        pq.write_table(pa.table(cols), os.path.join(staged, f"slice-{i:05d}.parquet"))
    with open(os.path.join(staged, "slices.tsv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
