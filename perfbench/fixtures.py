"""Seeded generators for the benchmark's inputs.

`catalog(dir, sf)` writes the ten catalog tables (the star schema plus
`events`, `documents` and `embeddings`) at scale factor `sf`. With
FIXTURE_SEED it reproduces the catalog's shared seed-42 test tables (see
TESTDATA.md) value for value at sf 0.001, 0.01 and 0.1, so the benchmark
times the tables the catalog is tested on without reading anything outside
its checkout; `compare_tables.py` checks that. The catalog workloads always
use FIXTURE_SEED; the workload seed only orders the queries.

`stream(dir, seed, params)` writes one parquet file per micro-batch of keyed
events for `stream_panes` (see STREAM below and README.md).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

WORDS = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _ts(start, seconds):
    """Timestamps (µs, no time zone) at `seconds` after `start`, taken to
    nanoseconds first and then truncated to microseconds."""
    ns = np.datetime64(start, "ns") + (np.asarray(seconds) * 1e9).astype("timedelta64[ns]")
    return pa.array(ns.astype("datetime64[us]"))


def _days(rng, n, start, end):
    d0, d1 = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, (d1 - d0).astype(int) + 1, n)
    return pa.array((d0 + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n)].tolist(),
                    pa.string())


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


def catalog(dir_, sf):
    rng = np.random.default_rng(FIXTURE_SEED)
    os.makedirs(dir_, exist_ok=True)
    n_cust, n_supp = int(150000 * sf), max(10, int(10000 * sf))
    n_part, n_ord, n_line = int(200000 * sf), int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), max(500, int(50000 * sf)), max(500, int(20000 * sf))
    n_user = max(15, int(15000 * sf))

    _write(dir_, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(dir_, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(dir_, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD",
                                    "FURNITURE"], n_cust)})
    _write(dir_, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
    noun = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
    _write(dir_, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(dir_, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    _write(dir_, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["R", "A", "N"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    _write(dir_, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, n_ev))),
        "user_id": pa.array(rng.integers(0, n_user, n_ev)),
        "event_type": _pick(rng, ["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: random text over a 30-word vocabulary; 5% are near
    # duplicates (another document's text plus the word "dup"); two near
    # duplicates of one source are exact copies of each other
    words = np.asarray(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
             for _ in range(n_doc)]
    n_dup = int(0.05 * n_doc)
    for i, src in zip(rng.choice(n_doc, n_dup, replace=False), rng.integers(0, n_doc, n_dup)):
        texts[i] = texts[src] + " dup"
    _write(dir_, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(dir_, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


# stream_panes traffic. Event time advances span_ms per file; events are out
# of order by up to delay_ms (the watermark delay). Late events are placed
# with a margin of more than one file's span on both sides of the lateness
# horizon, so whether a late event is admitted does not depend on which of
# two adjacent batches' watermarks the engine compares it with.
STREAM = {
    "warm_files": 4,         # data files before the timed ones
    "events_per_file": 1500,
    "keys": 500,
    "zipf_s": 1.1,           # key frequency ∝ 1 / rank^s
    "span_ms": 10000,
    "delay_ms": 4000,
    "window_ms": 10000,
    "lateness_ms": 30000,
    "early_count": 16,
    "late_within_share": 0.04,
    "late_beyond_share": 0.02,
    "margin_ms": 12000,
    "flush_key": "__flush",
    "t0_ms": 1704067200000,  # 2024-01-01T00:00:00Z
}


def stream(dir_, seed, timed_files, p=STREAM):
    """Write warm_files + timed_files data files, then two flush files, and
    `_meta.json`; returns the metadata."""
    rng = np.random.default_rng(seed)
    os.makedirs(dir_, exist_ok=True)
    ranks = np.arange(1, p["keys"] + 1, dtype=np.float64)
    key_p = ranks ** -p["zipf_s"]
    key_p /= key_p.sum()
    keys = np.asarray([f"k{i:04d}" for i in range(p["keys"])], dtype=object)
    W, L, M = p["window_ms"], p["lateness_ms"], p["margin_ms"]
    wm, wm_prev, max_ts = 0, 0, 0
    files, n_within, n_beyond = [], 0, 0
    for b in range(p["warm_files"] + timed_files):
        n = p["events_per_file"]
        base = p["t0_ms"] + b * p["span_ms"]
        ts = base + rng.integers(0, p["span_ms"], n) - rng.integers(0, p["delay_ms"] + 1, n)
        kind = rng.random(n)
        # within lateness: a window already past the watermark whose horizon
        # is at least M beyond it
        lo = (wm - L + M - W) // W + 1   # first window index with end + L >= wm + M
        hi = (wm - M - W) // W           # last window index with end <= wm - M
        if b > 0 and hi >= lo:
            sel = kind < p["late_within_share"]
            ts[sel] = rng.integers(lo, hi + 1, sel.sum()) * W + rng.integers(0, W, sel.sum())
            n_within += int(sel.sum())
        # beyond lateness: a window whose horizon both candidate watermarks
        # passed at least M ago
        top = (min(wm, wm_prev) - M - L - W) // W  # last index with end + L <= wm' - M
        first = p["t0_ms"] // W - 6     # up to a minute before the stream starts
        if b > 1 and top >= first:
            sel = (kind >= p["late_within_share"]) & \
                  (kind < p["late_within_share"] + p["late_beyond_share"])
            ts[sel] = rng.integers(first, top + 1, sel.sum()) * W + rng.integers(0, W, sel.sum())
            n_beyond += int(sel.sum())
        files.append((keys[rng.choice(p["keys"], n, p=key_p)], ts,
                      rng.integers(1, 101, n).astype(np.int64)))
        max_ts = max(max_ts, int(ts.max()))
        wm_prev, wm = wm, max(wm, max_ts - p["delay_ms"])
    # flush: the first file moves the watermark past every horizon, the
    # second is read under that watermark, so every timer fires
    far = max_ts + W + L + p["delay_ms"] + 2 * M
    for i in range(2):
        files.append((np.asarray([p["flush_key"]], dtype=object),
                      np.asarray([far + i * W]), np.asarray([0], dtype=np.int64)))
    for i, (k, ts, v) in enumerate(files):
        path = os.path.join(dir_, f"batch-{i:05d}.parquet")
        pq.write_table(pa.table({
            "k": pa.array(k.tolist(), pa.string()),
            "ts": pa.array(ts.astype("datetime64[ms]").astype("datetime64[us]"),
                           pa.timestamp("us", tz="UTC")),
            "v": pa.array(v)}), path)
    meta = dict(p, seed=seed, timed_files=timed_files, n_files=len(files),
                late_within=n_within, late_beyond=n_beyond)
    # a leading underscore keeps the file source from reading it
    with open(os.path.join(dir_, "_meta.json"), "w") as f:
        json.dump(meta, f)
    return meta
