"""Seeded input generators.

Every generator is a pure function of its seed: the same seed writes the
same rows in the same order with the same Parquet writer settings, so
the files are byte-identical across runs (tests/test_gen.py checks it).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RATE_HZ = 100.0
CHANNELS = 9

# Ranges the reference's defaults handle (PeakConfig: 51-tap smoothing,
# 350-sample envelopes, 250-sample prominence window, 70% gate). The
# committed fixture sits inside every range: period 600, amplitude
# 2000-2150, noise sd 30, width 30, level 1400.
PLATE_RANGES = {
    "period_samples": (450, 900),   # 4.5-9 s between beats at 100 Hz
    "amplitude": (1600.0, 2400.0),  # contraction height above baseline
    "noise_sd": (15.0, 45.0),       # Gaussian noise on every sample
    "width_sd": (22.0, 38.0),       # Gaussian bump sigma, in samples
    "level": (1350.0, 1450.0),      # baseline level
}


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def plate_params(seed: int, recordings: int):
    """Per-channel parameters of a plate, one dict per (recording, channel)."""
    rng = np.random.default_rng([seed, 0])
    out = []
    for r in range(recordings):
        flat = int(rng.integers(CHANNELS))
        for ch in range(CHANNELS):
            p = {k: float(rng.uniform(lo, hi)) for k, (lo, hi) in PLATE_RANGES.items()}
            p["period_samples"] = int(round(p["period_samples"]))
            p["phase"] = int(rng.integers(p["period_samples"]))
            p["recording"], p["channel"], p["flat"] = r, ch, ch == flat
            out.append(p)
    return out


def signal_plate(seed: int, path: str, recordings: int, samples: int) -> list:
    """Write a plate of synthetic Myodish recordings to one Parquet file.

    Schema matches the committed fixture (graft.SignalRow): one row per
    (experiment_id, channel, sample_idx) with t = sample_idx / 100 Hz.
    Each recording has 9 channels; one of them is flat (noise only), the
    reference's no-peaks case. Returns the drawn parameters.
    """
    params = plate_params(seed, recordings)
    idx = np.arange(samples, dtype=np.int64)
    exp, chan, sidx, t, y = [], [], [], [], []
    for p in params:
        rng = np.random.default_rng([seed, 1, p["recording"], p["channel"]])
        v = p["level"] + p["noise_sd"] * rng.standard_normal(samples)
        if not p["flat"]:
            for c in range(p["phase"], samples + p["period_samples"], p["period_samples"]):
                lo, hi = max(0, c - 200), min(samples, c + 200)
                if lo < hi:
                    d = idx[lo:hi] - c
                    v[lo:hi] += p["amplitude"] * np.exp(-(d * d) / (2.0 * p["width_sd"] ** 2))
        exp.append(np.full(samples, f"plate{p['recording']:02d}", dtype=object))
        chan.append(np.full(samples, p["channel"], dtype=np.int32))
        sidx.append(idx)
        t.append(idx / RATE_HZ)
        y.append(v)
    table = pa.table({
        "experiment_id": pa.array(np.concatenate(exp), pa.string()),
        "channel": pa.array(np.concatenate(chan), pa.int32()),
        "sample_idx": pa.array(np.concatenate(sidx), pa.int64()),
        "t": pa.array(np.concatenate(t), pa.float64()),
        "y": pa.array(np.concatenate(y), pa.float64()),
    })
    _write(table, path)
    return params


_WORDS = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row the "
          "agg key query a scan batch").split()
_PART_WORDS = (["large", "hot", "blue", "old", "cold", "red", "small", "new"],
               ["ring", "bolt", "plate", "rod", "widget", "gear", "gizmo", "anvil"])
_SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_EVENTS = ["signup", "error", "click", "view", "purchase"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def tables(seed: int, out_dir: str, sf: float) -> dict:
    """Write the TPC-H-shaped star schema plus events, documents and
    embeddings that the relational, text, dedup, similarity, graph and
    streaming queries read, as `<out_dir>/<table>.parquet`.

    Row counts scale with `sf` like TPC-H (lineitem ~ 6M x sf); value
    domains follow the schema the queries were written against. Returns
    the row count per table.
    """
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_users = int(1000000 * sf), max(int(15000 * sf), 50)
    n_doc, n_vec = max(int(50000 * sf), 200), max(int(20000 * sf), 500)
    out = {}

    def put(name, cols):
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        out[name] = t.num_rows

    put("region", {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                   "r_name": pa.array(_REGIONS, pa.string())})
    put("nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                   "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), pa.string())})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64())})
    pname = np.char.add(np.char.add(rng.choice(_PART_WORDS[0], n_part), " "),
                        rng.choice(_PART_WORDS[1], n_part))
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(pname.astype(object), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(0, 25, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
                                  pa.float64())})
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), pa.float64()),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), pa.string())})
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], n_line), pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_line), pa.string()),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_line), pa.timestamp("us"))})
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENTS, n_ev), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string())})
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_vec)
    centers = rng.standard_normal((10, 64)) * 0.6
    vec = rng.standard_normal((n_vec, 64)) + centers[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out
