"""Seeded input generators for the benchmark.

`fixture_tables` writes the ten fixture tables the engine's catalog opens
(schemas as pinned by `graft.Tables.schemas`, value domains as described in
FIXTURES.md) at a chosen scale factor. `ms_table` writes a Measurement-Set-like
main table in long form: one row per time x baseline x channel x correlation.
The same arguments always give identical rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PNAMES = [f"{c} {t}" for c in ("red", "blue", "green", "small", "large")
          for t in ("ring", "widget", "bolt", "gear")]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000


def _days(rng, n, start, end):
    """Midnight timestamps (µs since epoch) uniform over [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * US_PER_DAY


def _ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def fixture_tables(out, sf, seed=42):
    """The ten catalog tables at scale factor `sf` (sf 0.1: 600 k lineitems)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_sup, n_cust, n_part = int(10_000 * sf), int(150_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_sup, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
        "s_nationkey": rng.integers(0, 25, n_sup).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_sup), 2)})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(PNAMES)[rng.integers(0, len(PNAMES), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_sup, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days(rng, n_li, "1995-01-02", "2001-11-04"))})
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    span = 30 * US_PER_DAY
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(t0 + rng.integers(0, span, n_ev))),
        "user_id": rng.integers(0, max(150, n_ev * 3 // 200), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i % 20 == 11 and i > 20:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centres = rng.normal(0, 1, (10, 64))
    vecs = centres[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def ms_table(path, seed, n_time, n_ant, n_chan, n_corr=4):
    """Measurement-Set-like main table, long form (one visibility per row).

    Columns: row_id, time (s), ant1, ant2, field, chan, corr, u, v (m),
    re, im (visibility), flag. uv tracks rotate with time per baseline and
    scale with channel frequency; amplitudes fall off with uv distance.
    Returns the row count.
    """
    rng = np.random.default_rng(seed)
    a1, a2 = np.triu_indices(n_ant, 1)
    n_bl = len(a1)
    pos = rng.normal(0, 500.0, (n_ant, 2))
    bl = pos[a2] - pos[a1]                                  # (n_bl, 2)
    t = np.arange(n_time) * 8.0                             # 8 s dumps
    ha = 2 * np.pi * t / 86_400.0
    cos, sin = np.cos(ha)[:, None], np.sin(ha)[:, None]
    u_tb = bl[None, :, 0] * cos - bl[None, :, 1] * sin      # (n_time, n_bl)
    v_tb = (bl[None, :, 0] * sin + bl[None, :, 1] * cos) * 0.7
    scale = 1.0 + np.arange(n_chan) / (4.0 * n_chan)        # frequency ratio
    shape = (n_time, n_bl, n_chan, n_corr)
    n = int(np.prod(shape))
    u = np.broadcast_to(u_tb[:, :, None, None] * scale[None, None, :, None], shape)
    v = np.broadcast_to(v_tb[:, :, None, None] * scale[None, None, :, None], shape)
    uvd = np.sqrt(u * u + v * v)
    amp = (np.where(np.arange(n_corr) % 3 == 0, 1.0, 0.1)[None, None, None, :]
           * np.exp(-uvd / 2000.0) + rng.exponential(0.05, shape))
    ph = rng.uniform(-np.pi, np.pi, shape)
    idx = np.indices(shape, dtype=np.int32)
    field = (np.arange(n_time) * 3 // n_time).astype(np.int32)
    flag = rng.random(shape) < 0.05
    flag |= (idx[2] < max(1, n_chan // 32))                 # band-edge channels
    os.makedirs(os.path.dirname(path), exist_ok=True)
    _write(path, {
        "row_id": np.arange(n, dtype=np.int64),
        "time": np.broadcast_to(t[:, None, None, None], shape).ravel(),
        "ant1": a1.astype(np.int32)[idx[1]].ravel(),
        "ant2": a2.astype(np.int32)[idx[1]].ravel(),
        "field": field[idx[0]].ravel(),
        "chan": idx[2].ravel(),
        "corr": idx[3].ravel(),
        "u": np.round(u.ravel(), 3),
        "v": np.round(v.ravel(), 3),
        "re": np.round((amp * np.cos(ph)).ravel(), 6),
        "im": np.round((amp * np.sin(ph)).ravel(), 6),
        "flag": flag.ravel()})
    return n
