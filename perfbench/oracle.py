"""Reference outputs from DuckDB, computed over the same parquet the engine
reads: canonical digests of `SparkEntry.oracleSql` queries (the
scripts/check.py rules) and cell-for-cell plot rasters."""
import datetime
import hashlib
import math
import os
import struct

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect():
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET temp_directory = '.bench_build/duckdb_tmp'")
    return con


def canon_val(v):
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if v is None or v != v:
        return "NULL"
    if isinstance(v, float):
        if v == 0.0:
            v = 0.0
        return "%.6g" % v
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def canon(df):
    """(md5, rows, sorted column names) under the SURVEY §5.3 rules."""
    cols = sorted(df.columns)
    rows = sorted(tuple(canon_val(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))
    body = "\n".join("|".join(r) for r in rows)
    return hashlib.md5(body.encode()).hexdigest(), len(rows), ",".join(cols)


def query_refs(fixture_dir, sqls):
    """{name: {"md5", "rows", "cols"} or {"error"}} for each oracle SQL."""
    con = connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')")
    out = {}
    for name, sql in sqls.items():
        try:
            cur = con.execute(sql)
            bad = [d[0] for d in (cur.description or [])
                   if "DECIMAL" in str(d[1]).upper() or "HUGEINT" in str(d[1]).upper()]
            if bad:
                out[name] = {"error": f"oracle emits DECIMAL/HUGEINT columns {bad}"}
                continue
            md5, rows, cols = canon(cur.fetchdf())
            out[name] = {"md5": md5, "rows": rows, "cols": cols}
        except Exception as e:  # an oracle that cannot run fails its op
            out[name] = {"error": f"oracle error: {e}"[:300]}
    con.close()
    return out


# ---- plot rasters --------------------------------------------------------

AMP = "sqrt(re*re + im*im)"


def _bin(expr, n):
    """Axes.bin: floor((c - lo) / (hi - lo) * n), clamped, NaN to bin 0."""
    return (f"CASE WHEN isnan({expr}) THEN 0 ELSE CAST(least({n - 1}.0, "
            f"greatest(0.0, floor((({expr}) - ?) / (? - ?) * {n}))) AS INTEGER) END")


def _range(con, src, x, y):
    """Canvas.auto: min/max as double, top edge widened by one epsilon."""
    r = con.execute(f"SELECT min(CAST({x} AS DOUBLE)), max(CAST({x} AS DOUBLE)), "
                    f"min(CAST({y} AS DOUBLE)), max(CAST({y} AS DOUBLE)) FROM {src}").fetchone()

    def widen(lo, hi):
        return lo, hi + max(math.ulp(hi), (hi - lo) * 1e-9)
    return widen(r[0], r[1]), widen(r[2], r[3])


def _raster(con, src, x, y, w, h, keys=(), aggs=(), conj=False):
    """Rows (xb, yb, *keys, c, *aggs) of a flag-masked count raster."""
    (x0, x1), (y0, y1) = _range(con, src, x, y)
    pts = f"SELECT {x} AS px, {y} AS py, * FROM {src} WHERE NOT flag"
    if conj:
        pts += f" UNION ALL SELECT -({x}), -({y}), * FROM {src} WHERE NOT flag"
    key_sql = "".join(f", {k}" for k in keys)
    agg_sql = "".join(f", {a}" for a in aggs)
    sql = (f"SELECT {_bin('px', w)} AS xb, {_bin('py', h)} AS yb{key_sql}, "
           f"count(*) AS c{agg_sql} FROM ({pts}) GROUP BY ALL")
    return con.execute(sql, [x0, x1, x0, y0, y1, y0]).fetchnumpy()


def plot_refs(ms_path, kind, size, skip_ant, corr):
    """Expected rasters of one plot op kind, as {suffix: (columns, png dims)}
    where suffix names the op's output (`` or `.0` ...)."""
    con = connect()
    con.execute(f"CREATE VIEW ms AS SELECT * FROM read_parquet('{ms_path}')")
    con.execute(f"CREATE VIEW ms_uv AS SELECT * FROM ms WHERE ant1 <> {skip_ant}")
    con.execute(f"CREATE VIEW ms_corr AS SELECT * FROM ms WHERE corr = {corr}")
    s, half = size, size // 2
    if kind == "uv_conj":
        refs = {"": (_raster(con, "ms_uv", "u", "v", s, s, conj=True), (s, s))}
    elif kind == "amp_time_colour":
        refs = {"": (_raster(con, "ms", "time", AMP, s, half, keys=["corr AS cat"]), (s, half))}
    elif kind == "chan_time_mean":
        refs = {"": (_raster(con, "ms_corr", "chan", "time", half, s,
                             aggs=[f"avg({AMP}) AS ared"]), (half, s))}
    elif kind == "iter_field":
        refs = {"": (_raster(con, "ms", "u", "v", half, half, keys=["field AS grp"]),
                     (half, half))}
    elif kind == "batch":
        refs = {".0": (_raster(con, "ms", "chan", AMP, s, s, aggs=[f"max({AMP}) AS ared"]), (s, s)),
                ".1": (_raster(con, "ms", "u", "v", s, s), (s, s))}
    else:
        raise ValueError(f"unknown plot kind {kind}")
    con.close()
    return refs


def _sorted(cols, keys):
    order = np.lexsort([np.asarray(cols[k]) for k in reversed(keys)])
    return {k: np.asarray(v)[order] for k, v in cols.items()}


def png_size(path):
    with open(path, "rb") as f:
        head = f.read(24)
    if head[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError(f"{path} is not a PNG")
    return struct.unpack(">II", head[16:24])


def check_plot(stem, refs):
    """None when every raster matches its reference cell for cell and every
    PNG has the canvas size; otherwise a one-line reason."""
    for suffix, (exp, (w, h)) in refs.items():
        raster = f"{stem}{suffix}.raster"
        if not os.path.isdir(raster):
            return f"missing raster {os.path.basename(raster)}"
        got = pq.read_table(raster).to_pydict()
        keys = [k for k in ("grp", "cat", "xb", "yb") if k in exp]
        if "grp" in got:
            got["grp"] = [int(g) for g in got["grp"]]
        missing = [k for k in list(exp) if k not in got]
        if missing:
            return f"raster {suffix or 'main'} lacks columns {missing}"
        e, g = _sorted(exp, keys), _sorted({k: got[k] for k in exp}, keys)
        if len(e["c"]) != len(g["c"]):
            return f"raster {suffix or 'main'}: {len(g['c'])} cells, expected {len(e['c'])}"
        for k in keys + ["c"]:
            if not np.array_equal(e[k].astype(np.int64), g[k].astype(np.int64)):
                return f"raster {suffix or 'main'}: column {k} differs"
        if "ared" in e and not np.allclose(g["ared"].astype(float), e["ared"].astype(float),
                                           rtol=1e-9, atol=1e-12, equal_nan=True):
            return f"raster {suffix or 'main'}: ared differs"
        groups = sorted(set(int(x) for x in e["grp"])) if "grp" in e else [None]
        for grp in groups:
            png = f"{stem}{suffix}.{grp}.png" if grp is not None else f"{stem}{suffix}.png"
            if not os.path.isfile(png):
                return f"missing png {os.path.basename(png)}"
            if png_size(png) != (w, h):
                return f"png {os.path.basename(png)} is {png_size(png)}, expected {(w, h)}"
    return None
