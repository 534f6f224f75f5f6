"""Output checks against references the harness computes itself.

- Window drain: the committed window rows against the windows computed from
  the generated clips' reference features, under the watermark contract;
  the DLQ against the clips with ``sr_hz <= 8000``, each exactly once.
- Headline: each query's row count, column names and order-insensitive
  value hash against its DuckDB ``oracle_sql()`` twin.

Every checker returns ``(failed, problems)``: how many of the attempted
units (clips, or queries) came out wrong, and why.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from collections import Counter

import pandas as pd
import pyarrow.parquet as pq

WINDOW_US = 10_000_000
RMS_RTOL = 1e-5


def committed(sink_dir: str, columns: list[str] | None = None) -> pd.DataFrame:
    """Rows of every committed batch of an exactly-once parquet sink
    (``commits/<epoch>`` marker + ``data/_bid=<epoch>/``), read with pyarrow."""
    frames = []
    for marker in glob.glob(os.path.join(sink_dir, "commits", "*")):
        epoch = os.path.basename(marker)
        if not epoch.isdigit():
            continue
        for f in sorted(glob.glob(os.path.join(sink_dir, "data", f"_bid={epoch}", "*.parquet"))):
            frames.append(pq.read_table(f, columns=columns).to_pandas())
    if not frames:
        return pd.DataFrame(columns=columns or [])
    return pd.concat(frames, ignore_index=True)


def expected_windows(ref: pd.DataFrame) -> pd.DataFrame:
    """Windows the shipped pipeline computes: non-DLQ clips grouped by
    (10 s tumbling window, key, codec)."""
    ok = ref[ref["sr_hz"] > 8000].copy()
    ok["window_start_us"] = ok["event_ts_us"] // WINDOW_US * WINDOW_US
    g = ok.groupby(["window_start_us", "key", "codec"])
    return g.agg(n=("clip_id", "size"), avg_rms=("rms", "mean"), total_samples=("n_samples", "sum")).reset_index()


def check_windows(out: pd.DataFrame, ref: pd.DataFrame, watermark_us: int | None) -> tuple[int, list[str]]:
    """Every emitted window exact (n and total_samples equal, avg_rms within
    RMS_RTOL) and emitted once; every window closed by the last watermark
    Spark reported present; no window that the lateness bound keeps open
    emitted. `failed` counts the clips in wrong or missing windows."""
    exp = expected_windows(ref)
    last_ts = int(ref.loc[ref["sr_hz"] > 8000, "event_ts_us"].max())
    open_from = last_ts - 2_000_000  # lateness 2 s: later windows cannot have closed
    got = out.copy()
    got["window_start_us"] = pd.to_datetime(got["window_start"], utc=True).astype("int64") // 1000
    problems, failed = [], 0
    keys = ["window_start_us", "key", "codec"]
    dup = got.duplicated(keys, keep=False)
    if dup.any():
        problems.append(f"{int(dup.sum())} window rows committed more than once")
        failed += int(got.loc[dup, "n"].sum())
        got = got.drop_duplicates(keys)
    m = exp.merge(got[keys + ["n", "avg_rms", "total_samples"]], on=keys, how="outer",
                  suffixes=("", "_got"), indicator=True)
    extra = m[m["_merge"] == "right_only"]
    if len(extra):
        problems.append(f"{len(extra)} window rows with no expected clips")
        failed += int(extra["n_got"].sum())
    both = m[m["_merge"] == "both"]
    bad = both[
        (both["n"] != both["n_got"])
        | (both["total_samples"] != both["total_samples_got"])
        | ((both["avg_rms"] - both["avg_rms_got"]).abs() > RMS_RTOL * both["avg_rms"].abs())
    ]
    if len(bad):
        problems.append(f"{len(bad)} window rows differ, first {bad.iloc[0].to_dict()}")
        failed += int(bad["n"].sum())
    early = both[both["window_start_us"] + WINDOW_US > open_from]
    if len(early):
        problems.append(f"{len(early)} windows emitted before the watermark could close them")
        failed += int(early["n"].sum())
    if watermark_us is not None:
        missing = m[(m["_merge"] == "left_only") & (m["window_start_us"] + WINDOW_US <= watermark_us)]
        if len(missing):
            problems.append(f"{len(missing)} windows closed by the watermark are missing")
            failed += int(missing["n"].sum())
    return failed, problems


def check_dlq(dlq: pd.DataFrame, ref: pd.DataFrame) -> tuple[int, list[str]]:
    """The DLQ holds exactly the clips with sr_hz <= 8000, each once. (A DLQ
    clip counted in the main output shows in check_windows as a wrong `n`.)"""
    want = set(ref.loc[ref["sr_hz"] <= 8000, "clip_id"])
    counts = Counter(dlq["clip_id"])
    problems, failed = [], 0
    missing = want - set(counts)
    wrong = set(counts) - want
    dups = [c for c, k in counts.items() if k > 1]
    for label, bad in (("missing from", missing), ("wrongly in", wrong), ("duplicated in", dups)):
        if bad:
            problems.append(f"{len(bad)} clips {label} the DLQ")
            failed += len(bad)
    return failed, problems


# ---------------------------------------------------------------- headline


def canon(df: pd.DataFrame) -> str:
    """Order-insensitive value hash: sorted columns, floats to 6 places,
    rows sorted, rendered as CSV."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            df[c] = col.round(6)
        elif col.dtype == object:
            df[c] = col.astype(str)
        elif str(col.dtype).startswith("datetime"):
            df[c] = col.astype("int64")
    try:
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    except TypeError:
        df = df.reset_index(drop=True)
    return hashlib.md5(df.to_csv(index=False, float_format="%.6f").encode()).hexdigest()


def summary(df: pd.DataFrame) -> dict:
    return {"rows": len(df), "cols": sorted(df.columns), "hash": canon(df)}


def oracle_summaries(sf_dir: str, tables: list[str], sqls: dict[str, str], cache_path: str) -> dict:
    """DuckDB result summaries for `sqls` over the parquet tables, cached on
    disk under a key of the SQL text and the data's checksums."""
    import duckdb

    with open(os.path.join(sf_dir, "SHA256SUMS")) as f:
        key = hashlib.sha256((f.read() + json.dumps(sqls, sort_keys=True)).encode()).hexdigest()
    try:
        with open(cache_path) as f:
            cached = json.load(f)
        if cached.get("key") == key:
            return cached["summaries"]
    except (OSError, ValueError):
        pass
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {name: summary(con.execute(sql).fetchdf()) for name, sql in sqls.items()}
    finally:
        con.close()
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    with open(cache_path + ".tmp", "w") as f:
        json.dump({"key": key, "summaries": out}, f)
    os.replace(cache_path + ".tmp", cache_path)
    return out


def compare(name: str, got: dict, want: dict) -> str | None:
    if got["rows"] != want["rows"]:
        return f"{name}: rowcount {got['rows']} != oracle {want['rows']}"
    if got["cols"] != want["cols"]:
        return f"{name}: columns {got['cols']} != oracle {want['cols']}"
    if got["hash"] != want["hash"]:
        return f"{name}: value hash differs from oracle"
    return None
