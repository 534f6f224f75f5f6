"""Self-test of the benchmark's own parts, at tiny size and without Spark.

    python3 perfbench/selftest.py

Checks that the same seed gives byte-identical inputs and another seed
different ones, that staged files have strictly increasing mtimes in
event-time order, and that every output checker passes on a correct output
and fails on a planted fault. Exits 0 when all hold.
"""

from __future__ import annotations

import os
import sys
import tempfile

import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import inputs  # noqa: E402

N_FILES = 3


def _bytes(d: str) -> list[bytes]:
    out = []
    for k in range(N_FILES):
        for p in "fr":
            with open(os.path.join(d, f"{p}{k:05d}.parquet"), "rb") as f:
                out.append(f.read())
    return out


def _closed_output(ref: pd.DataFrame) -> tuple[pd.DataFrame, int]:
    """What a correct pipeline commits: every window the watermark closed."""
    exp = checks.expected_windows(ref)
    wm = int(ref.loc[ref["sr_hz"] > 8000, "event_ts_us"].max()) - 2_000_000
    closed = exp[exp["window_start_us"] + checks.WINDOW_US <= wm].copy()
    closed["window_start"] = pd.to_datetime(closed["window_start_us"], unit="us", utc=True)
    return closed.drop(columns="window_start_us").reset_index(drop=True), wm


def main() -> int:
    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("ok    " if ok else "FAIL  ") + what)
        if not ok:
            failures.append(what)

    with tempfile.TemporaryDirectory() as tmp:
        dirs = {name: os.path.join(tmp, name) for name in ("a", "b", "c")}
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            os.makedirs(dirs[name])
            inputs.ensure_files(dirs[name], seed, N_FILES)
        expect(_bytes(dirs["a"]) == _bytes(dirs["b"]), "same seed gives byte-identical inputs")
        expect(all(x != y for x, y in zip(_bytes(dirs["a"]), _bytes(dirs["c"]))),
               "another seed gives different inputs")

        staged = inputs.stage_files(dirs["a"], 0, N_FILES, os.path.join(tmp, "in"))
        mtimes = [os.stat(p).st_mtime_ns for p in staged]
        first_ts = [pq.read_table(p, columns=["event_ts"]).column(0)[0].value for p in staged]
        expect(all(x < y for x, y in zip(mtimes, mtimes[1:])), "staged mtimes strictly increase")
        expect(all(x < y for x, y in zip(first_ts, first_ts[1:])), "file order is event-time order")
        schema = pq.read_schema(staged[0])
        expect(str(schema.field("sr_hz").type) == "int32" and str(schema.field("event_ts").type)
               == "timestamp[us, tz=UTC]", "clip files carry the program's column types")

        ref = inputs.read_refs(dirs["a"], 0, N_FILES).to_pandas()

    out, wm = _closed_output(ref)
    expect(checks.check_windows(out, ref, wm)[0] == 0, "window check passes a correct output")
    dlq_clip = ref[ref["sr_hz"] <= 8000].iloc[0]
    leaked = out.copy()
    hit = ((leaked["key"] == dlq_clip["key"]) & (leaked["codec"] == dlq_clip["codec"])).idxmax()
    leaked.loc[hit, "n"] += 1
    expect(checks.check_windows(leaked, ref, wm)[0] > 0, "window check fails on a DLQ row counted in a window")
    expect(checks.check_windows(out.drop(index=0), ref, wm)[0] > 0, "window check fails on a dropped window")
    expect(checks.check_windows(pd.concat([out, out.iloc[:1]]), ref, wm)[0] > 0,
           "window check fails on a window committed twice")
    off = out.copy()
    off.loc[0, "avg_rms"] *= 1.001
    expect(checks.check_windows(off, ref, wm)[0] > 0, "window check fails on a wrong avg_rms")

    dlq = ref.loc[ref["sr_hz"] <= 8000, ["clip_id"]].reset_index(drop=True)
    main_clip = ref.loc[ref["sr_hz"] > 8000, ["clip_id"]].iloc[:1]
    expect(checks.check_dlq(dlq, ref)[0] == 0, "DLQ check passes a correct output")
    expect(checks.check_dlq(dlq.iloc[1:], ref)[0] > 0, "DLQ check fails on a dropped DLQ row")
    expect(checks.check_dlq(pd.concat([dlq, main_clip]), ref)[0] > 0,
           "DLQ check fails on a main-output clip in the DLQ")
    expect(checks.check_dlq(pd.concat([dlq, dlq.iloc[:1]]), ref)[0] > 0,
           "DLQ check fails on a DLQ row committed twice")

    want = checks.summary(out)
    expect(checks.compare("q", checks.summary(out.iloc[::-1]), want) is None,
           "headline compare ignores row order")
    expect(checks.compare("q", checks.summary(out.drop(index=0)), want) is not None,
           "headline compare fails on a dropped row")
    expect(checks.compare("q", checks.summary(off), want) is not None,
           "headline compare fails on a changed value")

    print("ALL OK" if not failures else f"{len(failures)} FAILED")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
