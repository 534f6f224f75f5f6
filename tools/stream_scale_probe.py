"""Streaming scale probe: does STATE stay bounded at 10x data?

The 500k probes (BENCH/SCALE_500K.md) cover the dedupe/ANN batch plans;
this one covers the two stateful streaming paths the north rule names:

1. stream-stream join (clip ⋈ transcript, streaming/joins.py) — state is
   bounded by watermark + the range condition; at 10^12 clips the join is
   only viable if state tracks the WATERMARK HORIZON, not total input.
2. CEP sequence match (match_sequence_stream, streaming/cep.py) — open
   instances must expire as the watermark passes `within`.

Method: stage event-time-ORDERED parquet chunks (file-source order ==
event-time order, as on a real ingest), run availableNow with
maxFilesPerTrigger=1, and record per-micro-batch stateOperators
numRowsTotal + watermark from StreamingQueryProgress. Verdict: peak state
rows must be a small multiple of the per-batch horizon rows and the LAST
batches must not trend upward (flat-state == bounded at any scale).

Usage: python tools/stream_scale_probe.py [n_clips] [n_users] [out_md]
Defaults 80000 clips / 20000 users (10x the sf0.1-scale bench shapes).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bento_spark.audio.generate import clips_df
from bento_spark.session import get_spark
from bento_spark.streaming.cep import match_sequence_stream
from bento_spark.streaming.checkpoint import local_checkpoint_commits
from bento_spark.streaming.joins import stream_stream_join

N_CLIPS = int(sys.argv[1]) if len(sys.argv) > 1 else 80_000
N_USERS = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
OUT_MD = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "SCALE_STREAM.md"
)
SCRATCH = "/tmp/bento_stream_probe"
N_CHUNKS = 20


def stage_chunks(df, order_col: str, path: str, n_chunks: int) -> str:
    """Event-time-ordered single-file chunks (file i < file j => all
    timestamps in i <= those in j) so the watermark advances batch by
    batch, as it does on a live stream."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    ranked = df.withColumn("_chunk", F.ntile(n_chunks).over(Window.orderBy(order_col)))
    for i in range(1, n_chunks + 1):
        stage = f"{path}_stage{i}"
        ranked.filter(F.col("_chunk") == i).drop("_chunk").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        shutil.move(glob.glob(f"{stage}/part-*.parquet")[0], f"{path}/c{i:03d}.parquet")
        shutil.rmtree(stage)
    return path


def run_probe(spark, stream_df_fn, src, schema, writer_rows: list, label: str) -> dict:
    ck = f"{SCRATCH}/ck_{label}"
    shutil.rmtree(ck, ignore_errors=True)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = stream_df_fn(stream)
    t0 = time.monotonic()
    with local_checkpoint_commits(spark, ck):
        q = (
            out.writeStream.outputMode("append")
            .option("checkpointLocation", ck)
            .foreachBatch(lambda df, eid: writer_rows.append(df.count()))
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(600)
    wall = time.monotonic() - t0
    batches = []
    for p in q.recentProgress:
        if p is None:
            continue
        if isinstance(p, str):
            p = json.loads(p)
        state = sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", []))
        batches.append(
            {
                "batch": p.get("batchId"),
                "rows_in": p.get("numInputRows", 0),
                "state_rows": state,
                "watermark": (p.get("eventTime") or {}).get("watermark"),
            }
        )
    return {"label": label, "wall_s": round(wall, 2), "batches": batches,
            "out_rows": sum(writer_rows)}


def main() -> None:
    spark = get_spark()
    os.makedirs(SCRATCH, exist_ok=True)
    results = []

    # ---- probe 1: stream-stream join at N_CLIPS (payload pruned pre-state)
    base = clips_df(spark, N_CLIPS).select("clip_id", "transcript", "event_ts")
    staged = stage_chunks(base, "event_ts", f"{SCRATCH}/join_src", N_CHUNKS)
    schema = "clip_id string, transcript string, event_ts timestamp"

    def join_fn(stream):
        clip_side = stream.select("clip_id", "event_ts")
        ts_side = stream.select(
            "clip_id", "transcript",
            (F.col("event_ts") + F.expr("INTERVAL 3 SECONDS")).alias("t_event_ts"),
        )
        return stream_stream_join(
            clip_side, ts_side, watermark="5 seconds", max_lag="30 seconds"
        ).select("clip_id", "transcript")

    rows1: list[int] = []
    results.append(run_probe(spark, join_fn, staged, schema, rows1, "stream_join"))

    # ---- probe 2: CEP funnel at N_USERS (view->click->purchase within 60s;
    # event span >> within so instances MUST expire for state to stay flat)
    def funnel_pdf() -> pd.DataFrame:
        # deterministic funnels: user i starts at i*0.2s (span = N/5 s >>
        # within, so instances MUST expire for state to stay flat); steps
        # 5-35s apart, all inside `within`; every 4th user skips the
        # purchase (an open instance that must EXPIRE, not linger)
        i = np.arange(N_USERS)
        start = 1_700_000_000.0 + i * 0.2
        frames = []
        for etype, off in (
            ("view", np.zeros(N_USERS)),
            ("noise", np.full(N_USERS, 1.0)),
            ("click", 5.0 + (i % 10)),
            ("purchase", 16.0 + (i % 20)),
        ):
            keep = np.ones(N_USERS, dtype=bool) if etype != "purchase" else (i % 4 != 0)
            frames.append(
                pd.DataFrame(
                    {
                        "user_id": [f"u{u}" for u in i[keep]],
                        "ts": pd.to_datetime(start[keep] + off[keep], unit="s"),
                        "event_type": etype,
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    ev = spark.createDataFrame(funnel_pdf())
    ev_src = stage_chunks(ev, "ts", f"{SCRATCH}/cep_src", N_CHUNKS)
    ev_schema = "user_id string, ts timestamp, event_type string"

    def cep_fn(stream):
        return match_sequence_stream(
            stream, "user_id", "ts",
            [F.col("event_type") == "view", F.col("event_type") == "click",
             F.col("event_type") == "purchase"],
            within="60 seconds", watermark="30 seconds",
            step_names=["view", "click", "purchase"],
        )

    rows2: list[int] = []
    results.append(run_probe(spark, cep_fn, ev_src, ev_schema, rows2, "cep_funnel"))

    # ---------------------------------------------------------------- report
    lines = [
        "# SCALE_STREAM — stateful streaming paths at 10x",
        "",
        f"{N_CLIPS} clips through the stream-stream join, {N_USERS} users x 4"
        " funnel events through CEP; event-time-ordered chunks,"
        f" maxFilesPerTrigger=1 ({N_CHUNKS} micro-batches), local[32].",
        "",
        "State-boundedness verdict: state rows must track the WATERMARK",
        "HORIZON (flat across batches), not total input. A monotonically",
        "growing tail would mean state leaks at 10^12-clip scale.",
        "",
    ]
    for r in results:
        bs = [b for b in r["batches"] if b["rows_in"]]
        states = [b["state_rows"] for b in bs]
        peak = max(states) if states else 0
        tail = states[-3:] if len(states) >= 3 else states
        grew = len(tail) >= 2 and all(t2 > t1 for t1, t2 in zip(tail, tail[1:])) and tail[-1] >= peak
        lines += [
            f"## {r['label']}",
            "",
            f"- wall: {r['wall_s']}s for {sum(b['rows_in'] for b in bs)} input rows"
            f" -> {r['out_rows']} output rows across {len(bs)} data batches",
            f"- state rows: peak {peak}, last-3 {tail}",
            f"- bounded: {'FAIL (tail still growing at peak)' if grew else 'PASS (tail flat/shrinking vs peak)'}",
            "",
            "| batch | rows_in | state_rows | watermark |",
            "|---|---|---|---|",
        ]
        lines += [
            f"| {b['batch']} | {b['rows_in']} | {b['state_rows']} | {b['watermark']} |"
            for b in bs
        ]
        lines.append("")
    with open(OUT_MD, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {OUT_MD}")
    for r in results:
        print(r["label"], r["wall_s"], "s, out:", r["out_rows"])


if __name__ == "__main__":
    main()
