"""Synthesize a larger scale factor from an existing driver-provided one
for LOCAL perf measurement only (the driver generates its own data for the
official bench; this tool only feeds bench_extra / local bench.py runs).

Replicates every fact table K times with deterministic key shifts that
preserve join relationships (orderkey->orders, custkey->customer, ...)
and deterministically perturbs text/embeddings so replicas are not exact
duplicates (which would distort near-dup query behavior). Dimension
tables (nation, region) are copied unchanged.

Usage: python tools/make_scale_data.py [src_sf_dir] [dst_dir] [K]
       default: /root/testdata/sf0.1 /root/testdata/sf1.0 10
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _perturb_words(text: str, k: int) -> str:
    """Deterministic per-replica text variation. Pure rotation keeps
    Jaccard ~1.0 between replicas (every replica pair becomes a near-dup
    candidate — pathologically dense vs the driver's corpus, where r05
    measured sparse candidates). Instead: replica k
    - k % 3 == 1: near-dup of the base (rotate by 1 — Jaccard just under
      1.0, keeps the near-dup queries non-trivially loaded);
    - otherwise, and when the rotation is the text itself (one token, or
      one token repeated): replace every 2nd word with a replica-salted
      variant so cross-replica Jaccard lands well below the 0.6/0.8
      thresholds."""
    if k == 0:
        return text
    toks = text.split(" ")
    if k % 3 == 1:
        r = k % len(toks) or 1
        rotated = " ".join(toks[r:] + toks[:r])
        if rotated != text:
            return rotated
    return " ".join(
        t if i % 2 else f"{t}{(k * 7 + i) % 97:02d}" for i, t in enumerate(toks)
    )


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf1.0"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)

    tables = {n: pq.read_table(os.path.join(src, f"{n}.parquet")) for n in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")}

    def span(tbl: str, col: str) -> int:
        return int(pa.compute.max(tables[tbl][col]).as_py()) + 1

    C = span("customer", "c_custkey")
    S = span("supplier", "s_suppkey")
    P = span("part", "p_partkey")
    O = span("orders", "o_orderkey")
    E = span("events", "event_id")
    U = span("events", "user_id")
    D = span("documents", "doc_id")
    V = span("embeddings", "vec_id")

    shifts: dict[str, dict[str, int]] = {
        "customer": {"c_custkey": C},
        "supplier": {"s_suppkey": S},
        "part": {"p_partkey": P},
        "orders": {"o_orderkey": O, "o_custkey": C},
        "lineitem": {"l_orderkey": O, "l_partkey": P, "l_suppkey": S},
        "events": {"event_id": E, "user_id": U},
        "documents": {"doc_id": D},
        "embeddings": {"vec_id": V},
    }

    for name in ("region", "nation"):
        pq.write_table(tables[name], os.path.join(dst, f"{name}.parquet"))
        print(f"{name}: copied")

    for name, keymap in shifts.items():
        base = tables[name]
        parts = []
        for k in range(reps):
            t = base
            for col, step in keymap.items():
                idx = t.schema.get_field_index(col)
                shifted = pa.compute.add(t[col], k * step).cast(t.schema.field(col).type)
                t = t.set_column(idx, t.schema.field(col), shifted)
            if name == "documents" and k > 0:
                texts = [_perturb_words(x, k) for x in t["text"].to_pylist()]
                idx = t.schema.get_field_index("text")
                t = t.set_column(idx, t.schema.field("text"), pa.array(texts, t.schema.field("text").type))
            if name == "embeddings" and k > 0:
                embs = [list(np.roll(np.asarray(e), k)) for e in t["embedding"].to_pylist()]
                idx = t.schema.get_field_index("embedding")
                t = t.set_column(idx, t.schema.field("embedding"), pa.array(embs, t.schema.field("embedding").type))
            parts.append(t)
        out = pa.concat_tables(parts)
        # default row-group size, mimicking the driver's own generator
        # (observed: sf1.0 lineitem = 6 x 1Mi-row groups, everything else
        # single-group) so scan parallelism matches the official bench
        pq.write_table(out, os.path.join(dst, f"{name}.parquet"))
        print(f"{name}: {base.num_rows} -> {out.num_rows} rows")

    with open(os.path.join(dst, "_DONE"), "w") as fh:
        fh.write("ok\n")


if __name__ == "__main__":
    main()
