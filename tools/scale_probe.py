"""Scale probe: dedupe + ANN family at 50k docs / 50k vectors (10x the
sf0.1 tables, derived deterministically from them — no external data).

The sf0.1 oracle runs verify correctness at 5k; this probes whether the
PLANS hold one notch up: pair counts stay sparse (bucketing, not all-pairs),
no cartesian/BNLJ appears, and wall time scales roughly linearly. Results
land in BENCH/SCALE_50K.md; the driver-facing bench stays bench.py.

Doc variants per base doc (10): v0 original; v1 drops the last word and v2
appends one word (true near-dups of v0 — known-positive LSH targets);
v3..v9 salt every 3rd token, which rewrites every 3-gram shingle (distinct).
Vector variants per base vector (25): seeded gaussian perturbation.

Usage: python tools/scale_probe.py [sf_dir] [out_md] [doc_variants] [vec_variants]
(defaults 10 and 25 -> 50k/50k; pass 100 and 250 for the 500k probe)
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bento_spark.operators.dedupe_fuzzy import (
    connected_components,
    minhash_lsh_pairs,
    simhash_near_pairs,
)
from bento_spark.operators.similarity import brute_force_topk, ivf_topk, kmeans_centroids, lsh_topk
from bento_spark.session import default_master, get_spark, local_cores

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT_MD = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "SCALE_50K.md"
)
DOC_VARIANTS = int(sys.argv[3]) if len(sys.argv) > 3 else 10
VEC_VARIANTS = int(sys.argv[4]) if len(sys.argv) > 4 else 25
BAD_NODES = ("CartesianProduct", "BroadcastNestedLoopJoin")


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def build_docs(spark, sf_dir: str, n_variants: int = DOC_VARIANTS):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    v = spark.range(n_variants).withColumnRenamed("id", "variant")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    # NOTE: F.transform is interpreted — acceptable ONLY because this is
    # one-off STAGING of synthetic variants (t_docs is reported as staging
    # cost, not as an operator timing); hot paths use explode+agg per the
    # CLAUDE.md invariant
    salted = F.array_join(
        F.transform(toks, lambda x, i: F.when(i % 3 == 0, F.concat(x, F.lit("_v"), F.col("variant"))).otherwise(x)),
        " ",
    )
    dropped = F.array_join(F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(1))), " ")
    text = (
        F.when(F.col("variant") == 0, F.col("text"))
        .when(F.col("variant") == 1, dropped)
        .when(F.col("variant") == 2, F.concat(F.col("text"), F.lit(" extraword")))
        .otherwise(salted)
    )
    return docs.crossJoin(v).select(
        (F.col("doc_id") * n_variants + F.col("variant")).alias("doc_id"), text.alias("text")
    )


def build_vectors(spark, sf_dir: str, n_variants: int = VEC_VARIANTS):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    v = spark.range(n_variants).withColumnRenamed("id", "variant")
    crossed = emb.crossJoin(v).select(
        (F.col("vec_id") * n_variants + F.col("variant")).alias("vec_id"), "embedding", "variant"
    )

    def perturb(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            out = np.empty_like(mat)
            for r in range(len(pdf)):
                rng = np.random.default_rng(int(pdf["vec_id"].iloc[r]))
                out[r] = mat[r] + 0.05 * rng.standard_normal(mat.shape[1])
            out /= np.maximum(np.linalg.norm(out, axis=1, keepdims=True), 1e-12)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "embedding": list(out.astype(np.float32))})

    return crossed.mapInPandas(perturb, schema="vec_id bigint, embedding array<float>")


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def main() -> None:
    master = default_master()
    spark = get_spark(app_name="scale-probe", master=master, shuffle_partitions=local_cores(master))
    # stage under /tmp, never inside the committed BENCH/ evidence dir —
    # a failed probe must not leave parquet junk next to tracked files
    import tempfile

    tmp = tempfile.mkdtemp(prefix="scale_probe_stage_")
    results: dict[str, dict] = {}
    plans_bad: list[str] = []

    # stage the derived tables once so every probe reads the same parquet
    docs_path, vecs_path = f"{tmp}/docs50k", f"{tmp}/vecs50k"
    _, t_docs = timed(lambda: build_docs(spark, SF_DIR).repartition(32).write.mode("overwrite").parquet(docs_path))
    _, t_vecs = timed(lambda: build_vectors(spark, SF_DIR).repartition(32).write.mode("overwrite").parquet(vecs_path))
    docs = spark.read.parquet(docs_path)
    vecs = spark.read.parquet(vecs_path)
    n_docs, n_vecs = docs.count(), vecs.count()
    # orderBy before limit: an unordered LIMIT may pick different rows per
    # job execution, and each topk consumer re-collects the query set —
    # recall-vs-exact would then compare different query ids
    queries = (vecs.filter(F.col("vec_id") % 500 == 0)
               .withColumnRenamed("vec_id", "query_id").orderBy("query_id").limit(100))
    n_q = queries.count()
    print(f"staged: {n_docs} docs ({t_docs:.1f}s), {n_vecs} vectors ({t_vecs:.1f}s), {n_q} queries")

    # --- dedupe family ------------------------------------------------------
    # localCheckpoint: ONE minhash execution feeds both the pair-count
    # probe and connected components (it is the longest dedupe stage)
    pairs = minhash_lsh_pairs(docs, threshold=0.8).localCheckpoint(eager=False)
    for node in BAD_NODES:
        if node in plan_of(pairs):
            plans_bad.append(f"minhash_lsh: {node}")
    n_pairs, t = timed(pairs.count)
    results["minhash_lsh_pairs"] = {"sec": round(t, 2), "rows": n_pairs}
    print(f"minhash_lsh_pairs: {n_pairs} pairs in {t:.1f}s")

    if n_docs <= 100_000:
        # the 64-bit (oracle-contract) variant saturates its 16-bit band
        # buckets past ~1e5 docs — only probe it below that knee
        sh = simhash_near_pairs(docs, max_hamming=3)
        if any(nd in plan_of(sh) for nd in BAD_NODES):
            plans_bad.append("simhash64: cartesian/BNLJ")
        n_sh, t = timed(sh.count)
        results["simhash_near_pairs_64"] = {"sec": round(t, 2), "rows": n_sh}
        print(f"simhash_near_pairs (64-bit): {n_sh} pairs in {t:.1f}s")
    # the 64/h3-equivalent scale config: hamming scales with width so h<=7
    # at 128 bits ~ h<=3 at 64; 4 bands of 32 bits keep candidates linear
    # (guarantee zone <=3, best-effort 4-7 — the same structure as the
    # 64-bit oracle query, whose h<=6 also exceeds its guarantee zone)
    sh128 = simhash_near_pairs(docs, max_hamming=7, bits=128)
    if any(nd in plan_of(sh128) for nd in BAD_NODES):
        plans_bad.append("simhash128: cartesian/BNLJ")
    n_sh128, t = timed(sh128.count)
    results["simhash_near_pairs_128_h7"] = {"sec": round(t, 2), "rows": n_sh128}
    print(f"simhash_near_pairs (128-bit h<=7, 64/h3-equivalent): {n_sh128} pairs in {t:.1f}s")

    labels, t = timed(lambda: connected_components(pairs))
    n_clusters = labels.select("cluster_id").distinct().count()
    results["connected_components"] = {"sec": round(t, 2), "rows": n_clusters}
    print(f"connected_components: {n_clusters} clusters in {t:.1f}s")

    # --- ANN family ---------------------------------------------------------
    cents, t = timed(lambda: kmeans_centroids(vecs, n_clusters=64, n_iter=3))
    results["kmeans_fit_64"] = {"sec": round(t, 2), "rows": int(cents.shape[0])}
    print(f"kmeans 64 centroids in {t:.1f}s")

    ivf = ivf_topk(vecs, queries, cents, k=5, n_probe=4)
    n_ivf, t = timed(ivf.count)
    results["ivf_topk"] = {"sec": round(t, 2), "rows": n_ivf}
    print(f"ivf_topk: {n_ivf} rows in {t:.1f}s")

    lsh = lsh_topk(vecs, queries, k=5, n_bits=6)
    n_lsh, t = timed(lsh.count)
    results["lsh_topk"] = {"sec": round(t, 2), "rows": n_lsh}
    print(f"lsh_topk: {n_lsh} rows in {t:.1f}s")

    bf = brute_force_topk(vecs, queries, k=5)
    n_bf, t = timed(bf.count)
    results["brute_force_topk"] = {"sec": round(t, 2), "rows": n_bf}
    print(f"brute_force_topk: {n_bf} rows in {t:.1f}s")

    # recall of the approximate paths vs exact, at this scale
    exact = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    ivf_hits = sum((r.query_id, r.neighbor_id) in exact for r in ivf.collect())
    results["ivf_recall_at_5"] = {"sec": None, "rows": round(ivf_hits / max(len(exact), 1), 4)}
    print(f"ivf recall@5 = {ivf_hits}/{len(exact)}")

    status = "PASS" if not plans_bad else f"FAIL: {plans_bad}"
    lines = [
        f"# {os.path.basename(OUT_MD).removesuffix('.md')} — dedupe + ANN at "
        f"{DOC_VARIANTS}x sf0.1\n",
        f"Derived deterministically from {SF_DIR}: {n_docs} docs "
        f"({DOC_VARIANTS} variants/doc: 2 true near-dups + {DOC_VARIANTS - 3} shingle-rewritten), "
        f"{n_vecs} vectors ({VEC_VARIANTS} seeded perturbations/vector), {n_q} ANN queries. "
        f"{master}.\n",
        "| probe | wall sec | output rows |",
        "|---|---|---|",
    ]
    for name, r in results.items():
        lines.append(f"| {name} | {r['sec'] if r['sec'] is not None else '—'} | {r['rows']} |")
    lines += [
        "",
        f"Plan audit (no CartesianProduct / BroadcastNestedLoopJoin in any probe): **{status}**",
        "",
        f"Pair sparsity: {n_pairs} LSH pairs from {n_docs} docs — the candidate join touched "
        f"~{n_pairs / max(n_docs, 1):.2f} pairs/doc, not the {n_docs * (n_docs - 1) // 2:,} of all-pairs; "
        "band-bucket shuffles carry only (id, band, bucket) rows.",
    ]
    with open(OUT_MD, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps({"probe": "scale_50k", "status": status, "results": results}))

    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
