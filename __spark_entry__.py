"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes one entry per implemented operator family from
SURVEY.md §2; `oracle_sql()` carries the DuckDB-equivalent ANSI SQL — for
EVERY query. Non-SQL inputs (xxhash64 signatures, LSH hyperplanes, k-means
centroids, audio scalar features) are pinned as parquet fixtures under
fixtures/ that the oracle reads; REGENERATE via tools/make_fixtures.py
whenever the corresponding kernels change (CLAUDE.md invariant), or those
oracles go stale and the gate fails. The audio queries' per-row invariants
(SNR>=30 dB, transcript equality, exactly-once identity) are additionally
enforced in tests/.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import pandas as pd  # pandas_udf kernels in query bodies

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_DIR)

from bento_spark.operators import batching, dedupe_fuzzy, enrich, errors, grouping, mapping, similarity, text  # noqa: E402
from bento_spark.streaming.joins import stream_stream_join  # noqa: E402
from bento_spark.streaming.windows import session_windowed, sliding_windowed, tumbling_windowed  # noqa: E402

DEFAULT_SF = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str, spread: bool = False) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread:
        df = _spread(spark, df, f"{sf_dir}/{name}.parquet")
    return df


def _spread(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Parallelize CPU-heavy work fused into a narrow scan (guide §2.5
    "input skew"): the local test tables are single-row-group parquet, so
    the scan — and every codegen operator fused into its stage (regex
    parse, token explode + vote aggregation) — runs on ONE core of 32.
    A round-robin repartition right after the read moves the per-row work
    onto every core for the price of one small local shuffle.

    Scale-gated, not constant-tuned: repartition fires only when the file
    is too small to ever yield `defaultParallelism` full scan splits
    (size < cores x maxPartitionBytes). At 100 TB the same scan has
    thousands of row groups and this is a no-op — shuffling the full table
    there would be the bug, not the fix."""
    try:
        import os as _os

        size = _os.path.getsize(path) if _os.path.isfile(path) else None
    except OSError:
        size = None
    target = spark.sparkContext.defaultParallelism * 2
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")).lower().rstrip("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    max_split = int(raw[:-1]) * units[raw[-1]] if raw[-1] in units else int(raw)
    if size is not None and size < target * max_split:
        return df.repartition(target)
    return df


_TMP_DIRS: dict[str, str] = {}


def _scratch_dir(key: str, fresh: bool = False) -> str:
    """Per-process scratch dir memo: repeated query invocations (bench /
    oracle loops) reuse ONE directory per purpose instead of leaking a new
    mkdtemp per call. fresh=True wipes it so stateful uses (caches) start
    identical every invocation."""
    import shutil
    import tempfile

    d = _TMP_DIRS.get(key)
    if d is None:
        d = tempfile.mkdtemp(prefix=f"bento_{key}_")
        _TMP_DIRS[key] = d
    elif fresh:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
    return d


def _cross(primary: DataFrame, *others: DataFrame) -> DataFrame:
    """Fold several equivalent implementations into ONE oracle entry
    (VERDICT r04 'Next round' #8): every alternative path still EXECUTES,
    and the result equals `primary` iff ALL paths agree — any divergence
    appends the symmetric difference as extra rows, so the driver's
    rowcount/hash compare turns red. Distributed (exceptAll on the tiny
    aggregated outputs), no driver-side collect."""
    out = primary
    for o in others:
        out = out.unionByName(o.exceptAll(primary)).unionByName(primary.exceptAll(o))
    return out


# --------------------------------------------------------------------------
# Relational core (mapping / filter / agg — reference processor_mapping.go,
# Bloblang agg methods §2.8)
# --------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped agg with computed columns (mapping + group_by_value)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: predicate-pushdown filter + single agg."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07) & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"))


def q_group_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group_by_value (processor_group_by_value.go:21): key = event_type."""
    ev = grouping.group_by_value(_t(spark, sf_dir, "events"), "event_type")
    return ev.groupBy(F.col(grouping.GROUP_COL).alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


def q_group_by_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group_by with ordered predicate checks (processor_group_by.go:75)."""
    ev = _t(spark, sf_dir, "events")
    labeled = grouping.group_by(
        ev,
        [
            ("errors", F.col("event_type") == "error"),
            ("big", F.col("value") > 150),
        ],
        default="normal",
    )
    op = labeled.groupBy(F.col(grouping.GROUP_COL).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value")
    )
    # cross-checked against the YAML group_by section (folded, VERDICT r04 #8)
    return _cross(op, q_yaml_group_by(spark, sf_dir))


def q_switch_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """switch processor first-match routing (processor_switch.go:77) —
    operator API cross-checked against the YAML section path (folded
    per VERDICT r04 #8: both paths execute, divergence turns the row red)."""
    from bento_spark.operators.switch import switch_expr

    ev = _t(spark, sf_dir, "events")
    route = switch_expr(
        [
            (F.col("event_type") == "error", F.lit("dlq")),
            (F.col("value") >= 100, F.lit("high")),
            (F.col("user_id") % 2 == 0, F.lit("even")),
        ],
        default=F.lit("rest"),
    )
    op = ev.withColumn("route", route).groupBy("route").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value")
    )
    return _cross(op, q_yaml_switch_routing(spark, sf_dir))


def q_bounds_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bounds_check (processor_bounds_check.go:46) on document size."""
    docs = mapping.bounds_check(_t(spark, sf_dir, "documents"), col="text", min_len=50, max_len=2000)
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(F.length("text")).alias("total_chars")
    )


def q_error_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try/catch error-column protocol (processor_try.go:15, processor_catch.go:13)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("int")
    )
    flagged = errors.set_error_when(ev, F.col("k") > 80, "k out of range")
    caught = errors.catch_(flagged, lambda d: d.withColumn("k", F.lit(-1)))
    op = caught.groupBy("k").agg(F.count(F.lit(1)).alias("n")).orderBy("k")
    # cross-checked against the YAML try/catch sections (folded, VERDICT r04 #8)
    return _cross(op, q_yaml_try_catch(spark, sf_dir))


_EH_PIPE = """
input:
  parquet: {{path: {sf_dir}/events.parquet}}
error_handling: {eh}
pipeline:
  processors:
    - mapping: 'root.k = this.props.parse_json("k int").k'
    - set_error: {{when: this.k > 80, message: k out of range}}
"""


def _q_error_strategy(spark: SparkSession, sf_dir: str, eh: str) -> DataFrame:
    from bento_spark.plans.compiler import compile_yaml

    p = compile_yaml(_EH_PIPE.format(sf_dir=sf_dir, eh=eh))
    out = p.build_batch(spark)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("k").alias("sum_k")
    )


def q_error_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-level error_handling strategies (errorhandling/docs.go:7,
    strict mode bundle/strict/processor.go), folded into one entry
    (VERDICT r04 #8): strategy=reject (ONE top-level knob drops errored
    rows from the whole pipeline's output) cross-checked against
    strategy=retry with bounded attempts + on_exhausted=reject (feedback
    pipeline, bundle/strict/pipeline.go — deterministic errors survive
    both attempts and the exhaustion path rejects them, so both
    strategies must yield identical rows, proving the loop + exhaustion
    plumbing)."""
    reject = _q_error_strategy(spark, sf_dir, "{strategy: reject}")
    retry = _q_error_strategy(
        spark, sf_dir, "{strategy: retry, max_attempts: 2, on_exhausted: reject}"
    )
    return _cross(reject, retry)


# --------------------------------------------------------------------------
# Batch-shape ops (archive/unarchive/select_parts — §2.4)
# --------------------------------------------------------------------------


def q_archive_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return batching.archive(ev, "user_id", "event_id", "event_type", fmt="lines", out_col="archived")


def q_unarchive_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", text.normalize_text("text").alias("norm"))
    return batching.unarchive(docs, "norm", fmt="csv_row", out_col="part").select("doc_id", "part")


def q_select_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select_parts indexes [0, -1]: first & last event per user batch —
    operator API cross-checked against the YAML section (folded, r04 #8)."""
    ev = _t(spark, sf_dir, "events")
    op = batching.select_parts(ev, "user_id", "event_id", [0, -1]).select(
        "user_id", "event_id", "event_type"
    )
    return _cross(op, q_yaml_select_parts(spark, sf_dir))


def q_top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/limit per group (free-in-Spark analytic fns, SURVEY §2.8)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_orderpriority", "rnk", "o_orderkey", "o_totalprice")
    )


def q_dedupe_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedupe keep-first semantics (processor_dedupe.go FIFO strategy)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id")
    )


def q_broker_fan_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """input broker fan-in = unionByName (input_broker.go:78)."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "value")
    b = ev.filter(F.col("value") > 190).select("event_id", "user_id", "value")
    return a.unionByName(b).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value")
    )


# --------------------------------------------------------------------------
# Joins (enrichment patterns — §2.7)
# --------------------------------------------------------------------------


def _lookup_join_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operator-API lookup-join plan alone — the unit the plan-shape
    tests audit (BroadcastHashJoin, single Exchange); q_lookup_join wraps
    it in the YAML cross-check."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = enrich.lookup_join(li, p, on=[li.l_partkey == p.p_partkey], how="inner")
    return joined.groupBy("p_brand").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cache-get / sql_select enrichment as broadcast lookup join —
    operator API cross-checked against the YAML lookup section (folded,
    VERDICT r04 #8)."""
    return _cross(_lookup_join_op(spark, sf_dir), q_yaml_lookup(spark, sf_dir))


def q_multi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi-table enrichment chain: customer -> nation -> region."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    o = _t(spark, sf_dir, "orders")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
    )


def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semi/anti joins (dedupe-vs-seen-set, cache-add-failure branches)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return with_orders.agg(F.count(F.lit(1)).alias("n")).withColumn("kind", F.lit("with_orders")).unionByName(
        without.agg(F.count(F.lit(1)).alias("n")).withColumn("kind", F.lit("without_orders"))
    )


# --------------------------------------------------------------------------
# Windows (system_window buffer -> F.window — §2.3)
# --------------------------------------------------------------------------


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = tumbling_windowed(
        ev, "ts", "1 hour", ["event_type"], {"n": F.count(F.lit(1)), "total_value": F.round(F.sum("value"), 4)}
    )
    return out.select(
        F.unix_timestamp("window_start").alias("window_start_s"), "event_type", "n", "total_value"
    )


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = sliding_windowed(ev, "ts", "2 hours", "1 hour", ["event_type"], {"n": F.count(F.lit(1))})
    return out.select(F.unix_timestamp("window_start").alias("window_start_s"), "event_type", "n")


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO spread here: measured 0.90s plain vs 2.29s with the repartition —
    # the session-window aggregation's own exchange supersedes it, and the
    # extra round-robin shuffle of full-width events is pure overhead
    ev = _t(spark, sf_dir, "events")
    out = session_windowed(ev, "ts", "30 minutes", ["user_id"], {"n_events": F.count(F.lit(1))})
    return out.select(
        "user_id", F.unix_timestamp("window_start").alias("session_start_s"), "n_events"
    )


# --------------------------------------------------------------------------
# Text analysis / dedup / similarity (training-data ops)
# --------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents", spread=True)
    base = docs.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.bpe_token_count("text").alias("n_bpe"),
        text.punct_ratio("text").alias("punct_ratio"),
        text.stopword_ratio("text").alias("stopword_ratio"),
    )
    # quality_score("text") recomputes token_count/punct_ratio/
    # stopword_ratio from scratch (a second full regex pass per row); its
    # three inputs are EXACTLY the already-computed columns (both ratios
    # are rounded identically inside their operators), so derive it from
    # them — bit-identical, half the regex work. CollapseProject keeps the
    # two projections separate (non-cheap exprs referenced twice).
    quality = F.round(
        F.when((F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 5000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(F.col("punct_ratio") < 0.1, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(F.col("stopword_ratio") >= 0.05, F.lit(0.3)).otherwise(F.lit(0.0)),
        6,
    )
    return base.withColumn("quality", quality)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.lang_id("text").alias("lang_pred"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint("text").alias("fp"))


def q_dedupe_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedupe_fuzzy.exact_dup_groups(_t(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedupe_fuzzy.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.6)


def q_dedupe_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: jaccard pairs -> connected components -> groups.
    BOTH algorithms run and must agree (folded, VERDICT r04 #8): iterative
    min-label propagation (the `while`-processor shape) cross-checked
    against large/small-star CC (Kiveris et al., SoCC'14 — O(log^2 n)
    rounds independent of graph diameter, the scale path when pair graphs
    may chain)."""
    docs = _t(spark, sf_dir, "documents")
    label = dedupe_fuzzy.dedupe_clusters(docs, threshold=0.6)
    star = dedupe_fuzzy.dedupe_clusters(docs, threshold=0.6, algo="star")
    return _cross(label, star)


def q_generate_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General `generate` input (input_generate.go:22): Bloblang mapping
    over a generated sequence, aggregated — the reference's test-data tool."""
    from bento_spark.plans.compiler import compile_yaml

    p = compile_yaml(
        """
input:
  generate:
    count: 200
    mapping: |
        root.k = this.id % 7
        root.v = this.id * this.id
"""
    )
    return (
        p.build_batch(spark)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"))
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # oracle: signatures pinned by fixture (DuckDB has no xxhash64); banding,
    # candidate join and exact-Jaccard verification recomputed in SQL
    return dedupe_fuzzy.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents", spread=True), threshold=0.6
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # oracle: signatures pinned by fixture; pigeonhole banding + hamming
    # verification recomputed in SQL (bit_count/xor)
    return dedupe_fuzzy.simhash_near_pairs(
        _t(spark, sf_dir, "documents", spread=True), max_hamming=6
    )


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.brute_force_topk(emb, queries, k=5)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # oracle: hyperplanes pinned by fixture; bucket assignment, candidate
    # selection and cosine re-rank recomputed in SQL (list_dot_product)
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.lsh_topk(emb, queries, k=5, n_bits=6)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with the coarse quantizer pinned by fixture: the k-means
    centroids (deterministic, tools/make_fixtures.py) are the one non-SQL
    input; assignment, probing and re-ranking are recomputed independently
    by the DuckDB oracle from the raw embeddings. Falls back to training
    k-means inline for sf dirs with no fixture slice."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    fix = os.path.join(_REPO_DIR, "fixtures", "ivf_centroids.parquet")
    rows = []
    if os.path.exists(fix):
        rows = spark.read.parquet(fix).filter(F.col("sf_name") == sf_name).orderBy("cluster").collect()
    if rows:
        cents = np.stack([np.asarray(r.centroid, dtype=np.float64) for r in rows])
    else:
        cents = similarity.kmeans_centroids(emb, n_clusters=8, n_iter=2)
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.ivf_topk(emb, queries, cents, k=5, n_probe=3)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (training-data dedup family):
    all pairs with cosine >= threshold, exact via a distributed one-pass
    numpy matmul against the captured corpus matrix — sf-bounded by design
    (the LSH path is q_ann_lsh; this is the verification-grade operator).
    The synthetic embeddings have max pairwise cosine ~0.48, so 0.4
    exercises a real (non-empty, selective) result."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_neardup_pairs(emb, threshold=0.4)


def q_cache_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cache processor get/set as a state table (processor_cache.go:150):
    build a keyed cache from nation, enrich customers via cache.get
    (broadcast lookup join under the hood)."""
    from bento_spark.operators.cache import KeyValueCache

    cache = KeyValueCache(
        spark,
        _scratch_dir(f"cache_enrich_{os.path.basename(sf_dir.rstrip('/'))}", fresh=True),
        key_col="c_nationkey",
    )
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("nation_name")
    )
    cache.set(n)
    c = _t(spark, sf_dir, "customer")
    enriched = cache.get(c)
    op = enriched.groupBy("nation_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 4).alias("total_balance"),
    )
    # cross-checked against three more backends sharing this oracle
    # (folded, VERDICT r04 #8): the YAML cache set/get pipelines, the
    # `file` backend, and the sqlite backend — all four still execute
    return _cross(op, q_yaml_cache_set_get(spark, sf_dir),
                  q_file_cache_roundtrip(spark, sf_dir),
                  q_sqlite_cache_roundtrip(spark, sf_dir))


def q_cache_ttl_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cache TTL semantics (processor_cache.go:125-150): entries written
    with ttl=60s at T0 are expired when read at T0+61s and enrich as
    misses; immortal entries still hit. Clock pinned via now_ms — no wall
    time in the data path (CLAUDE.md invariant)."""
    from bento_spark.operators.cache import KeyValueCache

    T0 = 1_000_000
    cache = KeyValueCache(
        spark,
        _scratch_dir(f"cache_ttl_{os.path.basename(sf_dir.rstrip('/'))}", fresh=True),
        key_col="c_nationkey",
    )
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("nation_name")
    )
    cache.set(n.filter(F.col("c_nationkey") < 12), ttl=60, now_ms=T0)   # will expire
    cache.set(n.filter(F.col("c_nationkey") >= 12))                     # immortal
    enriched = cache.get(_t(spark, sf_dir, "customer"), now_ms=T0 + 61_000)
    return enriched.groupBy(
        F.coalesce(F.col("nation_name"), F.lit("<expired>")).alias("nation_name")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 4).alias("total_balance"),
    )


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms via an Arrow-vectorized numpy kernel — F.aggregate would run
    INTERPRETED per row (CLAUDE.md HOF invariant) and this query sits in the
    bench headline set. 6-dp rounding absorbs pairwise-vs-sequential
    summation differences vs the DuckDB oracle."""
    from pyspark.sql.functions import pandas_udf

    emb = _t(spark, sf_dir, "embeddings")

    @pandas_udf("double")
    def l2(vecs: pd.Series) -> pd.Series:
        import numpy as _np

        def norm(v):
            a = _np.asarray(v, dtype=_np.float64)
            return float(_np.sqrt(_np.dot(a, a)))

        return vecs.map(norm)

    return emb.select("vec_id", "label", F.round(l2("embedding"), 6).alias("l2_norm"))


# --------------------------------------------------------------------------
# Wave-2 operators: parse/codec/branch/workflow/analytics (SURVEY §2.5-2.6)
# --------------------------------------------------------------------------


def q_parse_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grok/parse_log (processor_grok.go:104, processor_parse_log.go:105):
    synthesize CLF lines from events, parse them back, aggregate by verb."""
    from bento_spark.operators.codec import parse_log

    ev = _t(spark, sf_dir, "events", spread=True)
    # concat of casts, not format_string: java.util.Formatter parses the
    # format per row (~0.8s of the bench stage); every specifier here is a
    # plain %d/%s so concat is byte-identical output
    lines = ev.select(
        F.concat(
            F.lit("10.0."),
            (F.col("user_id") % 256).cast("int").cast("string"),
            F.lit("."),
            (F.col("event_id") % 256).cast("int").cast("string"),
            F.lit(" - u"),
            F.col("user_id").cast("string"),
            F.lit(' [01/Jan/2024:00:00:00 +0000] "'),
            F.when(F.col("event_type") == "purchase", F.lit("POST")).otherwise(F.lit("GET")),
            F.lit(" /page/"),
            (F.col("event_id") % 50).cast("int").cast("string"),
            F.lit(' HTTP/1.1" '),
            F.when(F.col("event_type") == "error", F.lit(500)).otherwise(F.lit(200)).cast("string"),
            F.lit(" "),
            F.col("value").cast("int").cast("string"),
        ).alias("line")
    )
    parsed = parse_log(lines, "line")
    # Filter the unmatched GROUP after aggregation, not the rows before it:
    # a pre-agg filter on the grok match flag gets pushed through the
    # projections by substitution, duplicating the whole regexp_replace into
    # a Filter at the scan (one extra regex pass per row, measured +2s at
    # sf1). Groups are pure — an unmatched row always lands in
    # (verb='', status=NULL) (WORD can't capture '') — so dropping groups
    # whose rows are all unmatched is row-identical to the pre-agg filter,
    # and a predicate on an aggregate cannot be pushed below the Aggregate.
    return (
        parsed.groupBy("verb", "status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("size").alias("total_bytes"),
            F.max(F.col("error").isNull().cast("int")).alias("_ok"),
        )
        .filter(F.col("_ok") == 1)
        .drop("_ok")
    )


def q_opensnowcat_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """opensnowcat processor (opensnowcat/processor_opensnowcat.go):
    synthesize canonical 131-column enriched-TSV lines from events, drop
    on an IP prefix, salted-hash the user id, anonymize the IP, redact the
    network id, and verify the reconstructed line keeps its column count."""
    from bento_spark.operators.opensnowcat import COLUMNS, opensnowcat

    ev = _t(spark, sf_dir, "events")
    parts = {
        "app_id": F.col("event_type"),
        "user_id": F.concat(F.lit("u"), F.col("user_id").cast("string")),
        "user_ipaddress": F.when(
            F.col("event_type") == "error",
            F.format_string("10.0.0.%d", (F.col("event_id") % 200).cast("int")),
        ).otherwise(
            F.format_string(
                "192.168.%d.%d",
                (F.col("user_id") % 256).cast("int"),
                (F.col("event_id") % 256).cast("int"),
            )
        ),
        "network_userid": F.format_string("net-%d", F.col("user_id").cast("int")),
        "txn_id": F.col("event_id").cast("string"),
    }
    lines = ev.select(
        F.col("event_id"),
        F.concat_ws("\t", *[parts.get(c, F.lit("")) for c in COLUMNS]).alias("line"),
    )
    out = opensnowcat(
        lines,
        col="line",
        drop={"user_ipaddress": {"contains": ["10.0."]}},
        transform={
            "salt": "pepper",
            "fields": {
                "user_id": {"strategy": "hash"},
                "user_ipaddress": {"strategy": "anonymize_ip", "anon_octets": 2},
                "network_userid": {"strategy": "redact", "redact_value": "GONE"},
            },
        },
    )
    sp = F.split(F.col("line"), "\t")
    return out.select(
        F.col("event_id"),
        F.get(sp, 0).alias("app_id"),
        F.get(sp, 12).alias("uid_hash"),
        F.get(sp, 13).alias("ip_masked"),
        F.get(sp, 17).alias("net_uid"),
        F.size(sp).alias("n_cols"),
    )


def q_jq_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jq/jmespath JSON query (processor_jq.go:95) via get_json_object."""
    from bento_spark.operators.codec import json_map

    ev = _t(spark, sf_dir, "events")
    out = json_map(ev, "props", {"k": ("k", "int")})
    return out.groupBy((F.col("k") % 10).alias("k_mod")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
    )


def q_json_schema_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_schema validation -> error column (processor_jsonschema.go:93):
    every 7th payload is corrupted to `{}` so both routes are exercised."""
    from bento_spark.operators.codec import json_schema_check

    ev = _t(spark, sf_dir, "events").withColumn(
        "props", F.when(F.col("event_id") % 7 == 0, F.lit("{}")).otherwise(F.col("props"))
    )
    checked = json_schema_check(ev, "props", [("k", "integer")])
    return checked.groupBy(F.col("error").isNull().alias("valid")).agg(
        F.count(F.lit(1)).alias("n")
    )


def q_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xml processor parity (internal/impl/xml/processor.go): synthesize XML
    payloads from events, parse them back with pure-Catalyst xpath
    expressions, aggregate. Oracle aggregates the source directly — any
    value lost or mangled in the XML roundtrip breaks the hash match."""
    from bento_spark.operators.codec import xml_extract

    ev = _t(spark, sf_dir, "events")
    lines = ev.select(
        F.format_string(
            "<event><type>%s</type><uid>%d</uid><size>%d</size></event>",
            F.col("event_type"),
            F.col("user_id"),
            (F.col("event_id") % 1000).cast("int"),
        ).alias("xml")
    )
    parsed = xml_extract(
        lines,
        "xml",
        {"etype": ("/event/type", "string"), "uid": ("/event/uid", "long"), "size": ("/event/size", "int")},
    )
    return parsed.groupBy("etype").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("uid").alias("sum_uid"),
        F.sum("size").alias("sum_size"),
    )


def q_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet_encode/decode processors (internal/impl/parquet/
    processor_encode.go:160, processor_decode.go:66): each language's
    documents become ONE parquet blob and back. Oracle aggregates the
    source — a lossy codec breaks counts or character sums."""
    from bento_spark.operators.codec import parquet_decode, parquet_encode

    docs = _t(spark, sf_dir, "documents").select("lang", "doc_id", "text")
    blobs = parquet_encode(docs, ["lang"], out_col="blob")
    back = parquet_decode(blobs, "blob", "doc_id bigint, text string", keep_cols=["lang"])
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def q_msgpack_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """msgpack processor parity (internal/impl/msgpack/processor.go): each
    event row becomes one msgpack map blob and back via the spec-level
    codec in operators/msgpack_codec.py (no msgpack wheel in this env).
    Oracle aggregates the source — any value lost in the wire format breaks
    counts or sums."""
    from bento_spark.operators.msgpack_codec import msgpack_decode, msgpack_encode

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    blobs = msgpack_encode(ev, ["event_id", "user_id", "event_type", "value"], out_col="blob")
    back = msgpack_decode(
        blobs, "blob", "event_id bigint, user_id bigint, event_type string, value double"
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_ids"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def q_codec_roundtrips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three binary record codecs folded into one entry (VERDICT r04
    #8): msgpack, Avro, and protobuf each encode every event row to one
    blob and decode it back through their independent dependency-free
    spec codecs; all three aggregated results must agree with each other
    AND the source-side oracle — a value lost on any wire format (varint
    edge, zigzag, double bits, union tag) breaks the cross-check."""
    return _cross(
        q_msgpack_roundtrip(spark, sf_dir),
        q_avro_roundtrip(spark, sf_dir),
        q_protobuf_roundtrip(spark, sf_dir),
    )


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second multimodal column family (images/ package): deterministic
    PNG payloads generated distributed (images_df), decoded + feature-
    extracted in one Arrow pass (with_image_features, keep_payload=False —
    the binary never echoes back through Arrow). The fixture twin
    (fixtures/image_meta.parquet via tools/make_fixtures.py) recomputes
    per-image truth driver-side with the same pure kernels; DuckDB
    aggregates it independently."""
    from bento_spark.images.generate import images_df
    from bento_spark.images.udfs import with_image_features

    imgs = images_df(spark, 300, seed=42)
    feats = with_image_features(imgs, keep_payload=False)
    return feats.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("n_pixels").alias("total_pixels"),
        F.round(F.avg("mean_luma"), 6).alias("avg_luma"),
        F.round(F.sum("mean_r"), 4).alias("sum_mean_r"),
        F.round(F.avg("mean_b"), 6).alias("avg_mean_b"),
    )


_VIDEO_N = 200  # must EQUAL tools/make_fixtures.VIDEO_FIXTURE_N: the video
# oracles aggregate ALL video_meta rows


def q_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third multimodal column family (video/ package): deterministic
    PNG-framed BVC containers generated distributed (videos_df), decoded +
    feature-extracted in one Arrow pass (with_video_features,
    keep_payload=False). `motion` — the mean consecutive-frame luma
    difference — is the video-specific scalar: exactly 0 for the `static`
    label, so the oracle separates real motion from decode noise. The
    fixture twin (fixtures/video_meta.parquet via tools/make_fixtures.py)
    recomputes per-video truth driver-side with the same pure kernels."""
    from bento_spark.video.generate import videos_df
    from bento_spark.video.udfs import with_video_features

    vids = videos_df(spark, _VIDEO_N, seed=42)
    feats = with_video_features(vids, keep_payload=False)
    return feats.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_videos"),
        F.sum("n_frames_dec").alias("total_frames"),
        F.sum("duration_ms").alias("total_ms"),
        F.round(F.avg("mean_luma"), 6).alias("avg_luma"),
        F.round(F.sum("motion"), 4).alias("sum_motion"),
    )


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: explode each video into one row per sampled frame
    (every=2), frames SLICED out of the container without pixel decode
    (video/container.bvc_frame_blobs — O(sampled bytes), not O(pixels)).
    The oracle recomputes the explosion relationally from the fixture
    metadata with generate_series: indices 0,2,4,.. < n_frames and
    frame_ts_ms = idx*1000 // fps."""
    from bento_spark.video.generate import videos_df
    from bento_spark.video.udfs import with_frame_sample

    vids = videos_df(spark, _VIDEO_N, seed=42)
    frames = with_frame_sample(vids, every=2, keep_payload=False)
    return frames.groupBy("label").agg(
        F.count_distinct(F.col("video_id")).alias("n_videos"),
        F.count(F.lit(1)).alias("n_frames_sampled"),
        F.sum("frame_ts_ms").alias("sum_ts_ms"),
        F.max("frame_idx").alias("max_idx"),
    )


def q_jmespath_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full JMESPath over per-order JSON documents
    (processor_jmespath.go:65): list projections `[]`, filter `[?...]`,
    pipe, sort/join/map and length/sum/max_by — the query shapes the
    dot-path json_query (jq_extract) cannot express. Each order's
    lineitems become one JSON doc; the query computes per-order stats that
    DuckDB recomputes relationally."""
    from bento_spark.operators.codec import jmespath_map, json_map

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    docs = (
        li.groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("l_partkey").alias("part"),
                        F.col("l_quantity").alias("qty"),
                        F.col("l_extendedprice").alias("price"),
                    )
                )
            ).alias("lines")
        )
        .select(
            F.to_json(
                F.struct(F.col("l_orderkey").alias("order"), F.col("lines"))
            ).alias("doc")
        )
    )
    q = (
        "{order: order, n_big: length(lines[?qty >= `30`]), "
        "total_qty: sum(lines[].qty), max_price: max_by(lines, &price).price, "
        "big_parts: lines[?qty >= `30`].part | sort(@) | join(',', map(&to_string(@), @))}"
    )
    out = jmespath_map(docs, "doc", q)
    cols = json_map(
        out,
        "doc",
        {
            "n_big": ("n_big", "int"),
            "total_qty": ("total_qty", "double"),
            "max_price": ("max_price", "double"),
            "big_parts": ("big_parts", "string"),
        },
    )
    return cols.groupBy("n_big").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("total_qty"), 2).alias("sum_qty"),
        F.round(F.sum("max_price"), 2).alias("sum_max_price"),
        F.sum(F.length("big_parts")).alias("sum_parts_len"),
    )


def q_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro single-record binary roundtrip via the dependency-free spec
    codec (internal/impl/avro/processor.go:21; operators/avro_codec.py —
    previously jar-gated, now driver-checked like msgpack). Oracle
    aggregates the source — any value lost on the wire breaks counts or
    sums."""
    import json as _json

    from bento_spark.operators.avro_codec import avro_record_decode, avro_record_encode

    sch = _json.dumps({
        "type": "record", "name": "event", "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "user_id", "type": "long"},
            {"name": "event_type", "type": ["null", "string"]},
            {"name": "value", "type": "double"},
        ],
    })
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    blobs = avro_record_encode(ev, ["event_id", "user_id", "event_type", "value"], sch, out_col="blob")
    back = avro_record_decode(blobs, "blob", sch)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_ids"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def q_protobuf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf single-message binary roundtrip via the dependency-free
    proto3 wire codec + .proto source parser
    (internal/impl/protobuf/processor_protobuf.go:21-66;
    operators/protobuf_codec.py — previously descriptor-file + jar gated,
    now driver-checked like avro/msgpack). Oracle aggregates the source —
    any value lost on the wire (varint edge, zigzag, double bits) breaks
    counts or sums. The events table holds no NULL/empty event_type, so
    proto3 absence semantics cannot alias a group key."""
    from bento_spark.operators.protobuf_codec import (
        protobuf_record_decode,
        protobuf_record_encode,
    )

    proto = """
    package wire;
    message Event {
      int64 event_id = 1;
      int64 user_id = 2;
      string event_type = 3;
      double value = 4;
    }
    """
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    blobs = protobuf_record_encode(
        ev, ["event_id", "user_id", "event_type", "value"], proto, "wire.Event", out_col="blob")
    back = protobuf_record_decode(blobs, "blob", proto, "wire.Event")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_ids"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def q_cep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP sequence match (streaming/cep.py): view -> click -> purchase
    within 72h per user, first-match semantics, Flink-CEP-style `within`
    anchored at the pattern start. Timestamps compare at ms precision on
    BOTH sides (Spark unix_millis / DuckDB epoch_ms) so boundary events
    cannot diverge on sub-ms digits."""
    from bento_spark.streaming.cep import match_sequence

    ev = _t(spark, sf_dir, "events")
    return match_sequence(
        ev,
        "user_id",
        "ts",
        [
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        within="72 hours",
        step_names=["view", "click", "purchase"],
    )


def q_tar_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tar archive + scanner (scanner_tar.go:28, processor_archive.go tar
    format): each language's documents become ONE deterministic tar blob and
    are scanned back out. Oracle aggregates the source — any member lost or
    corrupted breaks counts, char sums, or the name range."""
    from bento_spark.operators.scanners import tar_encode, unarchive_tar

    docs = _t(spark, sf_dir, "documents").select(
        "lang", F.format_string("doc_%09d.txt", F.col("doc_id")).alias("fname"), "text"
    )
    blobs = tar_encode(docs, ["lang"], "fname", "text", out_col="blob")
    back = unarchive_tar(blobs, "blob", keep_cols=["lang"])
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length(F.col("member_bytes").cast("string"))).alias("total_chars"),
        F.min("member_name").alias("first_doc"),
        F.max("member_name").alias("last_doc"),
    )


def q_chunker_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chunker scanner (scanner_chunker.go): fixed-256-char chunks via pure
    Catalyst sequence+substr; chunk counts and char sums are closed-form."""
    from bento_spark.operators.scanners import chunker

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    ch = chunker(docs, "text", 256, out_col="chunk")
    return ch.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.length("chunk")).alias("total_chars"),
        F.max("chunk_index").alias("max_chunk_idx"),
    )


# --------------------------------------------------------------------------
# YAML compiler parity (SURVEY §2 config surface): the same oracle-gated
# semantics expressed THROUGH compile_yaml — reference users live in YAML
# (internal/config/schema.go:29-40), so each section gets an oracle twin.
# --------------------------------------------------------------------------


def q_yaml_switch_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """switch processor section (processor_switch.go:104-111) via YAML:
    per-case processor chains set the route. Shares switch_routing's oracle."""
    from bento_spark.plans.compiler import compile_yaml

    p = compile_yaml(f"""
input:
  parquet: {{path: {sf_dir}/events.parquet}}
pipeline:
  processors:
    - switch:
        cases:
          - check: 'this.event_type == "error"'
            processors:
              - mapping: 'root.route = "dlq"'
          - check: this.value >= 100
            processors:
              - mapping: 'root.route = "high"'
          - check: this.user_id % 2 == 0
            processors:
              - mapping: 'root.route = "even"'
        default:
          - mapping: 'root.route = "rest"'
""")
    return p.build_batch(spark).groupBy("route").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value")
    )


def q_yaml_group_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group_by checks section (processor_group_by.go:75) via YAML.
    Shares group_by_checks' oracle."""
    from bento_spark.plans.compiler import compile_yaml

    p = compile_yaml(f"""
input:
  parquet: {{path: {sf_dir}/events.parquet}}
pipeline:
  processors:
    - group_by:
        checks:
          - {{name: errors, check: 'this.event_type == "error"'}}
          - {{name: big, check: this.value > 150}}
        default: normal
""")
    return p.build_batch(spark).groupBy(F.col("_group").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value")
    )


def q_yaml_try_catch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try + catch-with-processors + interpolated set_error message
    (processor_try.go:15, processor_catch.go:13, field/expression.go:19)
    via YAML. Shares error_protocol's oracle."""
    from bento_spark.plans.compiler import compile_yaml

    p = compile_yaml(f"""
input:
  parquet: {{path: {sf_dir}/events.parquet}}
pipeline:
  processors:
    - json_map:
        column: props
        fields:
          k: {{path: k, type: int}}
    - try:
        processors:
          - set_error: {{when: this.k > 80, message: "k out of range: ${{! this.k }}"}}
    - catch:
        processors:
          - mapping: root.k = -1
""")
    return p.build_batch(spark).groupBy("k").agg(F.count(F.lit(1)).alias("n")).orderBy("k")


def q_yaml_interp_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group_by_value with an interpolated `${! expr }` key — the exact
    reference shape (processor_group_by_value.go:21 takes an interpolated
    string)."""
    from bento_spark.plans.compiler import compile_yaml

    p = compile_yaml(f"""
input:
  parquet: {{path: {sf_dir}/events.parquet}}
pipeline:
  processors:
    - group_by_value: {{value: "${{! this.event_type }}-${{! this.user_id % 2 }}"}}
""")
    return p.build_batch(spark).groupBy(F.col("_group").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value")
    )


def q_yaml_select_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select_parts section (processor_select_parts.go:17) via YAML.
    Shares select_parts' oracle."""
    from bento_spark.plans.compiler import compile_yaml

    p = compile_yaml(f"""
input:
  parquet: {{path: {sf_dir}/events.parquet}}
pipeline:
  processors:
    - select_parts: {{key: user_id, order_by: event_id, indexes: [0, -1]}}
""")
    return p.build_batch(spark).select("user_id", "event_id", "event_type")


def q_yaml_insert_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """insert_part section (processor_insert_part.go:43) via YAML: append a
    synthesized summary row per user batch, count by type."""
    from bento_spark.plans.compiler import compile_yaml

    p = compile_yaml(f"""
input:
  parquet: {{path: {sf_dir}/events.parquet}}
pipeline:
  processors:
    - insert_part:
        key: user_id
        order_by: event_id
        index: -1
        row: {{event_type: '"summary"'}}
""")
    return p.build_batch(spark).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def q_yaml_cache_set_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cache set + get sections (processor_cache.go:125) via two YAML
    pipelines sharing a resource. Shares cache_enrichment's oracle."""
    from bento_spark.plans.compiler import compile_yaml

    cache_dir = _scratch_dir(f"yaml_cache_{os.path.basename(sf_dir.rstrip('/'))}", fresh=True)
    setter = compile_yaml(f"""
input:
  parquet: {{path: {sf_dir}/nation.parquet}}
pipeline:
  processors:
    - mapping: |
        root.c_nationkey = this.n_nationkey
        root.nation_name = this.n_name
    - cache: {{resource: {cache_dir}, operator: set, key: c_nationkey, key_col: c_nationkey, columns: [nation_name]}}
""")
    setter.build_batch(spark)  # cache writes are applied at build time (batch)
    getter = compile_yaml(f"""
input:
  parquet: {{path: {sf_dir}/customer.parquet}}
pipeline:
  processors:
    - cache: {{resource: {cache_dir}, operator: get, key: c_nationkey, key_col: c_nationkey}}
""")
    return getter.build_batch(spark).groupBy("nation_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 4).alias("total_balance"),
    )


def q_file_cache_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`file` cache backend (cache_file.go:27) declared as a named
    cache_resources entry: one file per key, content is the value. Two
    INDEPENDENT pipelines (separate compile_yaml invocations — the
    in-process analogue of two `bento run` executions) share enrichment
    state through the directory, the restart-surviving property the
    in-parquet KeyValueCache twin (yaml_cache_set_get) also has."""
    from bento_spark.plans.compiler import compile_yaml

    cache_dir = _scratch_dir(f"file_cache_{os.path.basename(sf_dir.rstrip('/'))}", fresh=True)
    resources = f"""
cache_resources:
  - label: nations
    file: {{directory: {cache_dir}/files}}
"""
    setter = compile_yaml(f"""
input:
  parquet: {{path: {sf_dir}/nation.parquet}}
{resources}
pipeline:
  processors:
    - mapping: |
        root.k = this.n_nationkey.string()
        root.nation_name = this.n_name
    - cache: {{resource: nations, operator: set, key: k, columns: [nation_name]}}
""")
    setter.build_batch(spark)
    getter = compile_yaml(f"""
input:
  parquet: {{path: {sf_dir}/customer.parquet}}
{resources}
pipeline:
  processors:
    - mapping: 'root.k = this.c_nationkey.string()'
    - cache: {{resource: nations, operator: get, key: k}}
""")
    return getter.build_batch(spark).groupBy(
        F.col("value").alias("nation_name")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 4).alias("total_balance"),
    )


def q_mongodb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MongoDB connector family end-to-end (mongodb/{output,input}.go over
    the dependency-free BSON+OP_MSG wire layer): nations bulk-insert
    through the output writer (document_map -> one JVM-side to_json
    struct, executors speak BSON), then the collection reads back through
    input.mongodb and reshapes via parse_json. The in-process
    MiniMongoServer stands in for the cluster."""
    from bento_spark.plans.compiler import compile_yaml
    from bento_spark.streaming.mongodb import MiniMongoServer, mongodb_writer

    srv = MiniMongoServer().start()
    try:
        docs = (
            spark.read.parquet(f"{sf_dir}/nation.parquet")
            .select(
                F.to_json(
                    F.struct(
                        F.col("n_nationkey").alias("nk"),
                        F.col("n_name").alias("name"),
                        (F.col("n_regionkey") * 10).alias("score"),
                    )
                ).alias("_mongo_doc")
            )
        )
        mongodb_writer(srv.url, "bento", "nations")(docs, 0)
        reader = compile_yaml(f"""
input:
  mongodb: {{url: {srv.url}, database: bento, collection: nations}}
pipeline:
  processors:
    - mapping: |
        root.n_nationkey = this.text.parse_json("nk int").nk
        root.nation_name = this.text.parse_json("name string").name
        root.score = this.text.parse_json("score bigint").score
""")
        # input.mongodb materializes driver-side at build time, so the
        # server may stop before the caller collects
        return reader.build_batch(spark).drop("text")
    finally:
        srv.stop()


def q_es_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elasticsearch output end-to-end (elasticsearch/output.go): nations
    bulk-index with a per-message interpolated index (two indices split by
    region parity) and deterministic ids; the asserted result is the
    cluster state read back from the in-process MiniEsServer."""
    import json as _json

    from bento_spark.streaming.elasticsearch import MiniEsServer, es_bulk_writer

    srv = MiniEsServer().start()
    try:
        df = (
            spark.read.parquet(f"{sf_dir}/nation.parquet")
            .select(
                F.concat(
                    F.lit("nations-"), (F.col("n_regionkey") % 2).cast("string")
                ).alias("_es_index"),
                F.lit("index").alias("_es_action"),
                F.col("n_nationkey").cast("string").alias("_es_id"),
                F.lit("").alias("_es_routing"),
                F.lit("").alias("_es_pipeline"),
                F.col("n_name").alias("nation_name"),
                F.col("n_regionkey").alias("region_key"),
            )
        )
        es_bulk_writer(srv.url)(df, 0)
        rows = [
            (idx, int(doc_id), d["nation_name"], d["region_key"])
            for idx, docs in srv.indices.items()
            for doc_id, d in docs.items()
        ]
        return spark.createDataFrame(
            rows, "es_index string, n_nationkey int, nation_name string, region_key int"
        )
    finally:
        srv.stop()


def q_jwt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RS/ES JWT parity (crypto/jwt_sign.go:112-148, jwt_parse.go over the
    pure-Python RSA PKCS#1 v1.5 + RFC 6979 ECDSA in
    functions/crypto_prims.py): each nation's claims sign as an RS256
    token, parse back with the PUBLIC key, re-sign as ES256 and parse
    again — a value only survives both verified round-trips, and both
    signers are deterministic (PKCS#1 v1.5 padding is fixed; ES nonces
    come from RFC 6979), so replays are byte-stable. Keys are pinned in
    fixtures/jwt_*.pem (test-only material)."""
    from bento_spark.functions.bloblang import compile_expr

    rsa, rsa_pub = f"{_FIX}/jwt_rsa.pem", f"{_FIX}/jwt_rsa_pub.pem"
    ec, ec_pub = f"{_FIX}/jwt_ec256.pem", f"{_FIX}/jwt_ec256_pub.pem"
    ddl = "nk int, name string, score bigint"
    claims = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.to_json(
            F.struct(
                F.col("n_nationkey").alias("nk"),
                F.col("n_name").alias("name"),
                (F.col("n_regionkey") * 10).cast("long").alias("score"),
            )
        ).alias("claims")
    )
    rs = claims.select(
        compile_expr(f'this.claims.sign_jwt_rs256(file("{rsa}"))').alias("tok")
    ).select(
        compile_expr(f'this.tok.parse_jwt_rs256(file("{rsa_pub}"), "{ddl}")').alias("c")
    ).select(F.to_json("c").alias("claims"))
    es = rs.select(
        compile_expr(f'this.claims.sign_jwt_es256(file("{ec}"))').alias("tok")
    ).select(
        compile_expr(f'this.tok.parse_jwt_es256(file("{ec_pub}"), "{ddl}")').alias("c")
    )
    return es.select(
        F.col("c.nk").alias("n_nationkey"),
        F.col("c.name").alias("nation_name"),
        F.col("c.score").alias("score"),
    ).filter(F.col("n_nationkey").isNotNull())


def q_kafka_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka connector family end-to-end (kafka/output_kafka_franz.go +
    input_kafka_franz.go over the dependency-free wire-protocol layer):
    nations produce through the murmur2-partitioned output writer (value
    serialized JVM-side, record batch v2 + CRC32C on executors), then every
    partition fetches back through the client. The in-process
    MiniKafkaBroker stands in for the cluster; the fetch is driver-side
    control-plane (25 rows) — bulk data rides parquet/Iceberg."""
    from bento_spark.streaming.kafka_wire import (
        KafkaWireClient,
        MiniKafkaBroker,
        kafka_wire_sink,
    )

    srv = MiniKafkaBroker(num_partitions=2).start()
    try:
        df = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
            F.col("n_name").alias("k"),
            F.col("n_nationkey").alias("nk"),
            (F.col("n_regionkey") * 10).cast("long").alias("score"),
        )
        kafka_wire_sink("127.0.0.1", srv.port, "nations", key_col="k")(df, 0)
        client = KafkaWireClient("127.0.0.1", srv.port)
        try:
            rows = []
            for pid in (0, 1):
                _hw, recs = client.fetch(
                    "nations", pid, 0, max_wait_ms=50, max_bytes=1 << 22
                )
                rows.extend(
                    (key.decode("utf-8"), value.decode("utf-8"))
                    for _o, _ts, key, value, _h in recs
                )
        finally:
            client.close()
        out = spark.createDataFrame(rows, "kafka_key string, value string")
        rec = F.from_json("value", "nk int, score bigint")
        return out.select(
            F.col("kafka_key").alias("nation_name"),
            rec.getField("nk").alias("n_nationkey"),
            rec.getField("score").alias("score"),
        )
    finally:
        srv.stop()


def q_pulsar_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 connector family end-to-end, folded into ONE cross-checking
    entry (the codec_roundtrips pattern): nations ride through (a) the
    Pulsar binary-protocol producer/consumer (pulsar/output.go+input.go —
    CRC32C payload frames, key column, MiniPulsarBroker), (b) the Azure
    Table Storage transaction writer + OData query-back
    (azure/output_table_storage.go + input_table_storage.go, SharedKey
    Table flavor), and (c) the CosmosDB document writer + SQL query-back
    (azure/output_cosmosdb.go + input_cosmosdb.go, master-key tokens).
    All three must agree — any divergence appends symmetric-difference
    rows and fails the driver's hash gate. Read-backs are driver-side
    control-plane (25 rows); bulk data rides parquet/Iceberg."""
    base = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_name").alias("k"),
        F.col("n_nationkey").alias("nk"),
        (F.col("n_regionkey") * 10).cast("long").alias("score"),
    )

    def via_pulsar() -> DataFrame:
        from bento_spark.streaming.pulsar import (
            Consumer,
            MiniPulsarBroker,
            PulsarClient,
            pulsar_sink,
        )

        srv = MiniPulsarBroker().start()
        try:
            topic = "persistent://public/default/nations"
            pulsar_sink("127.0.0.1", srv.port, topic, key_col="k")(base, 0)
            cc = PulsarClient("127.0.0.1", srv.port)
            try:
                cons = Consumer(cc, topic, "oracle")
                rows = []
                for _ in range(base.count()):
                    m = cons.receive()
                    rows.append((m.metadata.get("partition_key"),
                                 m.payload.decode("utf-8")))
                    cons.ack(m.message_id)
            finally:
                cc.close()
        finally:
            srv.stop()
        out = spark.createDataFrame(rows, "pulsar_key string, value string")
        rec = F.from_json("value", "nk int, score bigint")
        return out.select(
            F.col("pulsar_key").alias("nation_name"),
            rec.getField("nk").alias("n_nationkey"),
            rec.getField("score").alias("score"),
        )

    def via_azure_table() -> DataFrame:
        from bento_spark.streaming.azure_table import (
            AzureTableClient,
            MiniAzureTableServer,
            azure_table_sink,
        )

        srv = MiniAzureTableServer().start()
        try:
            staged = base.select(
                F.lit("nations").alias("t"), F.col("k").alias("pk"),
                F.format_string("%05d", F.col("nk")).alias("rk"),
                F.lit("INSERT").alias("op"),
                F.to_json(F.struct(F.col("nk"), F.col("score"))).alias("props"),
            )
            azure_table_sink(srv.endpoint, srv.account, srv.account_key,
                             table_col="t", pk_col="pk", rk_col="rk",
                             op_col="op", props_col="props")(staged, 0)
            client = AzureTableClient(srv.endpoint, srv.account,
                                      srv.account_key)
            rows = [(e["PartitionKey"], int(e["nk"]), int(e["score"]))
                    for e in client.query("nations")]
        finally:
            srv.stop()
        return spark.createDataFrame(
            rows, "nation_name string, n_nationkey int, score bigint")

    def via_cosmos() -> DataFrame:
        from bento_spark.streaming.cosmosdb import (
            CosmosClient,
            MiniCosmosServer,
            cosmos_sink,
        )

        srv = MiniCosmosServer().start()
        try:
            staged = base.select(
                F.lit("tpch").alias("_cdb_pk"),
                F.to_json(F.struct(
                    F.format_string("%05d", F.col("nk")).alias("id"),
                    F.col("k").alias("name"), F.col("nk"), F.col("score"),
                )).alias("_cdb_doc"),
            )
            cosmos_sink(srv.endpoint, srv.account_key, "tpchdb", "nations",
                        pk_col="_cdb_pk", doc_col="_cdb_doc",
                        auto_id=False)(staged, 0)
            client = CosmosClient(srv.endpoint, srv.account_key)
            rows = [(d["name"], int(d["nk"]), int(d["score"]))
                    for d in client.query("tpchdb", "nations", "tpch",
                                          "SELECT * FROM c")]
        finally:
            srv.stop()
        return spark.createDataFrame(
            rows, "nation_name string, n_nationkey int, score bigint")

    return _cross(via_pulsar(), via_azure_table(), via_cosmos())


def q_dynamodb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aws_dynamodb output end-to-end (aws/output_dynamodb.go over the
    JSON protocol + vector-pinned SigV4): nations write as keyed items
    through the BatchWriteItem sink (25-item chunks, executors sign their
    own requests), then read back through the cache backend's
    BatchGetItem enrichment (cache_dynamodb.go) keyed on the same
    hash_key. The in-process signature-VERIFYING MiniDynamoServer stands
    in for the table."""
    from bento_spark.streaming.dynamodb import (
        DynamoCache,
        MiniDynamoServer,
        dynamodb_sink,
    )

    srv = MiniDynamoServer().start()
    try:
        n = _t(spark, sf_dir, "nation")
        items = n.select(
            F.format_string("%05d", F.col("n_nationkey")).alias("key"),
            F.to_json(
                F.struct(
                    F.col("n_name").alias("name"),
                    (F.col("n_regionkey") * 10).cast("long").alias("score"),
                )
            ).alias("doc"),
        )
        dynamodb_sink(srv.endpoint, "nations", srv.access_key, srv.secret_key,
                      string_cols=["key", "doc"])(items, 0)
        keys = n.select(
            F.col("n_nationkey"),
            F.format_string("%05d", F.col("n_nationkey")).alias("key"),
        )
        cache = DynamoCache(spark, srv.endpoint, "nations",
                            srv.access_key, srv.secret_key,
                            hash_key="key", data_key="doc",
                            key_col="key", value_col="doc")
        rec = F.from_json("doc", "name string, score bigint")
        out = cache.get(keys).select(
            "n_nationkey",
            rec.getField("name").alias("nation_name"),
            rec.getField("score").alias("score"),
        )
        # the lazy plan would re-query the (stopped) server at collect
        # time — pin it while the mini service is still up
        return out.localCheckpoint(eager=True)
    finally:
        srv.stop()


def q_etcd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """etcd watch input end-to-end (etcd/input.go over the from-scratch
    gRPC/HTTP/2 wire layer, streaming/grpc_wire.py + etcd.py): an
    etcd_watch_bridge authenticates (Auth/Authenticate token), opens a
    prefix watch on `nations/`, then nation rows land as PUT operations
    against the in-process MiniEtcdServer; the watcher receives every
    event over the real HPACK/h2 stream and spools the flattened
    {key,value,type,...} maps (util.go:10-36). Puts are driver-side
    control-plane (25 rows) — bulk data rides parquet/Iceberg."""
    import json as _json
    import tempfile
    import time as _time

    from bento_spark.streaming.etcd import MiniEtcdServer, etcd_watch_bridge
    from bento_spark.streaming.spool import entries

    srv = MiniEtcdServer(users={"root": "pw"}).start()
    spool = tempfile.mkdtemp(prefix="etcd_spool_")
    try:
        sp = etcd_watch_bridge(
            endpoints=[srv.endpoint], key="nations/", spool_dir=spool,
            with_prefix=True, username="root", password="pw",
            auth_enabled=True,
        ).start()
        try:
            n = [(r["n_name"], int(r["n_nationkey"]), int(r["n_regionkey"]))
                 for r in spark.read.parquet(f"{sf_dir}/nation.parquet")
                 .select("n_name", "n_nationkey", "n_regionkey").collect()]
            for name, nk, rk in n:
                srv.put(f"nations/{name}",
                        _json.dumps({"nk": nk, "score": rk * 10}))

            def events() -> list[dict]:
                return [e for _meta, body in entries(spool) for e in _json.loads(body)]

            deadline = _time.monotonic() + 30
            while len(events()) < len(n):
                if _time.monotonic() > deadline:
                    raise TimeoutError(f"etcd watch: {sp.error}")
                _time.sleep(0.05)
            rows = [(e["key"], e["value"], e["type"]) for e in events()]
        finally:
            sp.stop()
    finally:
        srv.stop()
    out = spark.createDataFrame(rows, "key string, value string, ev string")
    rec = F.from_json("value", "nk int, score bigint")
    return out.select(
        F.expr("substring(key, 9)").alias("nation_name"),
        rec.getField("nk").alias("n_nationkey"),
        rec.getField("score").alias("score"),
        F.col("ev").alias("ev_type"),
    )


def q_spanner_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gcp_spanner_cdc input end-to-end (gcp/input_spanner_cdc.go over the
    REST v1 PartialResultSet streaming client, streaming/spanner.py):
    nation rows land as INSERT mods across two change-stream partitions
    announced by the root query; the spanner_cdc_bridge walks the
    partition tree over real chunked-JSON streams (incl. a chunkedValue
    split) and spools one message per mod. Seeding is driver-side
    control-plane (25 rows) — bulk data rides parquet/Iceberg."""
    import tempfile
    import time as _time

    from bento_spark.streaming.spanner import (
        MiniSpannerServer,
        child_partitions_value,
        data_change_value,
        spanner_cdc_bridge,
    )
    from bento_spark.streaming.spool import entries

    srv = MiniSpannerServer().start()
    spool = tempfile.mkdtemp(prefix="spanner_spool_")
    try:
        n = [(r["n_name"], int(r["n_nationkey"]), int(r["n_regionkey"]))
             for r in spark.read.parquet(f"{sf_dir}/nation.parquet")
             .select("n_name", "n_nationkey", "n_regionkey").collect()]
        srv.add_records(None, child_partitions_value(
            "2026-01-01T00:00:00Z", ["p-even", "p-odd"]))
        for name, nk, rk in n:
            srv.add_records(
                "p-even" if nk % 2 == 0 else "p-odd",
                data_change_value(
                    "nation", "INSERT",
                    [({"nk": nk}, {"name": name, "score": rk * 10}, None)],
                    "2026-01-01T00:00:01Z", seq=f"{nk:08d}",
                    txn=f"txn-{nk}"))
        sp = spanner_cdc_bridge(
            dsn="projects/p/instances/i/databases/tpch",
            stream_name="nation_stream", spool_dir=spool,
            start_time="2026-01-01T00:00:00Z", endpoint=srv.endpoint,
        ).start()
        try:
            deadline = _time.monotonic() + 30
            while len(entries(spool)) < len(n):
                if _time.monotonic() > deadline:
                    raise TimeoutError(f"spanner cdc: {sp.error}")
                _time.sleep(0.05)
            rows = [(body.decode(), meta["gcp_spanner_cdc_mod_type"],
                     meta["gcp_spanner_table_name"]) for meta, body in entries(spool)]
        finally:
            sp.stop()
    finally:
        srv.stop()
    out = spark.createDataFrame(rows, "mod string, mod_type string, table_name string")
    m = F.from_json("mod", "keys struct<nk:int>, "
                           "new_values struct<name:string,score:bigint>")
    return out.select(
        m.getField("new_values").getField("name").alias("nation_name"),
        m.getField("keys").getField("nk").alias("n_nationkey"),
        m.getField("new_values").getField("score").alias("score"),
        F.col("mod_type"),
        F.col("table_name"),
    )


def q_sql_raw_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sql_raw family end-to-end (sql/input_sql_raw.go +
    processor_sql_raw.go:30-80 over the stdlib sqlite3 DB-API path):
    nations insert through the exec_only processor (args_mapping binds,
    executed when the plan runs), then read back through the
    one-shot sql_raw input. Text binds re-type through sqlite column
    affinity — the DB-API convention the reference's drivers share."""
    from bento_spark.operators.sql_raw import sql_raw_exec
    from bento_spark.plans.compiler import compile_yaml

    d = _scratch_dir(f"sql_raw_{os.path.basename(sf_dir.rstrip('/'))}", fresh=True)
    dsn = f"{d}/nations.db"
    sql_raw_exec("sqlite", dsn,
                 "CREATE TABLE nations (nk INTEGER PRIMARY KEY, "
                 "name TEXT, score INTEGER)")
    writer = compile_yaml(f"""
input:
  parquet: {{path: {sf_dir}/nation.parquet}}
pipeline:
  processors:
    - sql_raw:
        driver: sqlite
        dsn: {dsn}
        query: 'INSERT INTO nations (nk, name, score) VALUES (?, ?, ?)'
        args_mapping: '[ this.n_nationkey.string(), this.n_name, (this.n_regionkey * 10).string() ]'
        exec_only: true
""")
    writer.build_batch(spark).collect()  # runs the INSERTs
    reader = compile_yaml(f"""
input:
  sql_raw:
    driver: sqlite
    dsn: {dsn}
    query: 'SELECT nk, name, score FROM nations ORDER BY nk'
""")
    return reader.build_batch(spark).select(
        F.col("nk").cast("int").alias("n_nationkey"),
        F.col("name").alias("nation_name"),
        F.col("score").alias("score"),
    )


def q_s3_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 message-level connector family end-to-end (aws/output_s3.go +
    input_s3.go over the dependency-free REST + SigV4 layer,
    streaming/s3.py): nations write one object each through the output
    writer (interpolated object path + body rendered JVM-side, executors
    PutObject), then the bucket listing is consumed back through the
    s3_bridge (the reference's plain-listing mode: one pass, then stop)
    and decoded from the spool. The in-process signature-VERIFYING
    MiniS3Server stands in for S3."""
    from bento_spark.streaming.s3 import MiniS3Server, s3_bridge, s3_sink
    from bento_spark.streaming.spool import entries

    srv = MiniS3Server().start()
    try:
        df = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
            F.format_string("nations/%05d.json", F.col("n_nationkey")).alias("_s3_path"),
            F.to_json(
                F.struct(
                    F.col("n_nationkey").alias("nk"),
                    F.col("n_name").alias("name"),
                    (F.col("n_regionkey") * 10).cast("long").alias("score"),
                )
            ).alias("body"),
        )
        s3_sink(srv.endpoint, "bento", srv.access_key, srv.secret_key,
                path_col="_s3_path", value_col="body")(df, 0)
        spool = _scratch_dir(
            f"s3_spool_{os.path.basename(sf_dir.rstrip('/'))}", fresh=True)
        sp = s3_bridge(
            endpoint=srv.endpoint, bucket="bento",
            access_key=srv.access_key, secret_key=srv.secret_key,
            spool_dir=spool, prefix="nations/",
        ).start()
        try:
            if not sp.wait_finished(60) or sp.error:
                raise RuntimeError(f"s3 spooler did not finish: {sp.error}")
        finally:
            sp.stop()
        out = spark.createDataFrame(
            [(meta["s3_key"], body.decode()) for meta, body in entries(spool)],
            "s3_key string, value string")
        rec = F.from_json("value", "nk int, name string, score bigint")
        return out.select(
            "s3_key",
            rec.getField("nk").alias("n_nationkey"),
            rec.getField("name").alias("nation_name"),
            rec.getField("score").alias("score"),
        )
    finally:
        srv.stop()


def q_hdfs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDFS message-level connector end-to-end (hdfs/output.go + input.go
    over the public WebHDFS REST API, streaming/hdfs.py): nations write
    one file each through the output writer (two-step CREATE against the
    namenode's 307 datanode redirect, executors hold the clients), then
    the directory listing is consumed back through the hdfs_bridge (one
    pass, then stop — the reference's contract) and decoded from the
    spool. The in-process MiniWebHdfsServer enforces user.name auth and
    the redirect protocol."""
    from bento_spark.streaming.hdfs import MiniWebHdfsServer, hdfs_bridge, hdfs_sink
    from bento_spark.streaming.spool import entries

    srv = MiniWebHdfsServer().start()
    try:
        df = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
            F.lit("/data/nations").alias("_hdfs_dir"),
            F.format_string("n-%05d.json", F.col("n_nationkey")).alias("_hdfs_path"),
            F.to_json(
                F.struct(
                    F.col("n_nationkey").alias("nk"),
                    F.col("n_name").alias("name"),
                    (F.col("n_regionkey") * 10).cast("long").alias("score"),
                )
            ).alias("body"),
        )
        hdfs_sink(srv.endpoint, user="bento", value_col="body")(df, 0)
        spool = _scratch_dir(
            f"hdfs_spool_{os.path.basename(sf_dir.rstrip('/'))}", fresh=True)
        sp = hdfs_bridge(hosts=srv.endpoint, user="bento",
                         directory="/data/nations", spool_dir=spool).start()
        try:
            sp.wait_finished(60)
        finally:
            sp.stop()
        out = spark.createDataFrame(
            [(meta["hdfs_path"], body.decode()) for meta, body in entries(spool)],
            "hdfs_path string, value string")
        rec = F.from_json("value", "nk int, name string, score bigint")
        return out.select(
            "hdfs_path",
            rec.getField("nk").alias("n_nationkey"),
            rec.getField("name").alias("nation_name"),
            rec.getField("score").alias("score"),
        )
    finally:
        srv.stop()


def q_jetstream_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATS JetStream end-to-end (nats/output_jetstream.go +
    input_jetstream.go over the public headers extension,
    streaming/nats.py): nations publish one acknowledged message each,
    then a durable pull consumer drains the stream into the spool —
    +ACK only after the rename — and the decode re-derives the rows.
    The in-process MiniNatsServer implements the JetStream wire subset
    (pub-acks, MSG.NEXT, ack tracking)."""
    import time as _time

    from bento_spark.streaming.nats import (
        MiniNatsServer,
        jetstream_bridge,
        nats_jetstream_sink,
    )
    from bento_spark.streaming.spool import entries

    srv = MiniNatsServer().start()
    try:
        srv.add_stream("NATIONS", ["nations.>"])
        df = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
            F.format_string("nations.%d", F.col("n_nationkey")).alias("_js_subject"),
            F.to_json(
                F.struct(
                    F.col("n_nationkey").alias("nk"),
                    F.col("n_name").alias("name"),
                    (F.col("n_regionkey") * 10).cast("long").alias("score"),
                )
            ).alias("body"),
        )
        nats_jetstream_sink(srv.host, srv.port, "_js_subject",
                            value_col="body")(df, 0)
        spool = _scratch_dir(
            f"js_spool_{os.path.basename(sf_dir.rstrip('/'))}", fresh=True)
        sp = jetstream_bridge(host=srv.host, port=srv.port, stream="NATIONS",
                              durable="oracle", spool_dir=spool).start()
        try:
            total = srv._js_streams["NATIONS"]["seq"]
            deadline = _time.monotonic() + 60
            while len(entries(spool)) < total:
                if sp.error:
                    raise RuntimeError(f"jetstream spooler: {sp.error}")
                if _time.monotonic() > deadline:
                    raise RuntimeError("jetstream spooler timed out")
                _time.sleep(0.05)
        finally:
            sp.stop()
        out = spark.createDataFrame(
            [(meta["nats_subject"], body.decode()) for meta, body in entries(spool)],
            "nats_subject string, value string")
        rec = F.from_json("value", "nk int, name string, score bigint")
        return out.select(
            "nats_subject",
            rec.getField("nk").alias("n_nationkey"),
            rec.getField("name").alias("nation_name"),
            rec.getField("score").alias("score"),
        )
    finally:
        srv.stop()


def q_awk_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`awk` processor (awk/processor.go) over the system awk binary:
    codec json flattens each nation document into variables, the program
    mutates the document via json_set/json_set_int, and the pipeline
    reshapes the result. One fork per message — nation's 25 rows keep the
    documented slow path cheap."""
    from bento_spark.plans.compiler import compile_yaml

    p = compile_yaml(f"""
input:
  parquet: {{path: {sf_dir}/nation.parquet}}
pipeline:
  processors:
    - mapping: |
        root.n_nationkey = this.n_nationkey
        root.text = "{{\\"name\\":\\"" + this.n_name + "\\",\\"rk\\":" + this.n_regionkey.string() + "}}"
    - awk:
        codec: json
        column: text
        program: '{{ json_set("label", name "-" rk); json_set_int("score", rk * 10 + 7) }}'
    - mapping: |
        root.n_nationkey = this.n_nationkey
        root.label = this.text.parse_json("label string").label
        root.score = this.text.parse_json("score int").score
""")
    return p.build_batch(spark).select("n_nationkey", "label", "score")


def q_sqlite_cache_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sql` cache backend over stdlib sqlite3 (cache_sql.go:84) declared
    as a named cache_resources entry: one table row per key, upsert set.
    Two INDEPENDENT pipelines share enrichment state through the database
    file — the same restart-surviving contract file_cache_roundtrip
    proves for the file backend, here with SQL-table interop."""
    from bento_spark.plans.compiler import compile_yaml

    cache_dir = _scratch_dir(f"sqlite_cache_{os.path.basename(sf_dir.rstrip('/'))}", fresh=True)
    resources = f"""
cache_resources:
  - label: nations
    sqlite: {{path: {cache_dir}/nations.db, table: nations}}
"""
    setter = compile_yaml(f"""
input:
  parquet: {{path: {sf_dir}/nation.parquet}}
{resources}
pipeline:
  processors:
    - mapping: |
        root.k = this.n_nationkey.string()
        root.nation_name = this.n_name
    - cache: {{resource: nations, operator: set, key: k, columns: [nation_name]}}
""")
    setter.build_batch(spark)
    getter = compile_yaml(f"""
input:
  parquet: {{path: {sf_dir}/customer.parquet}}
{resources}
pipeline:
  processors:
    - mapping: 'root.k = this.c_nationkey.string()'
    - cache: {{resource: nations, operator: get, key: k}}
""")
    return getter.build_batch(spark).groupBy(
        F.col("value").alias("nation_name")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 4).alias("total_balance"),
    )


def q_yaml_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lookup (broadcast dimension join) section via YAML. Shares
    lookup_join's oracle."""
    from bento_spark.plans.compiler import compile_yaml

    p = compile_yaml(f"""
input:
  parquet: {{path: {sf_dir}/lineitem.parquet}}
pipeline:
  processors:
    - lookup:
        right: {{parquet: {{path: {sf_dir}/part.parquet}}}}
        keys: {{left: l_partkey, right: p_partkey}}
        how: inner
        columns: [p_brand]
""")
    return p.build_batch(spark).groupBy("p_brand").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_yaml_while(spark: SparkSession, sf_dir: str) -> DataFrame:
    """while loop section (processor_while.go:20) via YAML: add 13 to k
    until no row is below 50 (closed form is SQL-expressible, so the
    driver-side loop is oracle-verified end to end)."""
    from bento_spark.plans.compiler import compile_yaml

    p = compile_yaml(f"""
input:
  parquet: {{path: {sf_dir}/events.parquet}}
pipeline:
  processors:
    - mapping: root.k = this.event_id % 97
    - while:
        check: this.k < 50
        max_loops: 10
        processors:
          - mapping: root.k = if this.k < 50 {{ this.k + 13 }} else {{ this.k }}
""")
    return p.build_batch(spark).groupBy("k").agg(F.count(F.lit(1)).alias("n")).orderBy("k")


def q_workflow_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """workflow DAG of branches (processor_workflow.go:252): derived-column
    stages in dependency order over lineitem."""
    from bento_spark.operators.branch import Branch, workflow

    li = _t(spark, sf_dir, "lineitem")
    out = workflow(
        li,
        [
            Branch("charge", None, lambda d: d,
                   {"charge": F.col("disc_price") * (1 + F.col("l_tax"))},
                   depends_on=["disc"]),
            Branch("disc", None, lambda d: d,
                   {"disc_price": F.col("l_extendedprice") * (1 - F.col("l_discount"))}),
            Branch("bucket", None, lambda d: d,
                   {"bucket": F.when(F.col("charge") > 50000, F.lit("big")).otherwise(F.lit("small"))},
                   depends_on=["charge"]),
        ],
    )
    return out.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("charge"), 2).alias("total_charge")
    )


def q_branch_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """branch with skip_when (processor_branch.go:152): compute a derived
    result only for non-skipped rows; skipped rows keep NULL."""
    from bento_spark.operators.branch import Branch, apply_branch_inline

    o = _t(spark, sf_dir, "orders")
    br = Branch(
        name="prio_score",
        request_map={"req_price": F.col("o_totalprice") / 1000.0},
        processors=lambda d: d,
        result_map={"score": F.round(F.col("req_price") * 2, 4)},
        skip_when=F.col("o_orderstatus") == "F",
    )
    out = apply_branch_inline(o, br)
    return out.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.coalesce(F.col("score"), F.lit(0.0))), 4).alias("total_score"),
    )


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rollup aggregation (free-in-Spark, SURVEY §2.8 'absent in Bento')."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics (free-in-Spark window functions, §2.8)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    out = ev.select(
        "user_id",
        "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("event_type").over(w).alias("next_type"),
    )
    return out.groupBy("user_id").agg(
        F.round(F.sum(F.coalesce(F.col("prev_value"), F.lit(0.0))), 4).alias("sum_prev"),
        F.count(F.col("next_type")).alias("n_with_next"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """as-of join (SURVEY §2.7 'free in Spark'): for each click, the latest
    prior purchase value per user."""
    from bento_spark.operators.enrich import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    joined = asof_join(clicks, purchases, key="user_id", left_ts="ts", right_ts="p_ts")
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.round(F.sum(F.coalesce(F.col("p_value"), F.lit(0.0))), 4).alias("sum_asof_value"),
    )


def q_mapping_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloblang mapping compiled to Columns (processor_mapping.go:15 via
    functions/bloblang.py): filter + computed fields over documents."""
    from bento_spark.functions.bloblang import compile_mapping

    docs = _t(spark, sf_dir, "documents")
    m = compile_mapping(
        """
root = deleted() if this.text.length() < 40
root.head = this.text.slice(0, 16).lowercase()
root.n_chars = this.text.length()
root.lang_tag = match this.lang { "en" => "english", "de" => "german", _ => "other" }
"""
    )
    out = m.apply(docs)
    return out.groupBy("lang_tag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("total_chars"),
        F.min("head").alias("first_head"),
    )


def q_compress_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compress/decompress processors. Oracle-gated by returning the
    DECOMPRESSED text itself: DuckDB can't gzip, but it can assert that
    decompress(compress(text)) round-trips to the original value."""
    from bento_spark.operators.codec import compress_col, decompress_col

    docs = _t(spark, sf_dir, "documents").select("doc_id", F.col("text").cast("binary").alias("body"))
    out = (
        docs.withColumn("gz", compress_col("body", "gzip"))
        .withColumn("back", decompress_col("gz", "gzip"))
    )
    return out.select(
        "doc_id",
        F.col("back").cast("string").alias("back_text"),
        (F.col("back") == F.col("body")).alias("roundtrip_ok"),
    )


# --------------------------------------------------------------------------
# Audio pipeline (synthetic clips table per input_hint; rows-only checks —
# strong invariants live in tests/test_audio.py & tests/test_streaming.py)
# --------------------------------------------------------------------------

_AUDIO_N = 512


def q_audio_features_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: generate -> decode -> features -> tumbling window. The
    generate+decode+features stages are FUSED into one Arrow pass
    (clips_features_df): Spark does not fuse adjacent mapInPandas stages,
    so the unfused pair ships the multi-MB payload across the Arrow pipe 4
    legs; fusion keeps `bytes` inside one Python invocation (identical
    rows — equivalence tested in test_audio)."""
    from bento_spark.audio.generate import clips_features_df

    feats = clips_features_df(spark, _AUDIO_N)
    out = tumbling_windowed(
        feats,
        "event_ts",
        "10 seconds",
        ["codec"],
        {"n": F.count(F.lit(1)), "avg_rms": F.round(F.avg("rms"), 6), "total_samples": F.sum("n_samples")},
    )
    return out.select(F.unix_timestamp("window_start").alias("window_start_s"), "codec", "n", "avg_rms", "total_samples")


def q_clip_transcript_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join shape over the generated clips table.

    The generated table is STAGED once (parquet) before fanning into the
    two join sides — un-staged, the mapInPandas synthesis would execute
    once PER SIDE (it dominated round-1 bench at 10s). `bytes` is pruned
    before staging: the join output carries no payload, and multi-MB
    payloads must never ride through stream-stream join state (at scale
    they bloat the RocksDB store by the payload:key ratio, ~50:1 here).
    """
    from bento_spark.audio.generate import clips_meta_df

    # metadata-only generator: this query never touches `bytes`, and audio
    # synthesis dominated the staging cost (~40% of the query at 8k clips)
    base = clips_meta_df(spark, _AUDIO_N)
    staged = _scratch_dir(f"clipjoin_{_AUDIO_N}")
    base.select("clip_id", "transcript", "event_ts").write.mode("overwrite").parquet(staged)
    meta = spark.read.parquet(staged)
    clip_side = meta.select("clip_id", "event_ts")
    ts_side = meta.select(
        "clip_id",
        "transcript",
        (F.col("event_ts") + F.expr("INTERVAL 3 SECONDS")).alias("t_event_ts"),
    )
    joined = stream_stream_join(clip_side, ts_side, watermark="5 seconds", max_lag="30 seconds")
    return joined.select("clip_id", "transcript", text.token_count("transcript").alias("n_tokens"))


# --------------------------------------------------------------------------
# Driver contract
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: audio decode features + tumbling window agg on sf0.001-scale
    synthetic clips (the north-rule pipeline shape in batch form)."""
    return q_audio_features_window(spark, DEFAULT_SF)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering matters: the round driver samples the FIRST 50 entries in dict
    # order for CORRECTNESS_r{N}.json.  Rotation policy (CLAUDE.md
    # invariant): the entries that fell outside the previous round's window
    # lead, new entries right behind them, so every entry gets a
    # driver-green row within two rounds.  r05 also FOLDS the
    # aliased-oracle twins into cross-checking parents (VERDICT r04 #8,
    # see _cross): yaml_switch_routing/yaml_group_by/yaml_try_catch/
    # yaml_select_parts/yaml_lookup run inside their operator-API parents,
    # dedupe_clusters runs BOTH CC algorithms, error_strategies runs
    # reject AND retry, codec_roundtrips runs msgpack+avro+protobuf, and
    # cache_enrichment runs the parquet/yaml/file/sqlite backends — every
    # folded path still executes; divergence turns the parent red.
    return {
        # -- r05 window dropouts first (all green in r04 + the r05 judge's
        #    own full check_oracle run): the 25 entries that fell outside
        #    the r05 50-entry sample, restored to the window per the
        #    two-round rotation invariant. minhash_lsh / simhash are also
        #    optimization-touched this round, so their driver rows double
        #    as regression proof. --
        "image_features": q_image_features,
        "video_features": q_video_features,
        "frame_sample": q_frame_sample,
        "jwt_roundtrip": q_jwt_roundtrip,
        "mongodb_roundtrip": q_mongodb_roundtrip,
        "es_roundtrip": q_es_roundtrip,
        "awk_extract": q_awk_extract,
        "audio_features_window": q_audio_features_window,
        "clip_transcript_join": q_clip_transcript_join,
        "compress_roundtrip": q_compress_roundtrip,
        "mapping_pipeline": q_mapping_pipeline,
        "asof_join": q_asof_join,
        "lag_lead": q_lag_lead,
        "rollup_agg": q_rollup_agg,
        "branch_enrich": q_branch_enrich,
        "workflow_dag": q_workflow_dag,
        "yaml_while": q_yaml_while,
        "cache_ttl_expiry": q_cache_ttl_expiry,
        "cep_funnel": q_cep_funnel,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "ann_cosine": q_ann_cosine,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "embedding_neardup": q_embedding_neardup,
        # -- optimization-touched paths this round (grok single-pass,
        #    text regexp_count + derived quality, fast ustar, spread):
        #    fresh driver rows prove the rewrites changed nothing --
        "parse_log": q_parse_log,
        "text_stats": q_text_stats,
        "tar_roundtrip": q_tar_roundtrip,
        "session_window": q_session_window,
        "dedupe_clusters": q_dedupe_clusters,
        # -- r05-green rows (rotate into the window as slots allow) --
        "chunker_scan": q_chunker_scan,
        "codec_roundtrips": q_codec_roundtrips,
        "parquet_roundtrip": q_parquet_roundtrip,
        "xml_extract": q_xml_extract,
        "json_schema_check": q_json_schema_check,
        "jq_extract": q_jq_extract,
        "cache_enrichment": q_cache_enrichment,
        "generate_rows": q_generate_rows,
        "error_protocol": q_error_protocol,
        "yaml_interp_group": q_yaml_interp_group,
        "yaml_insert_part": q_yaml_insert_part,
        "pricing_summary": q_pricing_summary,
        "filter_revenue": q_filter_revenue,
        "group_by_value": q_group_by_value,
        "group_by_checks": q_group_by_checks,
        "switch_routing": q_switch_routing,
        "bounds_check": q_bounds_check,
        "archive_lines": q_archive_lines,
        "unarchive_tokens": q_unarchive_tokens,
        "select_parts": q_select_parts,
        # ---- 50-entry driver window ends here ----
        "lookup_join": q_lookup_join,
        "error_strategies": q_error_strategies,
        "pulsar_roundtrip": q_pulsar_roundtrip,
        "etcd_roundtrip": q_etcd_roundtrip,
        "spanner_roundtrip": q_spanner_roundtrip,
        "s3_roundtrip": q_s3_roundtrip,
        "sql_raw_roundtrip": q_sql_raw_roundtrip,
        "dynamodb_roundtrip": q_dynamodb_roundtrip,
        "opensnowcat_events": q_opensnowcat_events,
        "hdfs_roundtrip": q_hdfs_roundtrip,
        "jetstream_roundtrip": q_jetstream_roundtrip,
        "kafka_roundtrip": q_kafka_roundtrip,
        "broker_fan_in": q_broker_fan_in,
        "tumbling_window": q_tumbling_window,
        "sliding_window": q_sliding_window,
        "multi_join": q_multi_join,
        "dedupe_exact": q_dedupe_exact,
        "dedupe_first_per_key": q_dedupe_first_per_key,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "ngram_jaccard": q_ngram_jaccard,
        "top_k_per_group": q_top_k_per_group,
        "semi_anti": q_semi_anti,
        "embedding_norms": q_embedding_norms,
        "jmespath_projection": q_jmespath_projection,
    }


_FIX = os.path.join(_REPO_DIR, "fixtures")
_DKEY = "CAST(sum(doc_id * length(text)) AS BIGINT)"
_EKEY = "CAST(sum(vec_id * CAST(floor(embedding[1] * 1000) AS BIGINT)) AS BIGINT)"


def oracle_sql() -> dict[str, str]:
    norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
    toks = f"string_split({norm}, ' ')"
    sw_en = "['the','and','of','to','in','is','that','it','for','was']"
    sw_de = "['der','die','das','und','ist','nicht','ein','mit','auf','sich']"
    sw_fr = "['le','la','les','et','est','une','que','pour','dans','pas']"
    sw_es = "['el','la','los','y','es','una','que','para','en','no']"
    tok_cnt = f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
    punct = "round(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0 / greatest(length(text), 1), 6)"
    swr = (
        f"round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> list_contains({sw_en}, t))) * 1.0 "
        f"/ greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 6)"
    )
    grams = (
        f"list_distinct(CASE WHEN len({toks}) <= 3 THEN [array_to_string({toks}, ' ')] "
        f"ELSE list_transform(generate_series(1, len({toks}) - 2), i -> array_to_string({toks}[i:i+2], ' ')) END)"
    )
    sql = {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                   CAST(sum(l_extendedprice) AS DOUBLE) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
        """,
        "filter_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
            FROM lineitem WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """,
        "group_by_value": """
            SELECT event_type, count(*) AS n_events,
                   round(sum(value), 4) AS total_value, round(avg(value), 6) AS avg_value
            FROM events GROUP BY event_type
        """,
        "group_by_checks": """
            SELECT CASE WHEN event_type = 'error' THEN 'errors'
                        WHEN value > 150 THEN 'big' ELSE 'normal' END AS grp,
                   count(*) AS n, round(sum(value), 4) AS total_value
            FROM events GROUP BY 1
        """,
        "switch_routing": """
            SELECT CASE WHEN event_type = 'error' THEN 'dlq'
                        WHEN value >= 100 THEN 'high'
                        WHEN user_id % 2 = 0 THEN 'even' ELSE 'rest' END AS route,
                   count(*) AS n, round(avg(value), 6) AS avg_value
            FROM events GROUP BY 1
        """,
        "bounds_check": """
            SELECT count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS total_chars
            FROM documents WHERE length(text) BETWEEN 50 AND 2000
        """,
        "error_protocol": """
            SELECT CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) > 80 THEN -1
                        ELSE CAST(json_extract_string(props, '$.k') AS INT) END AS k,
                   count(*) AS n
            FROM events GROUP BY 1 ORDER BY k
        """,
        "error_strategies": """
            SELECT event_type, count(*) AS n_rows, CAST(sum(k) AS BIGINT) AS sum_k
            FROM (SELECT event_type,
                         CAST(json_extract_string(props, '$.k') AS INT) AS k
                  FROM events)
            WHERE k IS NULL OR k <= 80
            GROUP BY event_type
        """,
        "archive_lines": """
            SELECT user_id, string_agg(event_type, chr(10) ORDER BY event_id) AS archived
            FROM events GROUP BY user_id
        """,
        "unarchive_tokens": f"""
            SELECT doc_id, unnest(string_split({norm}, ',')) AS part FROM documents
        """,
        "select_parts": """
            WITH r AS (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn_a,
                     row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn_d
              FROM events)
            SELECT DISTINCT user_id, event_id, event_type FROM r WHERE rn_a = 1 OR rn_d = 1
        """,
        "top_k_per_group": """
            SELECT o_orderpriority, CAST(rnk AS INT) AS rnk, o_orderkey, o_totalprice FROM (
              SELECT o_orderpriority, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
              FROM orders) WHERE rnk <= 3
        """,
        "dedupe_first_per_key": """
            SELECT user_id, event_type, event_id FROM (
              SELECT user_id, event_type, event_id,
                     row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
              FROM events) WHERE rn = 1
        """,
        "broker_fan_in": """
            WITH u AS (
              SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'
              UNION ALL
              SELECT event_id, user_id, value FROM events WHERE value > 190)
            SELECT user_id, count(*) AS n, round(sum(value), 4) AS total_value FROM u GROUP BY user_id
        """,
        "lookup_join": """
            SELECT p_brand, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand
        """,
        "multi_join": """
            SELECT r_name, count(*) AS n_orders, round(sum(o_totalprice), 4) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
                        JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "semi_anti": """
            SELECT count(*) AS n, 'with_orders' AS kind FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
            UNION ALL
            SELECT count(*) AS n, 'without_orders' AS kind FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "tumbling_window": """
            SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start_s,
                   event_type, count(*) AS n, round(sum(value), 4) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "sliding_window": """
            SELECT CAST((floor(epoch(ts) / 3600) - k) * 3600 AS BIGINT) AS window_start_s,
                   event_type, count(*) AS n
            FROM events, (SELECT unnest([0, 1]) AS k) ks
            GROUP BY 1, 2
        """,
        "session_window": """
            WITH o AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT user_id, ts,
                         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS sid
                  FROM o)
            SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s, count(*) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        "text_stats": f"""
            SELECT doc_id,
                   CAST({tok_cnt} AS INT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe,
                   {punct} AS punct_ratio,
                   {swr} AS stopword_ratio,
                   round((CASE WHEN {tok_cnt} BETWEEN 5 AND 5000 THEN 0.4 ELSE 0.0 END)
                       + (CASE WHEN {punct} < 0.1 THEN 0.3 ELSE 0.0 END)
                       + (CASE WHEN {swr} >= 0.05 THEN 0.3 ELSE 0.0 END), 6) AS quality
            FROM documents
        """,
        "lang_id": f"""
            WITH sc AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> list_contains({sw_en}, t))) AS s_en,
                     len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> list_contains({sw_de}, t))) AS s_de,
                     len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> list_contains({sw_fr}, t))) AS s_fr,
                     len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> list_contains({sw_es}, t))) AS s_es
              FROM documents)
            SELECT doc_id,
                   CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                        WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                        WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                        WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                        ELSE 'es' END AS lang_pred
            FROM sc
        """,
        "fingerprint": f"""
            SELECT doc_id, md5({norm}) AS fp FROM documents
        """,
        "dedupe_exact": f"""
            SELECT md5({norm}) AS fp, count(*) AS n_dups, min(doc_id) AS canonical_id
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "ngram_jaccard": f"""
            WITH g AS (SELECT doc_id AS id, {grams} AS grams FROM documents),
            ex AS (SELECT id, len(grams) AS set_size, unnest(grams) AS gm FROM g),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter,
                     any_value(a.set_size) AS size_a, any_value(b.set_size) AS size_b
              FROM ex a JOIN ex b ON a.gm = b.gm AND a.id < b.id
              GROUP BY a.id, b.id)
            SELECT id_a, id_b,
                   round(n_inter * 1.0 / (size_a + size_b - n_inter), 6) AS jaccard
            FROM inter
            WHERE round(n_inter * 1.0 / (size_a + size_b - n_inter), 6) >= 0.6
        """,
        "dedupe_clusters": f"""
            WITH RECURSIVE
            g AS (SELECT doc_id AS id, {grams} AS grams FROM documents),
            ex AS (SELECT id, len(grams) AS set_size, unnest(grams) AS gm FROM g),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter,
                     any_value(a.set_size) AS size_a, any_value(b.set_size) AS size_b
              FROM ex a JOIN ex b ON a.gm = b.gm AND a.id < b.id
              GROUP BY a.id, b.id),
            pairs AS (
              SELECT id_a, id_b FROM inter
              WHERE round(n_inter * 1.0 / (size_a + size_b - n_inter), 6) >= 0.6),
            edges AS (
              SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            reach(node, lab) AS (
              SELECT DISTINCT s, s FROM edges
              UNION
              SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.node),
            labels AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node)
            SELECT cluster_id, count(*) AS n_members,
                   min(node) AS member_min, max(node) AS member_max
            FROM labels GROUP BY cluster_id
        """,
        "ann_cosine": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                  CAST(q.qv AS DOUBLE[])), 6) AS cos_sim
              FROM embeddings e, q WHERE e.vec_id != q.query_id)
            SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank, cos_sim FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
              FROM scored) WHERE rnk <= 5
        """,
        "embedding_neardup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.4
        """,
        "cache_enrichment": """
            SELECT n.n_name AS nation_name, count(*) AS n_customers,
                   round(sum(c.c_acctbal), 4) AS total_balance
            FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        """,
        "cache_ttl_expiry": """
            SELECT coalesce(n.n_name, '<expired>') AS nation_name,
                   count(*) AS n_customers,
                   round(sum(c.c_acctbal), 4) AS total_balance
            FROM customer c LEFT JOIN nation n
              ON c.c_nationkey = n.n_nationkey AND n.n_nationkey >= 12
            GROUP BY coalesce(n.n_name, '<expired>')
        """,
        "embedding_norms": """
            SELECT vec_id, label,
                   round(sqrt(list_aggregate(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 6) AS l2_norm
            FROM embeddings
        """,
        "parse_log": """
            WITH lines AS (
              SELECT printf('10.0.%d.%d - u%d [01/Jan/2024:00:00:00 +0000] "%s /page/%d HTTP/1.1" %d %d',
                     CAST(user_id % 256 AS INT), CAST(event_id % 256 AS INT), user_id,
                     CASE WHEN event_type = 'purchase' THEN 'POST' ELSE 'GET' END,
                     CAST(event_id % 50 AS INT),
                     CASE WHEN event_type = 'error' THEN 500 ELSE 200 END,
                     CAST(trunc(value) AS INT)) AS line
              FROM events),
            parsed AS (
              SELECT regexp_extract(line, '"(\\w+) ', 1) AS verb,
                     CAST(regexp_extract(line, '" (\\d+) (\\d+)$', 1) AS INT) AS status,
                     CAST(regexp_extract(line, '" (\\d+) (\\d+)$', 2) AS BIGINT) AS size
              FROM lines)
            SELECT verb, status, count(*) AS n, CAST(sum(size) AS BIGINT) AS total_bytes
            FROM parsed GROUP BY verb, status
        """,
        "opensnowcat_events": """
            WITH src AS (
              SELECT event_id,
                     event_type AS app_id,
                     'u' || CAST(user_id AS VARCHAR) AS uid,
                     CASE WHEN event_type = 'error'
                          THEN '10.0.0.' || CAST(event_id % 200 AS VARCHAR)
                          ELSE '192.168.' || CAST(user_id % 256 AS VARCHAR)
                               || '.' || CAST(event_id % 256 AS VARCHAR)
                     END AS ip
              FROM events)
            SELECT event_id, app_id,
                   sha256(uid || 'pepper') AS uid_hash,
                   regexp_replace(ip, '^(\\d+)\\.(\\d+)\\.\\d+\\.\\d+$', '\\1.\\2.x.x') AS ip_masked,
                   'GONE' AS net_uid,
                   131 AS n_cols
            FROM src
            WHERE NOT contains(lower(ip), '10.0.')
        """,
        "jq_extract": """
            SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
                   count(*) AS n,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
            FROM events GROUP BY 1
        """,
        "json_schema_check": """
            SELECT (CASE WHEN event_id % 7 = 0 THEN NULL
                         ELSE json_extract_string(props, '$.k') END) IS NOT NULL AS valid,
                   count(*) AS n
            FROM events GROUP BY 1
        """,
        "xml_extract": """
            SELECT event_type AS etype, count(*) AS n,
                   CAST(sum(user_id) AS BIGINT) AS sum_uid,
                   CAST(sum(event_id % 1000) AS BIGINT) AS sum_size
            FROM events GROUP BY event_type
        """,
        "parquet_roundtrip": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   min(doc_id) AS min_doc, max(doc_id) AS max_doc
            FROM documents GROUP BY lang
        """,
        "workflow_dag": """
            WITH d AS (
              SELECT l_extendedprice * (1 - l_discount) AS disc_price, l_tax FROM lineitem),
            c AS (SELECT disc_price * (1 + l_tax) AS charge FROM d)
            SELECT CASE WHEN charge > 50000 THEN 'big' ELSE 'small' END AS bucket,
                   count(*) AS n, round(sum(charge), 2) AS total_charge
            FROM c GROUP BY 1
        """,
        "branch_enrich": """
            SELECT o_orderstatus, count(*) AS n,
                   round(sum(CASE WHEN o_orderstatus = 'F' THEN 0.0
                                  ELSE round(o_totalprice / 1000.0 * 2, 4) END), 4) AS total_score
            FROM orders GROUP BY o_orderstatus
        """,
        "rollup_agg": """
            SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS priority,
                   count(*) AS n, round(sum(o_totalprice), 4) AS total
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "lag_lead": """
            WITH w AS (
              SELECT user_id,
                     lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
                     lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
              FROM events)
            SELECT user_id, round(sum(coalesce(prev_value, 0)), 4) AS sum_prev,
                   count(next_type) AS n_with_next
            FROM w GROUP BY user_id
        """,
        "asof_join": """
            WITH clicks AS (
              SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
            purchases AS (
              SELECT user_id, ts AS p_ts, value AS p_value FROM events WHERE event_type = 'purchase')
            SELECT c.user_id, count(*) AS n_clicks,
                   round(sum(coalesce(p.p_value, 0)), 4) AS sum_asof_value
            FROM clicks c ASOF LEFT JOIN purchases p
              ON c.user_id = p.user_id AND p.p_ts <= c.ts
            GROUP BY c.user_id
        """,
        "mapping_pipeline": f"""
            SELECT CASE lang WHEN 'en' THEN 'english' WHEN 'de' THEN 'german'
                             ELSE 'other' END AS lang_tag,
                   count(*) AS n,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   min(lower(substring(text, 1, 16))) AS first_head
            FROM documents WHERE length(text) >= 40
            GROUP BY 1
        """,
        # Fixture-pinned oracles (fixtures/ via tools/make_fixtures.py):
        # the non-SQL-expressible inputs (Spark xxhash64 signatures, seeded
        # hyperplanes, k-means centroids, audio decode scalars) are pinned
        # to parquet; ALL downstream logic — banding, candidate joins,
        # verification math, ranking, window grouping — is recomputed
        # independently by DuckDB from the raw tables.
        "minhash_lsh": f"""
            WITH sig AS (
              SELECT id, sig FROM '{_FIX}/minhash_sigs.parquet'
              WHERE dkey = (SELECT {_DKEY} FROM documents)),
            bands AS (
              SELECT id, b, array_to_string(list_slice(sig, b*4+1, b*4+4), ',') AS bkey
              FROM sig, range(0, 16) t(b)),
            cands AS (
              SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.id < b.id),
            g AS (SELECT doc_id AS id, {grams} AS grams FROM documents),
            ex AS (SELECT id, len(grams) AS set_size, unnest(grams) AS gm FROM g),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter,
                     any_value(a.set_size) AS size_a, any_value(b.set_size) AS size_b
              FROM ex a JOIN ex b ON a.gm = b.gm AND a.id < b.id
              JOIN cands c ON c.id_a = a.id AND c.id_b = b.id
              GROUP BY a.id, b.id)
            SELECT id_a, id_b,
                   round(n_inter * 1.0 / (size_a + size_b - n_inter), 6) AS jaccard
            FROM inter
            WHERE round(n_inter * 1.0 / (size_a + size_b - n_inter), 6) >= 0.6
        """,
        "simhash": f"""
            WITH sig AS (
              SELECT id, simhash FROM '{_FIX}/simhash_sigs.parquet'
              WHERE dkey = (SELECT {_DKEY} FROM documents)),
            ch AS (SELECT id, simhash, k, (simhash >> (16*k)) & 65535 AS chunk
                   FROM sig, range(0, 4) t(k)),
            cands AS (
              SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                     a.simhash AS sh_a, b.simhash AS sh_b
              FROM ch a JOIN ch b ON a.k = b.k AND a.chunk = b.chunk AND a.id < b.id)
            SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
            FROM cands WHERE bit_count(xor(sh_a, sh_b)) <= 6
        """,
        "ann_lsh": f"""
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            bucketed AS (
              SELECT e.vec_id,
                     CAST(sum(CASE WHEN list_dot_product(e.v, p.plane) > 0
                                   THEN 1 << p.bit ELSE 0 END) AS BIGINT) AS bucket
              FROM emb e, '{_FIX}/lsh_hyperplanes.parquet' p GROUP BY e.vec_id),
            scored AS (
              SELECT qq.vec_id AS query_id, cb.vec_id AS neighbor_id,
                     round(list_cosine_similarity(ce.v, qe.v), 6) AS cos_sim
              FROM bucketed cb
              JOIN bucketed qq ON qq.vec_id < 5 AND cb.bucket = qq.bucket
                              AND cb.vec_id != qq.vec_id
              JOIN emb ce ON ce.vec_id = cb.vec_id
              JOIN emb qe ON qe.vec_id = qq.vec_id)
            SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank, cos_sim FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
              FROM scored) WHERE rnk <= 5
        """,
        "ann_ivf": f"""
            WITH cents AS (
              SELECT cluster, centroid FROM '{_FIX}/ivf_centroids.parquet'
              WHERE ekey = (SELECT {_EKEY} FROM embeddings)),
            emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            asg AS (
              SELECT vec_id, cluster FROM (
                SELECT e.vec_id, c.cluster,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY list_cosine_similarity(e.v, c.centroid) DESC,
                                                   c.cluster ASC) AS rn
                FROM emb e, cents c) WHERE rn = 1),
            probes AS (
              SELECT vec_id AS query_id, cluster FROM (
                SELECT e.vec_id, c.cluster,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY list_cosine_similarity(e.v, c.centroid) DESC,
                                                   c.cluster ASC) AS rn
                FROM emb e, cents c WHERE e.vec_id < 5) WHERE rn <= 3),
            scored AS (
              SELECT p.query_id, a.vec_id AS neighbor_id,
                     round(list_cosine_similarity(ce.v, qe.v), 6) AS cos_sim
              FROM probes p JOIN asg a ON a.cluster = p.cluster AND a.vec_id != p.query_id
              JOIN emb ce ON ce.vec_id = a.vec_id
              JOIN emb qe ON qe.vec_id = p.query_id)
            SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank, cos_sim FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
              FROM scored) WHERE rnk <= 5
        """,
        "compress_roundtrip": """
            SELECT doc_id, text AS back_text, TRUE AS roundtrip_ok FROM documents
        """,
        "audio_features_window": f"""
            SELECT CAST((event_ts_ms // 10000) * 10 AS BIGINT) AS window_start_s,
                   codec, count(*) AS n, round(avg(rms), 6) AS avg_rms,
                   CAST(sum(n_samples) AS BIGINT) AS total_samples
            FROM '{_FIX}/clip_meta.parquet' GROUP BY 1, 2
        """,
        "clip_transcript_join": f"""
            SELECT clip_id, transcript,
                   CAST(len(string_split(transcript, ' ')) AS INT) AS n_tokens
            FROM '{_FIX}/clip_meta.parquet'
        """,
        "codec_roundtrips": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(event_id) AS BIGINT) AS sum_ids,
                   round(sum(value), 4) AS total_value
            FROM events GROUP BY event_type
        """,
        "cep_funnel": """
            WITH e AS (SELECT user_id, epoch_ms(ts) AS tms, event_type FROM events),
            v AS (SELECT DISTINCT user_id, tms FROM e WHERE event_type = 'view'),
            c AS (SELECT DISTINCT user_id, tms FROM e WHERE event_type = 'click'),
            p AS (SELECT DISTINCT user_id, tms FROM e WHERE event_type = 'purchase'),
            vc AS (
              SELECT v.user_id, v.tms AS view_ms, min(c.tms) AS click_ms
              FROM v JOIN c ON v.user_id = c.user_id AND c.tms > v.tms
                            AND c.tms <= v.tms + 259200000
              GROUP BY 1, 2),
            vcp AS (
              SELECT vc.user_id, view_ms, click_ms, min(p.tms) AS purchase_ms
              FROM vc JOIN p ON vc.user_id = p.user_id AND p.tms > click_ms
                             AND p.tms <= view_ms + 259200000
              GROUP BY 1, 2, 3)
            SELECT user_id, view_ms, click_ms, purchase_ms,
                   purchase_ms - view_ms AS duration_ms
            FROM vcp
        """,
        "tar_roundtrip": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   min(printf('doc_%09d.txt', doc_id)) AS first_doc,
                   max(printf('doc_%09d.txt', doc_id)) AS last_doc
            FROM documents GROUP BY lang
        """,
        "chunker_scan": """
            SELECT lang,
                   CAST(sum(CAST(ceil(length(text) / 256.0) AS BIGINT)) AS BIGINT) AS n_chunks,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   CAST(max(ceil(length(text) / 256.0)) - 1 AS INT) AS max_chunk_idx
            FROM documents WHERE length(text) > 0 GROUP BY lang
        """,
        # YAML-compiler twins with their own oracles
        "yaml_interp_group": """
            SELECT event_type || '-' || CAST(user_id % 2 AS VARCHAR) AS grp,
                   count(*) AS n, round(sum(value), 4) AS total_value
            FROM events GROUP BY 1
        """,
        "yaml_insert_part": """
            SELECT event_type, count(*) AS n FROM (
              SELECT event_type FROM events
              UNION ALL
              SELECT 'summary' AS event_type FROM (SELECT DISTINCT user_id FROM events)
            ) GROUP BY event_type
        """,
        "yaml_while": """
            WITH d AS (
              SELECT CASE WHEN event_id % 97 < 50
                          THEN event_id % 97
                               + 13 * CAST(ceil((50 - event_id % 97) / 13.0) AS BIGINT)
                          ELSE event_id % 97 END AS k
              FROM events)
            SELECT k, count(*) AS n FROM d GROUP BY k ORDER BY k
        """,
    }
    # YAML twins that share an existing query's contract reuse its oracle
    # verbatim — the pair (python-API query, YAML query) hashing to the same
    # oracle is exactly the parity claim.
    # r05 fold (VERDICT r04 #8): the former aliased-oracle twins
    # (yaml_* sections, avro/protobuf codecs, file/sqlite cache backends,
    # error_strategy_retry, dedupe_clusters_star) now execute INSIDE their
    # parents via _cross, so their aliases are gone with them.
    sql["jwt_roundtrip"] = """
        SELECT n_nationkey, n_name AS nation_name,
               CAST(n_regionkey * 10 AS BIGINT) AS score
        FROM nation
    """
    sql["pulsar_roundtrip"] = """
        SELECT n_name AS nation_name, n_nationkey,
               CAST(n_regionkey * 10 AS BIGINT) AS score
        FROM nation
    """
    sql["kafka_roundtrip"] = """
        SELECT n_name AS nation_name, n_nationkey,
               CAST(n_regionkey * 10 AS BIGINT) AS score
        FROM nation
    """
    sql["etcd_roundtrip"] = """
        SELECT n_name AS nation_name, n_nationkey,
               CAST(n_regionkey * 10 AS BIGINT) AS score,
               'PUT' AS ev_type
        FROM nation
    """
    sql["spanner_roundtrip"] = """
        SELECT n_name AS nation_name, n_nationkey,
               CAST(n_regionkey * 10 AS BIGINT) AS score,
               'INSERT' AS mod_type, 'nation' AS table_name
        FROM nation
    """
    sql["dynamodb_roundtrip"] = """
        SELECT n_nationkey, n_name AS nation_name,
               CAST(n_regionkey * 10 AS BIGINT) AS score
        FROM nation
    """
    sql["sql_raw_roundtrip"] = """
        SELECT n_nationkey, n_name AS nation_name,
               CAST(n_regionkey * 10 AS BIGINT) AS score
        FROM nation
    """
    sql["s3_roundtrip"] = """
        SELECT printf('nations/%05d.json', n_nationkey) AS s3_key,
               n_nationkey, n_name AS nation_name,
               CAST(n_regionkey * 10 AS BIGINT) AS score
        FROM nation
    """
    sql["jetstream_roundtrip"] = """
        SELECT 'nations.' || CAST(n_nationkey AS VARCHAR) AS nats_subject,
               n_nationkey, n_name AS nation_name,
               CAST(n_regionkey * 10 AS BIGINT) AS score
        FROM nation
    """
    sql["hdfs_roundtrip"] = """
        SELECT printf('n-%05d.json', n_nationkey) AS hdfs_path,
               n_nationkey, n_name AS nation_name,
               CAST(n_regionkey * 10 AS BIGINT) AS score
        FROM nation
    """
    sql["mongodb_roundtrip"] = """
        SELECT n_nationkey, n_name AS nation_name,
               CAST(n_regionkey * 10 AS BIGINT) AS score
        FROM nation
    """
    sql["es_roundtrip"] = """
        SELECT 'nations-' || CAST(n_regionkey % 2 AS VARCHAR) AS es_index,
               n_nationkey, n_name AS nation_name, n_regionkey AS region_key
        FROM nation
    """
    sql["awk_extract"] = """
        SELECT n_nationkey,
               n_name || '-' || CAST(n_regionkey AS VARCHAR) AS label,
               n_regionkey * 10 + 7 AS score
        FROM nation
    """
    sql["image_features"] = f"""
        SELECT label, count(*) AS n_images,
               CAST(sum(n_pixels) AS BIGINT) AS total_pixels,
               round(avg(mean_luma), 6) AS avg_luma,
               round(sum(mean_r), 4) AS sum_mean_r,
               round(avg(mean_b), 6) AS avg_mean_b
        FROM '{_FIX}/image_meta.parquet'
        GROUP BY label
    """
    sql["video_features"] = f"""
        SELECT label, count(*) AS n_videos,
               CAST(sum(n_frames) AS BIGINT) AS total_frames,
               CAST(sum(duration_ms) AS BIGINT) AS total_ms,
               round(avg(mean_luma), 6) AS avg_luma,
               round(sum(motion), 4) AS sum_motion
        FROM '{_FIX}/video_meta.parquet'
        GROUP BY label
    """
    sql["frame_sample"] = f"""
        WITH idx AS (SELECT i FROM range(0, 64) t(i) WHERE i % 2 = 0),
        fr AS (
          SELECT v.label, v.video_id, idx.i AS frame_idx,
                 (idx.i * 1000) // v.fps AS frame_ts_ms
          FROM '{_FIX}/video_meta.parquet' v JOIN idx ON idx.i < v.n_frames
        )
        SELECT label, count(DISTINCT video_id) AS n_videos,
               count(*) AS n_frames_sampled,
               CAST(sum(frame_ts_ms) AS BIGINT) AS sum_ts_ms,
               CAST(max(frame_idx) AS INTEGER) AS max_idx
        FROM fr GROUP BY label
    """
    sql["jmespath_projection"] = """
        WITH per_order AS (
          SELECT l_orderkey,
                 CAST(count(*) FILTER (WHERE l_quantity >= 30) AS INTEGER) AS n_big,
                 sum(l_quantity) AS total_qty,
                 max(l_extendedprice) AS max_price,
                 coalesce(array_to_string(
                   list_sort(list(l_partkey) FILTER (WHERE l_quantity >= 30)), ','), '') AS big_parts
          FROM lineitem GROUP BY l_orderkey
        )
        SELECT n_big, count(*) AS n_orders,
               round(sum(total_qty), 2) AS sum_qty,
               round(sum(max_price), 2) AS sum_max_price,
               CAST(sum(length(big_parts)) AS BIGINT) AS sum_parts_len
        FROM per_order GROUP BY n_big
    """
    # retry with deterministic errors + on_exhausted=reject converges to the
    # reject strategy's rows — shared oracle by design (see the docstring)
    sql["generate_rows"] = """
        SELECT id % 7 AS k, count(*) AS n, CAST(sum(id * id) AS BIGINT) AS sum_v
        FROM (SELECT range AS id FROM range(200)) GROUP BY id % 7
    """
    return sql


if __name__ == "__main__":
    from bento_spark.session import get_spark

    s = get_spark()
    entry(s).show(10, truncate=False)
