"""Near-duplicate detection: exact-hash, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine.

Reference analogue: only exact `dedupe` via cache
(/root/reference/internal/impl/pure/processor_dedupe.go:81); the fuzzy
family is the training-data-pipeline extension this engine adds.

Scale design:
- exact: hash-groupBy — one shuffle on the fingerprint.
- ngram-jaccard (exact): explode + self-join on shingle — correct but
  O(pairs); used as the small-scale oracle for the LSH path.
- MinHash+LSH: shingle rows -> k xxhash64 min-hash groupBy aggregates
  (all JVM-side, codegen'd, NO Python) -> band buckets -> join within
  bucket -> verify with exact Jaccard. At 100 TB the band-bucket join is
  the only wide shuffle and verification touches only bucket collisions.
- SimHash: 64-bit signature via exploded-token bit-vote sums (codegen);
  hamming band join with pigeonhole guarantee.

NOTE on higher-order functions: Spark evaluates F.transform/F.aggregate/
F.zip_with INTERPRETED (no whole-stage codegen). For per-row arrays of
hundreds of elements that is a 3-8x penalty, so every hot path here is
formulated as explode + relational aggregate instead; the Column-level
variants (word_ngrams, minhash_signature, with_simhash) remain for
composition in small expressions.

NOTE on fault tolerance: the `localCheckpoint` plans here (shingle and
candidate tables, simhash signatures, connected-components rounds) keep
their blocks on the executor that computed them and drop the lineage.
They cannot be recomputed after an executor is lost: the query fails
instead of re-running the lost partitions. Local mode (one JVM) never
loses an executor alone; on a cluster, a lost executor fails the query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bento_spark.operators.text import normalize_text


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text (JVM expressions)."""
    toks = F.split(normalize_text(col), " ")
    k = F.size(toks) - (n - 1)
    grams = F.when(k <= 0, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )
    return F.array_distinct(grams)


def _gram_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, g) word n-gram shingle ROWS (non-distinct) — the shuffle-free
    codegen formulation.

    `word_ngrams` builds the shingle ARRAY with higher-order functions,
    which Spark evaluates interpreted (~8s for 5k docs). The previous
    relational form (posexplode + window leads) was codegen'd but the
    Window(partitionBy id) forced a full shuffle+sort of the token table
    just to read the next n-1 tokens. Those leads already exist array-side:
    arrays_zip(toks, slice(toks,2,..), slice(toks,3,..)) pads the shorter
    slices with NULL, so zipped[i] = (toks[i], toks[i+1], toks[i+2]) —
    posexplode that and concat_ws (which skips NULLs) builds the identical
    gram set with ZERO exchanges, and any groupBy(id) downstream now
    partial-aggregates map-side to one row per doc BEFORE its shuffle
    (guide §2.3 "aggregate before you shuffle"; equivalence proven by
    exceptAll in both directions at sf1.0 — 0 differing rows).

    Docs shorter than n tokens contribute their whole text as one shingle
    (pos-0 row; concat_ws skips the NULL leads), matching word_ngrams
    semantics: keep a row iff the last lead is non-NULL (full-width gram)
    or pos == 0 (the short-doc whole-text shingle).
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.split(normalize_text(text_col), " ").alias("toks"),
    )
    zcols = [F.col("toks")] + [
        F.slice("toks", k + 1, F.size("toks")).alias(f"l{k}") for k in range(1, n)
    ]
    z = base.select("id", F.posexplode(F.arrays_zip(*zcols)).alias("pos", "z"))
    gram = F.concat_ws(" ", F.col("z.toks"), *[F.col(f"z.l{k}") for k in range(1, n)])
    keep = F.col(f"z.l{n - 1}").isNotNull() | (F.col("pos") == 0)
    return z.filter(keep).select("id", gram.alias("g"))


def shingle_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, g) DISTINCT word n-gram shingles (see _gram_rows)."""
    return _gram_rows(df, id_col, text_col, n).distinct()


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedupe: group by content fingerprint, keep canonical (min id).
    Returns (fp, n_dups, canonical_id) for groups with >1 member."""
    from bento_spark.operators.text import fingerprint

    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_dups") > 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (a < b, jaccard >= threshold).

    Explode shingles, self-join on shingle, count intersection, compute
    |A∩B| / (|A|+|B|-|A∩B|). Quadratic in duplicates-per-shingle — the
    small-scale truth; use minhash_lsh_pairs at scale.

    Small-scale only: `sizes` (one row per document of the whole corpus)
    is broadcast to every task, twice, with no size check.
    """
    # One checkpoint: the distinct shingle table feeds both self-join
    # sides and the set-size aggregate. Set sizes (one row per doc,
    # partial-aggregated map-side) attach to the AGGREGATED pair table by
    # broadcast join; the earlier `sh.join(sizes, "id")` pre-join
    # re-shuffled every gram row by id on BOTH self-join sides just to
    # carry a per-doc constant through the intersection count.
    sh = shingle_table(df, id_col, text_col, n).localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .join(F.broadcast(sizes.withColumnsRenamed({"id": "id_a", "sz": "size_a"})), "id_a")
        .join(F.broadcast(sizes.withColumnsRenamed({"id": "id_b", "sz": "size_b"})), "id_b")
    )
    jac = F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter"))
    return inter.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def minhash_signature(col: Column | str, num_hashes: int = 64) -> Column:
    """MinHash signature: per seed s, min over shingles of xxhash64(g, s).
    Entirely JVM-side (higher-order functions over the shingle array)."""
    grams = col if isinstance(col, Column) else F.col(col)
    return F.array(
        *[F.array_min(F.transform(grams, lambda g: F.xxhash64(g, F.lit(s)))) for s in range(num_hashes)]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Scalable near-dup: minhash -> band buckets -> candidate join ->
    exact-Jaccard verification of candidates only.

    bands=16, rows/band=4 puts the S-curve knee near j≈0.7 — good recall at
    the 0.8 threshold. The only wide operation is the bucket self-join;
    candidates per bucket are tiny at production thresholds.
    """
    rows_per_band = num_hashes // bands
    # Codegen formulation end to end: shingle rows via the shuffle-free
    # arrays_zip/slice form (_gram_rows — zero exchanges before the
    # signature groupBy, which partial-aggregates map-side to one row per
    # doc), 64 per-seed min-hashes as groupBy aggregates. The
    # higher-order-function versions (word_ngrams + transform/array_min)
    # evaluate interpreted — measured ~4x slower.
    #
    # Signatures are computed from the RAW (non-distinct) gram rows:
    # min() is duplicate-insensitive, so the signatures are identical to
    # the distinct-shingle ones and the full-table distinct shuffle
    # disappears. Distinct-shingle semantics are applied only where they
    # matter — verification — and only AFTER pruning to candidate ids (a
    # broadcast semi-join), so the corpus-wide gram table is never
    # re-shuffled for verification.
    #
    # Two localCheckpoints — banded and cands — and no more: without them
    # every broadcast side re-expands its whole subtree (a plan audit
    # found 14 Window + 14 FileScan copies and ZERO ReusedExchange), but
    # each checkpoint also costs eager planning + codegen driver time, so
    # they sit exactly at the two fan-out points: `banded` feeds both
    # self-join sides, `cands` feeds the id-prune, the intersection join
    # and the size joins. (localCheckpoint, not persist: checkpointed RDDs
    # are reclaimed by the context cleaner; persist() entries leak in the
    # CacheManager until explicit unpersist.)

    grams = _gram_rows(df, id_col, text_col, n)

    # expressions as SQL strings: one py4j round trip each (the Column-API
    # construction of 64 aggregates + 16 band structs took seconds of
    # driver time per call)
    sig_exprs = [F.expr(f"min(xxhash64(g, {s})) AS mh{s}") for s in range(num_hashes)]
    sigs = grams.groupBy("id").agg(*sig_exprs)
    # the band rows carry ONLY (id, band, bucket) — never the gram arrays.
    # Exploding grams into 2x`bands` shuffle copies is the classic LSH
    # mistake at scale; verification re-reads grams once per side instead.
    bucket_structs = []
    for b in range(bands):
        cols = ", ".join(f"CAST(mh{s} AS STRING)" for s in range(b * rows_per_band, (b + 1) * rows_per_band))
        bucket_structs.append(f"named_struct('band', {b}, 'bucket', xxhash64(concat_ws(',', {cols})))")
    banded = sigs.selectExpr("id", f"explode(array({', '.join(bucket_structs)})) AS bb").selectExpr(
        "id", "bb.band AS band", "bb.bucket AS bucket"
    )
    banded = banded.localCheckpoint(eager=False)

    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .localCheckpoint(eager=False)
    )
    # exact-Jaccard verification, relationally: intersection size = count of
    # shared DISTINCT shingles per candidate pair; set sizes likewise. The
    # gram table is first pruned to candidate ids with a broadcast
    # semi-join (guide §3.2's semi-join pre-filter): at production
    # collision rates candidates are a sliver of the corpus, so the wide
    # shuffles of the verification joins carry ~nothing.
    # Prune to candidate DOCS before re-gramming: the broadcast semi-join
    # runs on the 1-row-per-doc table, so the verification gram pipeline
    # (explode + window + distinct) touches only candidate documents —
    # at production collision rates a sliver of the corpus — instead of
    # re-sorting the corpus-wide token table a second time.
    cand_ids = cands.selectExpr("explode(array(id_a, id_b)) AS _cand_id").distinct()
    cand_docs = df.select(id_col, text_col).join(
        F.broadcast(cand_ids), F.col(id_col) == F.col("_cand_id"), "leftsemi"
    )
    # The distinct candidate-shingle table is checkpointed ONCE and feeds
    # three consumers (both intersection-join sides and the set-size
    # aggregate); un-checkpointed, each consumer re-ran the whole
    # semi-join + gram + distinct pipeline. Set sizes are a groupBy
    # (partial-aggregated map-side to one row per doc) broadcast-joined to
    # the AGGREGATED pair table — the earlier per-row window count
    # re-shuffled and re-sorted every candidate gram row just to tag a
    # value that is per-doc constant. `cands` is explicitly broadcast into
    # the first intersection join: after localCheckpoint its LogicalRDD
    # has no size statistics (defaultSizeInBytes = +inf), so the planner
    # would otherwise shuffle the big gram table for a sort-merge join
    # against a table that is, at production collision rates, tiny.
    shingle = _gram_rows(cand_docs, id_col, text_col, n).distinct().localCheckpoint(eager=False)
    sizes = shingle.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    sa = shingle.select(F.col("id").alias("id_a"), "g")
    sb = shingle.select(F.col("id").alias("id_b"), "g")
    verified = (
        F.broadcast(cands)
        .join(sa, "id_a")
        .join(sb, ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .join(F.broadcast(sizes.withColumnsRenamed({"id": "id_a", "sz": "size_a"})), "id_a")
        .join(F.broadcast(sizes.withColumnsRenamed({"id": "id_b", "sz": "size_b"})), "id_b")
    )
    jac = F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter"))
    return verified.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


SIMHASH_BITS = 64


def with_simhash(df: DataFrame, text_col: str = "text", out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash over word tokens — fully JVM-side.

    Token hash = xxhash64(token); bit votes accumulate in ONE
    `F.aggregate` pass whose accumulator is a 64-int array (per token:
    +1/-1 per bit via shiftright/bitget). No Python in the path — whole-
    stage codegen end to end (the earlier per-token Python FNV loop was the
    benchmark's slowest stage).
    """
    # SQL form because shiftright/shiftleft need expression shift amounts
    sig = F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              transform(split(lower({text_col}), '\\\\s+'), t -> xxhash64(t)),
              array_repeat(0, {SIMHASH_BITS}),
              (acc, h) -> zip_with(
                acc,
                sequence(0, {SIMHASH_BITS - 1}),
                (a, b) -> a + int(pmod(shiftright(h, b), 2) * 2 - 1)
              )
            ),
            sequence(0, {SIMHASH_BITS - 1}),
            (v, b) -> CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), b)
                           ELSE CAST(0 AS BIGINT) END
          ),
          CAST(0 AS BIGINT),
          (acc, x) -> acc | x
        )
        """
    )
    empty = F.length(F.trim(F.col(text_col))) == 0
    return df.withColumn(out_col, F.when(empty, F.lit(0).cast("bigint")).otherwise(sig))


def simhash_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64) -> DataFrame:
    """(id, simhash...) via explode + groupBy — the fully-codegen'd
    relational formulation. Higher-order functions (F.aggregate/zip_with)
    are interpreted in Spark, so the array formulation in `with_simhash`
    runs ~7x slower; exploding tokens into rows keeps every operator inside
    whole-stage codegen and the bit-vote sums combine map-side.

    Bit votes are PACKED: per hash word, 64 independent per-bit ±1 vote
    sums are equivalent to 64 per-bit 0/1 counts s_b plus the token count
    n (vote_b = 2*s_b - n, so vote_b > 0 <=> 2*s_b > n). Two 32-bit count
    lanes share one 64-bit sum aggregate — lane g holds bits (2g, 2g+1) —
    so the aggregate needs 32 sums + one count instead of 64 sums. Lanes
    cannot carry into each other below 2^31 tokens per document (no real
    document). This quartered driver-side plan build + codegen time
    (measured: 64-agg plan toRdd 6.3s -> 1.9s at 16 lanes; 32-bit lanes
    chosen for the overflow margin) and halves aggregation state; the
    produced signatures are bit-identical (fixture-pinned contract).

    bits=64 (default): one `simhash bigint` column — the verified/oracle
    contract (fixtures pin these signatures). bits=128: columns simhash_0,
    simhash_1, where word w>0 uses the salted token hash xxhash64(t, w) —
    word 0 is bit-identical to the 64-bit signature.
    """
    if bits % 64 != 0:
        raise ValueError("bits must be a multiple of 64")
    n_words = bits // 64
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("t"),
    )
    hash_cols = [
        (F.xxhash64("t") if w == 0 else F.xxhash64("t", F.lit(w))).alias(f"h{w}")
        for w in range(n_words)
    ]
    tok = tok.select("id", *hash_cols)
    # expressions as SQL strings: one py4j round trip each instead of ~6
    # (Column-API construction of the old 64-expression list took ~2s of
    # driver time per call)
    packs = [
        F.expr(
            f"sum(((shiftrightunsigned(h{w}, {2 * g}) & 1)) + "
            f"((shiftrightunsigned(h{w}, {2 * g + 1}) & 1) << 32)) AS p{w}_{g}"
        )
        for w in range(n_words)
        for g in range(32)
    ]
    agg = tok.groupBy("id").agg(F.count(F.lit(1)).alias("_n"), *packs)
    sig_sqls = []
    for w in range(n_words):
        terms = []
        for b in range(64):
            g, slot = divmod(b, 2)
            lane = f"((p{w}_{g} >> {32 * slot}) & 4294967295)"
            terms.append(f"(CASE WHEN 2 * {lane} > _n THEN shiftleft(CAST(1 AS BIGINT), {b}) ELSE CAST(0 AS BIGINT) END)")
        name = "simhash" if n_words == 1 else f"simhash_{w}"
        sig_sqls.append("(" + " | ".join(terms) + f") AS {name}")
    return agg.selectExpr("id", *sig_sqls)


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
    n_bands: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: band the signature into n_bands equal chunks
    (default 4 — pigeonhole: hamming <= n_bands-1 guarantees one identical
    chunk; a max_hamming above that bound keeps the guaranteed-recall zone
    and adds best-effort candidates beyond it), join on chunk, verify
    hamming with bit_count (JVM-side).

    SCALE NOTE — (bits, n_bands, max_hamming) are a JOINT choice:
    - hamming distance scales ~linearly with signature width, so the
      64-bit h<=3 criterion corresponds to h<=7 at 128 bits etc.;
    - band width = bits/n_bands sets random-collision volume: the
      candidate join stays linear only while 2^band_bits >> n_docs.
      64-bit/4 bands -> 16-bit bands saturate ~1e5 docs (the 500k probe
      measured the join going quadratic: 4.6s at 50k -> 127s at 500k);
      128-bit/4 bands -> 32-bit bands hold to ~1e9 docs;
      256-bit/8 bands -> 32-bit bands with guaranteed recall to h<=7.
    64-bit stays the default because its signatures are the fixture-pinned
    oracle contract; it IS the small-scale twin.
    """
    if bits % 64 != 0:
        raise ValueError("bits must be a multiple of 64")
    if n_bands is None:
        n_bands = 4
    if bits % n_bands != 0:
        raise ValueError(f"bits={bits} not divisible into {n_bands} bands")
    band_bits = bits // n_bands
    if band_bits > 63:
        raise ValueError("band wider than 63 bits: raise max_hamming or lower bits")
    if 64 % band_bits != 0:
        # chunk_expr slices within ONE 64-bit word; a band_bits that doesn't
        # divide 64 (e.g. bits=192, n_bands=4 -> 48-bit bands) would
        # straddle word boundaries and silently truncate bands to the
        # within-word remainder — collapsing effective band width and
        # re-entering the quadratic-collision regime
        raise ValueError(
            f"band width {band_bits} must divide 64 (bands may not straddle "
            f"64-bit signature words); choose n_bands so bits/n_bands is in "
            f"(1,2,4,8,16,32,64)"
        )
    n_words = bits // 64
    sig_cols = ["simhash"] if n_words == 1 else [f"simhash_{w}" for w in range(n_words)]
    # ONE materialization point: the signature table feeds both self-join
    # sides, and exchange reuse does NOT reliably fire across a broadcast
    # join boundary (the small side re-expands the whole aggregation
    # subtree; measured: at 128 bits the double-computed signature
    # pipeline cost more than the checkpoint's eager planning — 3.31s vs
    # 2.16s at the 50k probe — and even the 64-bit bench case is ~0.3s
    # faster checkpointed).
    sh = simhash_table(df.select(id_col, text_col), id_col, text_col, bits=bits).localCheckpoint(
        eager=False
    )

    def chunk_expr(k: int, side: str | None = None) -> Column:
        """Band k = bits [k*band_bits, (k+1)*band_bits) of the concatenated
        signature; band_bits divides 64 or 64 divides band_bits, so a band
        never straddles a word boundary for supported shapes."""
        start = k * band_bits
        widx, off = divmod(start, 64)
        mask = (1 << band_bits) - 1
        col = sig_cols[widx] if side is None else f"{side}.{sig_cols[widx]}"
        return F.shiftrightunsigned(col, off).bitwiseAND(F.lit(mask))

    chunks = sh.select(
        "id",
        *sig_cols,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("band"), chunk_expr(k).alias("chunk"))
                    for k in range(n_bands)
                ]
            )
        ).alias("c"),
    ).select("id", *sig_cols, "c.band", "c.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    # Emit each pair EXACTLY ONCE — from its first matching band — by
    # requiring every earlier band to differ, and verify hamming INSIDE the
    # join: both are post-probe predicates evaluated inside the join
    # operator, so near-dup clusters that collide in all bands no longer
    # fan out into k copies per pair, and the global
    # dropDuplicates exchange (23.6M candidate rows at sf1 — the single
    # biggest simhash stage) disappears entirely. Output set is identical:
    # a pair matching in >=1 band appears for exactly its smallest band.
    ham = None
    for c in sig_cols:
        h = F.bit_count(F.col(f"a.{c}").bitwiseXOR(F.col(f"b.{c}")))
        ham = h if ham is None else ham + h
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.chunk") == F.col("b.chunk"))
        & (F.col("a.id") < F.col("b.id"))
        & (ham <= max_hamming)
    )
    for j in range(n_bands - 1):
        cond = cond & ((F.col("a.band") < j + 1) | (chunk_expr(j, "a") != chunk_expr(j, "b")))
    # Deliberate join strategy (guide §3.1): both sides are the same
    # checkpointed chunk table (no stats -> the planner defaulted to
    # sort-merge; broadcast can never apply to a corpus-sized self-join).
    # A shuffled-hash build skips BOTH per-partition sorts of the chunk
    # rows — measured 2.5s -> 1.9s at 50k docs, consistent across
    # interleaved rounds. Build side = rows per (band, chunk) hash
    # partition, ~60 bytes each; a corpus whose docs concentrate into one
    # chunk bucket has quadratic join OUTPUT regardless of strategy, so
    # the hash build is never the binding constraint.
    return a.hint("shuffle_hash").join(b, cond).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), ham.alias("hamming")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Cluster near-duplicate PAIRS into groups: (node, cluster_id) where
    cluster_id = min node id reachable through the pair graph.

    This is the endpoint of every dedupe pipeline — pairs alone can't drive
    "keep one canonical doc per group". Implemented as iterative min-label
    propagation (the reference's `while` processor shape,
    /root/reference/internal/impl/pure/processor_while.go:60, driving a
    distributed loop): each round is one join + one groupBy; converges in
    O(graph diameter) rounds, each a bounded shuffle on node id. Labels are
    persisted per round and the loop exits early when no label changes.
    """
    # localCheckpoint per round: cuts the exponentially growing join lineage
    # AND avoids the persist/unpersist bookkeeping — checkpointed RDDs are
    # reclaimed by the context cleaner once unreferenced, so neither the
    # per-round labels nor the final result leak storage across calls.
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 40,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm): converges in O(log^2 n) rounds regardless
    of graph diameter, where min-label propagation
    (`connected_components`) needs O(diameter) rounds and silently
    under-merges long chains past its iteration cap. Each round is two
    groupBy shuffles on node id; edges collapse toward (node, component
    min) star form.

    large-star: per node u, link every strictly-larger neighbor to
    min(neighbors + self). small-star: per node u over smaller-or-equal
    neighbors, link them (and u) to the minimum. Convergence = edge set
    stable (count + order-free hash).
    """
    e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).filter(
        F.col("u") != F.col("v")
    ).distinct().localCheckpoint(eager=True)

    def signature(edges: DataFrame) -> tuple[int, int]:
        # bit_xor: order-free and overflow-free under ANSI mode (sum of
        # xxhash64 values overflows long)
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        return (row.n, row.h or 0)

    def large_star(edges: DataFrame) -> DataFrame:
        sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(edges: DataFrame) -> DataFrame:
        # orient toward the larger endpoint so each group sees only
        # smaller-or-equal neighbors
        o = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = o.groupBy("u").agg(F.min("v").alias("m"))
        links = o.join(m, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        self_links = m.select(F.col("u"), F.col("m").alias("v"))
        return (
            links.unionByName(self_links)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    sig = signature(e)
    for _ in range(max_iters):
        e = small_star(large_star(e)).localCheckpoint(eager=True)
        new_sig = signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    # star form: every edge is (node, component_min); centers label themselves
    centers = e.select(F.col("v").alias("node")).distinct().withColumn(
        "cluster_id", F.col("node")
    )
    members = e.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
    return members.unionByName(centers).distinct()


def dedupe_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n: int = 3,
    algo: str = "label",
) -> DataFrame:
    """Near-dup clusters over documents: jaccard pairs -> connected
    components -> (cluster_id, n_members, member_min, member_max).
    Singleton documents are excluded (no near-dup).

    algo="label" (min-label propagation, O(diameter) rounds — fine for
    near-dup graphs, which have small diameter) or "star" (large/small-star,
    O(log^2 n) rounds — the scale path when the pair graph may contain long
    chains)."""
    algos = {"label": connected_components, "star": connected_components_star}
    if algo not in algos:
        raise ValueError(f"unsupported clustering algo {algo!r} (supported: {sorted(algos)})")
    pairs = ngram_jaccard_pairs(df, id_col, text_col, n=n, threshold=threshold)
    cc = algos[algo](pairs)
    return cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("member_min"),
        F.max("node").alias("member_max"),
    )
