"""Per-stage isolation bench (guide §1.4): times sub-stages of the hot
headline queries with the noop sink so the computation is measured, not
the sink. NOT the driver's bench — bench.py stays frozen; numbers from
here are cited in OPTIMIZATION_r06.md.

Usage: python bench_extra.py [stage ...]   (default: all)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from bento_spark.session import get_spark  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name, make_df, n=3):
    best = float("inf")
    for _ in range(n):
        spark.sparkContext.setJobDescription(name)
        df = make_df()
        t0 = time.perf_counter()
        _force(df)
        best = min(best, time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    print(f"{name:55s} {best:8.3f}s")
    return best


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    only = set(sys.argv[1:])
    spark = get_spark(app_name="bench-extra")
    spark.sparkContext.setLogLevel("ERROR")

    def want(s):
        return not only or s in only

    ev = lambda: entrymod._t(spark, sf_dir, "events")  # noqa: E731
    docs = lambda: entrymod._t(spark, sf_dir, "documents")  # noqa: E731

    # warm
    _force(ev().groupBy("event_type").count())
    _force(docs().select(F.length("text").alias("l")).groupBy().sum())

    if want("parse_log"):
        from bento_spark.operators.codec import CLF_PATTERN, grok_pattern_to_regex

        regex, fields = grok_pattern_to_regex(CLF_PATTERN)
        full = r"\A(?:" + regex + r")[\s\S]*\Z"
        lines = lambda: ev().select(  # noqa: E731
            F.format_string(
                '10.0.%d.%d - u%d [01/Jan/2024:00:00:00 +0000] "%s /page/%d HTTP/1.1" %d %d',
                (F.col("user_id") % 256).cast("int"),
                (F.col("event_id") % 256).cast("int"),
                F.col("user_id"),
                F.when(F.col("event_type") == "purchase", F.lit("POST")).otherwise(F.lit("GET")),
                (F.col("event_id") % 50).cast("int"),
                F.when(F.col("event_type") == "error", F.lit(500)).otherwise(F.lit(200)),
                F.col("value").cast("int"),
            ).alias("line")
        )
        timed(spark, "parse_log: synthesize lines only", lines)
        timed(
            spark,
            "parse_log: synth + ONE regexp_replace",
            lambda: lines().select(F.regexp_replace(F.col("line"), full, "x").alias("r")),
        )
        timed(
            spark,
            "parse_log: synth + replace + split(once)",
            lambda: lines().select(
                F.split(F.regexp_replace(F.col("line"), full, "\x01".join(f"${i}" for i in range(1, 9))), "\x01").alias("p")
            ),
        )
        timed(spark, "parse_log: FULL query", lambda: entrymod.queries()["parse_log"](spark, sf_dir))

    if want("simhash"):
        from bento_spark.operators import dedupe_fuzzy

        tok = lambda: docs().select(  # noqa: E731
            F.col("doc_id").alias("id"),
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("t"),
        )
        timed(spark, "simhash: explode tokens only", tok)
        timed(
            spark,
            "simhash: explode + xxhash64",
            lambda: tok().select("id", F.xxhash64("t").alias("h")),
        )
        timed(
            spark,
            "simhash: signature table (64 vote aggs)",
            lambda: dedupe_fuzzy.simhash_table(docs(), "doc_id", "text"),
        )
        timed(spark, "simhash: FULL query", lambda: entrymod.queries()["simhash"](spark, sf_dir))

    if want("minhash_lsh"):
        from bento_spark.operators import dedupe_fuzzy

        timed(
            spark,
            "minhash: shingle_table (zip-slice+distinct)",
            lambda: dedupe_fuzzy.shingle_table(docs(), "doc_id", "text", 3),
        )
        sig_cols = [F.min(F.xxhash64("g", F.lit(s))).alias(f"mh{s}") for s in range(64)]
        timed(
            spark,
            "minhash: shingles + 64 min-hash aggs",
            lambda: dedupe_fuzzy.shingle_table(docs(), "doc_id", "text", 3).groupBy("id").agg(*sig_cols),
        )
        timed(spark, "minhash: FULL query", lambda: entrymod.queries()["minhash_lsh"](spark, sf_dir))

    if want("text_stats"):
        from bento_spark.operators import text

        timed(
            spark,
            "text_stats: token_count only",
            lambda: docs().select("doc_id", text.token_count("text").alias("n")),
        )
        timed(
            spark,
            "text_stats: bpe_token_count only",
            lambda: docs().select("doc_id", text.bpe_token_count("text").alias("n")),
        )
        timed(
            spark,
            "text_stats: punct_ratio only",
            lambda: docs().select("doc_id", text.punct_ratio("text").alias("r")),
        )
        timed(
            spark,
            "text_stats: stopword_ratio only",
            lambda: docs().select("doc_id", text.stopword_ratio("text").alias("r")),
        )
        timed(
            spark,
            "text_stats: quality_score only",
            lambda: docs().select("doc_id", text.quality_score("text").alias("q")),
        )
        timed(spark, "text_stats: FULL query", lambda: entrymod.queries()["text_stats"](spark, sf_dir))

    if want("tar"):
        from bento_spark.operators.scanners import tar_encode, unarchive_tar

        d3 = lambda: docs().select(  # noqa: E731
            "lang", F.format_string("doc_%09d.txt", F.col("doc_id")).alias("fname"), "text"
        )
        timed(spark, "tar: encode only", lambda: tar_encode(d3(), ["lang"], "fname", "text", out_col="blob"))
        timed(
            spark,
            "tar: encode + unarchive",
            lambda: unarchive_tar(tar_encode(d3(), ["lang"], "fname", "text", out_col="blob"), "blob", keep_cols=["lang"]),
        )
        timed(spark, "tar: FULL query", lambda: entrymod.queries()["tar_roundtrip"](spark, sf_dir))

    if want("small"):
        for q in (
            "pricing_summary",
            "lookup_join",
            "multi_join",
            "session_window",
            "cep_funnel",
            "dedupe_exact",
            "chunker_scan",
            "audio_features_window",
            "clip_transcript_join",
        ):
            timed(spark, f"full: {q}", lambda q=q: entrymod.queries()[q](spark, sf_dir))

    spark.stop()


if __name__ == "__main__":
    main()
