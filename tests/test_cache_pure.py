"""Pure in-process cache backends — memory / lru / ttlru / noop /
multilevel (reference: internal/impl/pure/cache_{memory,lru,ttlru,noop,
multilevel}.go). These live and die with the process (the reference's own
contract); restart-survival belongs to the file/sqlite/redis backends."""

from __future__ import annotations

import pytest

from bento_spark.operators.cache import (
    FileCache,
    MemoryCache,
    MultilevelCache,
    NoopCache,
)
from bento_spark.plans.compiler import compile_yaml
from bento_spark.plans.lint import lint_yaml


def _kv(spark, *pairs):
    return spark.createDataFrame(list(pairs), "key string, value string")


def _keys(spark, *ks):
    return spark.createDataFrame([(k,) for k in ks], "key string")


# ---------------------------------------------------------------- memory/lru


def test_memory_set_get_roundtrip(spark):
    c = MemoryCache(spark)
    c.set(_kv(spark, ("a", "1"), ("b", "2")))
    assert {r.key: r.value for r in c.snapshot().collect()} == {"a": "1", "b": "2"}
    enriched = c.get(_keys(spark, "a", "miss"))
    assert {r.key: r.value for r in enriched.collect()} == {"a": "1", "miss": None}


def test_lru_capacity_evicts_oldest_write(spark):
    # cache_lru.go: fixed-size cache, oldest entry evicted at capacity
    c = MemoryCache(spark, cap=2)
    c.set(_kv(spark, ("a", "1")))
    c.set(_kv(spark, ("b", "2")))
    c.set(_kv(spark, ("c", "3")))  # evicts a
    assert {r.key for r in c.snapshot().collect()} == {"b", "c"}
    # re-writing refreshes recency: b survives the next eviction
    c.set(_kv(spark, ("b", "9")))
    c.set(_kv(spark, ("d", "4")))  # evicts c, not b
    assert {r.key: r.value for r in c.snapshot().collect()} == {"b": "9", "d": "4"}


def test_ttlru_default_ttl_expiry(spark):
    # cache_ttlru.go: every entry carries the cache-level default_ttl
    c = MemoryCache(spark, cap=1024, default_ttl="5m")
    t0 = 1_700_000_000_000
    c.set(_kv(spark, ("a", "1")), now_ms=t0)
    assert c.snapshot(now_ms=t0 + 299_000) is not None
    assert c.snapshot(now_ms=t0 + 301_000) is None  # expired → absent
    # expired key counts as absent for add
    rejected = c.add(_kv(spark, ("a", "2")), now_ms=t0 + 301_000)
    assert rejected.count() == 0


def test_memory_add_rejects_existing(spark):
    c = MemoryCache(spark)
    c.set(_kv(spark, ("a", "1")))
    rejected = c.add(_kv(spark, ("a", "x"), ("b", "2")))
    assert [r.key for r in rejected.collect()] == ["a"]
    assert {r.key: r.value for r in c.snapshot().collect()} == {"a": "1", "b": "2"}


def test_memory_init_values_and_delete(spark):
    # cache_lru.go's init_values pre-population
    c = MemoryCache(spark, init_values={"foo": "bar"})
    assert {r.key: r.value for r in c.snapshot().collect()} == {"foo": "bar"}
    c.delete(_keys(spark, "foo"))
    assert c.snapshot() is None


# --------------------------------------------------------------------- noop


def test_noop_swallows_everything(spark):
    c = NoopCache(spark)
    c.set(_kv(spark, ("a", "1")))
    assert c.snapshot() is None
    assert c.add(_kv(spark, ("a", "1"))).count() == 0  # nothing ever rejected
    got = c.get(_keys(spark, "a"))
    assert [r.value for r in got.collect()] == [None]


# --------------------------------------------------------------- multilevel


def test_multilevel_set_writes_through_and_shallow_wins(spark, tmp_path):
    l0 = MemoryCache(spark, cap=16)
    l1 = FileCache(spark, str(tmp_path / "l1"))
    m = MultilevelCache([l0, l1])
    m.set(_kv(spark, ("a", "1")))
    # write-through: both levels hold the entry (cache_multilevel.go:129)
    assert {r.key: r.value for r in l0.snapshot().collect()} == {"a": "1"}
    assert {r.key: r.value for r in l1.snapshot().collect()} == {"a": "1"}
    # shallow level wins on conflicting values (Get's first-hit order)
    l0.set(_kv(spark, ("a", "hot")))
    assert {r.key: r.value for r in m.snapshot().collect()} == {"a": "hot"}


def test_multilevel_get_promotes_deep_hits(spark, tmp_path):
    l0 = MemoryCache(spark, cap=16)
    l1 = FileCache(spark, str(tmp_path / "l1"))
    m = MultilevelCache([l0, l1])
    l1.set(_kv(spark, ("cold", "v")))  # present only at the deep level
    enriched = m.get(_keys(spark, "cold"))
    assert {r.key: r.value for r in enriched.collect()} == {"cold": "v"}
    # passive promotion populated the shallow level (setUpToLevelPassive)
    assert {r.key: r.value for r in l0.snapshot().collect()} == {"cold": "v"}


def test_multilevel_add_rejects_key_present_anywhere(spark, tmp_path):
    l0 = MemoryCache(spark, cap=16)
    l1 = FileCache(spark, str(tmp_path / "l1"))
    m = MultilevelCache([l0, l1])
    l1.set(_kv(spark, ("deep", "v")))  # only in l1
    rejected = m.add(_kv(spark, ("deep", "x"), ("new", "n")))
    assert [r.key for r in rejected.collect()] == ["deep"]
    # accepted key landed at every level; rejected key's value unchanged
    assert {r.key: r.value for r in l0.snapshot().collect()} == {"new": "n"}
    assert {r.key: r.value for r in m.snapshot().collect()} == {"deep": "v", "new": "n"}


def test_multilevel_delete_everywhere(spark, tmp_path):
    l0 = MemoryCache(spark, cap=16)
    l1 = FileCache(spark, str(tmp_path / "l1"))
    m = MultilevelCache([l0, l1])
    m.set(_kv(spark, ("a", "1"), ("b", "2")))
    m.delete(_keys(spark, "a"))
    assert {r.key for r in m.snapshot().collect()} == {"b"}
    assert {r.key for r in l1.snapshot().collect()} == {"b"}


# ------------------------------------------------------------------- YAML


def test_yaml_ttlru_set_get_one_pipeline(spark, tmp_path):
    """set + get in one pipeline share the memoized in-process instance
    (the reference shares one registered resource across components)."""
    src = tmp_path / "in"
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "id int, name string"
    ).write.parquet(str(src))
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
cache_resources:
  - label: hot
    ttlru: {{cap: 64, default_ttl: 5m}}
pipeline:
  processors:
    - mapping: 'root.k = this.id.string()'
    - cache: {{resource: hot, operator: set, key: k, columns: [name]}}
    - cache: {{resource: hot, operator: get, key: k}}
""")
    rows = {r.id: r.value for r in p.build_batch(spark).collect()}
    assert rows == {1: "alpha", 2: "beta"}


def test_yaml_multilevel_resolves_labels(spark, tmp_path):
    src = tmp_path / "in"
    spark.createDataFrame([(1, "x")], "id int, name string").write.parquet(str(src))
    cold = FileCache(spark, str(tmp_path / "cold"))
    cold.set(_kv(spark, ("1", "from-cold")))
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
cache_resources:
  - label: hot
    lru: {{cap: 8}}
  - label: cold
    file: {{directory: {tmp_path}/cold}}
  - label: tiered
    multilevel: [hot, cold]
pipeline:
  processors:
    - mapping: 'root.k = this.id.string()'
    - cache: {{resource: tiered, operator: get, key: k}}
""")
    assert [r.value for r in p.build_batch(spark).collect()] == ["from-cold"]


def test_yaml_multilevel_self_reference_raises(spark, tmp_path):
    src = tmp_path / "in"
    spark.createDataFrame([(1,)], "id int").write.parquet(str(src))
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
cache_resources:
  - label: loop
    multilevel: [loop, loop]
pipeline:
  processors:
    - mapping: 'root.k = this.id.string()'
    - cache: {{resource: loop, operator: get, key: k}}
""")
    with pytest.raises(ValueError, match="references itself"):
        p.build_batch(spark)


def test_yaml_multilevel_mutual_cycle_raises(spark, tmp_path):
    """A: multilevel [B], B: multilevel [A] — must fail with a clear
    cycle error at plan-build time, not a RecursionError."""
    src = tmp_path / "in"
    spark.createDataFrame([(1,)], "id int").write.parquet(str(src))
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
cache_resources:
  - label: a
    multilevel: [b]
  - label: b
    multilevel: [a]
pipeline:
  processors:
    - mapping: 'root.k = this.id.string()'
    - cache: {{resource: a, operator: get, key: k}}
""")
    with pytest.raises(ValueError, match="multilevel cache cycle"):
        p.build_batch(spark)


# ------------------------------------------------------------------- lint


def test_lint_knows_pure_cache_backends():
    ok = """
input: {generate: {count: 1, mapping: 'root.x = 1'}}
cache_resources:
  - label: a
    lru: {cap: 100}
  - label: b
    ttlru: {cap: 100, default_ttl: 5m}
  - label: c
    noop: {}
  - label: d
    multilevel: [a, b]
output: {stdout: {}}
"""
    assert lint_yaml(ok) == []
    bad = """
input: {generate: {count: 1, mapping: 'root.x = 1'}}
cache_resources:
  - label: a
    lru: {cap: not_a_number}
  - label: d
    multilevel: [a, ghost]
output: {stdout: {}}
"""
    issues = lint_yaml(bad)
    assert any("'cap' must be an integer" in i for i in issues)
    assert any("unknown cache label 'ghost'" in i for i in issues)
    # every backend the compiler builds: clean with its required field,
    # reported without it
    required = {
        "memory": None, "lru": None, "ttlru": None, "ristretto": None, "noop": None,
        "file": "directory", "parquet": "path", "sqlite": "path", "mongodb": "url",
        "aws_dynamodb": "table", "aws_s3": "bucket", "gcp_cloud_storage": "bucket",
        "couchbase": "url", "nats_kv": "bucket", "memcached": "addresses", "redis": "url",
    }
    for kind, need in required.items():
        opts = f"{{{need}: x}}" if need else "{}"
        assert lint_yaml(f"cache_resources:\n  - label: c\n    {kind}: {opts}\n") == [], kind
        if need:
            assert lint_yaml(f"cache_resources:\n  - label: c\n    {kind}: {{}}\n") == [
                f"cache_resources[0] ({kind}): missing {need!r}"], kind
