"""The shared remote-cache operator (operators/cache.py) and the cache
registry (plans/processors.py CACHE_BACKENDS), without Spark: the
partition functions `get` and `add` run per Arrow batch are driven with a
scripted store, and every registry row is built from a minimal YAML
section."""

from __future__ import annotations

import pandas as pd
import pytest
import yaml

from bento_spark.operators.cache import fetch_batches, insert_batches
from bento_spark.plans.compiler import compile_yaml
from bento_spark.plans.lint import lint_yaml
from bento_spark.plans.processors import CACHE_BACKENDS


class Client:
    def __init__(self):
        self.closed = 0

    def close(self):
        self.closed += 1


class ScriptedStore:
    """Records each call; `fail` names the call that raises."""

    def __init__(self, entries=None, fail=None):
        self.entries = dict(entries or {})
        self.fail = fail
        self.clients: list[Client] = []
        self.calls: list[tuple] = []

    def open(self):
        self.clients.append(Client())
        return self.clients[-1]

    def _call(self, name, arg):
        self.calls.append((name, arg))
        if name == self.fail:
            raise ConnectionError(f"scripted {name} failure")

    def fetch(self, client, keys):
        self._call("fetch", keys)
        return {k: self.entries[k] for k in keys if k in self.entries}

    def insert(self, client, pairs):
        self._call("insert", pairs)
        accepted = [k not in self.entries for k, _ in pairs]
        self.entries.update((k, v) for k, v in pairs if k not in self.entries)
        return accepted


def _keys(*ks):
    return pd.DataFrame({"key": list(ks)})


def test_fetch_runs_once_per_batch_with_that_batchs_keys():
    store = ScriptedStore({"a": b"1", "c": "3", "d": None})
    out = list(fetch_batches(store, "key", "value", iter([_keys("a", "b"), _keys("c", "d")])))
    assert store.calls == [("fetch", ["a", "b"]), ("fetch", ["c", "d"])]
    assert [o.to_dict("list") for o in out] == [
        {"key": ["a", "b"], "value": ["1", None]},
        {"key": ["c", "d"], "value": ["3", None]},
    ]
    assert len(store.clients) == 1 and store.clients[0].closed == 1


def test_fetch_decodes_bytes_with_replacement():
    store = ScriptedStore({"bin": b"\xff\xfe", "n": 7})
    (out,) = fetch_batches(store, "key", "value", iter([_keys("bin", "n")]))
    assert list(out["value"]) == ["\ufffd\ufffd", "7"]


def test_insert_gives_one_verdict_per_key():
    store = ScriptedStore({"a": "old"})
    batch = pd.DataFrame({"key": ["a", "b"], "value": ["x", None]})
    (out,) = insert_batches(store, "key", "value", iter([batch]))
    assert store.calls == [("insert", [("a", "x"), ("b", None)])]
    assert out.to_dict("list") == {"key": ["a", "b"], "_accepted": [False, True]}
    assert store.clients[0].closed == 1


@pytest.mark.parametrize("fn,fail", [(fetch_batches, "fetch"), (insert_batches, "insert")])
def test_a_failing_call_closes_the_client_and_raises(fn, fail):
    store = ScriptedStore(fail=fail)
    batch = pd.DataFrame({"key": ["a"], "value": ["1"]})
    with pytest.raises(ConnectionError, match=f"scripted {fail} failure"):
        list(fn(store, "key", "value", iter([batch, batch])))
    assert len(store.calls) == 1
    assert [c.closed for c in store.clients] == [1]


@pytest.mark.parametrize("fn", [fetch_batches, insert_batches])
def test_an_empty_partition_opens_no_client(fn):
    store = ScriptedStore()
    empty = pd.DataFrame({"key": pd.Series([], dtype=object),
                          "value": pd.Series([], dtype=object)})
    assert list(fn(store, "key", "value", iter([]))) == []
    assert list(fn(store, "key", "value", iter([empty]))) == []
    assert store.clients == [] and store.calls == []


# --------------------------------------------------------------- registry

def _minimal(tmp_path) -> dict:
    """One minimal section per backend kind; none connects on build."""
    return {
        "memory": {}, "lru": {}, "ttlru": {}, "ristretto": {}, "noop": {},
        "multilevel": ["l0", "l1"],
        "file": {"directory": str(tmp_path / "files")},
        "parquet": {"path": str(tmp_path / "kv")},
        "sqlite": {"path": str(tmp_path / "c.db")},
        "mongodb": {"url": "mongodb://127.0.0.1:1"},
        "aws_dynamodb": {"table": "t", "endpoint": "http://127.0.0.1:1"},
        "aws_s3": {"bucket": "b", "endpoint": "http://127.0.0.1:1"},
        "gcp_cloud_storage": {"bucket": "b", "endpoint": "http://127.0.0.1:1"},
        "couchbase": {"url": "couchbase://127.0.0.1:1"},
        "nats_kv": {"bucket": "b"},
        "memcached": {"addresses": ["127.0.0.1:1"]},
        "redis": {"url": "tcp://127.0.0.1:1"},
    }


def _pipeline(kind, section):
    levels = [{"label": n, "memory": {}} for n in ("l0", "l1")]
    return compile_yaml(_yaml({"cache_resources": [{"label": "c", kind: section}, *levels]}))


def _yaml(conf: dict) -> str:
    return yaml.safe_dump(conf)


def test_every_row_has_a_minimal_section(tmp_path):
    assert set(_minimal(tmp_path)) == set(CACHE_BACKENDS)


@pytest.mark.parametrize("kind", sorted(CACHE_BACKENDS))
def test_a_minimal_section_builds_the_rows_class(tmp_path, kind):
    row = CACHE_BACKENDS[kind]
    cache = _pipeline(kind, _minimal(tmp_path)[kind])._cache_backend("c", None)
    assert type(cache).__name__ == row.cls
    assert type(cache).__module__ == f"bento_spark.{row.module}"


@pytest.mark.parametrize("kind", sorted(k for k, r in CACHE_BACKENDS.items() if r.required))
def test_a_missing_required_field_is_reported(tmp_path, kind):
    need = CACHE_BACKENDS[kind].required
    section = {k: v for k, v in _minimal(tmp_path)[kind].items() if k != need}
    with pytest.raises(ValueError, match=f"{kind} backend needs `{need}`"):
        _pipeline(kind, section)._cache_backend("c", None)
    src = _yaml({"cache_resources": [{"label": "c", kind: section}]})
    assert f"cache_resources[0] ({kind}): missing {need!r}" in lint_yaml(src)
