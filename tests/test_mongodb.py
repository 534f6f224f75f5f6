"""MongoDB connector family — dependency-free BSON + OP_MSG against the
in-process MiniMongoServer (reference internal/impl/mongodb/{cache,
processor,output,input}.go). Wire vectors pin the BSON encoding to the
public spec; the cache/output/processor/input surfaces run end-to-end."""

from __future__ import annotations

import json

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.plans.lint import lint_yaml
from bento_spark.streaming.mongodb import (
    MiniMongoServer,
    MongoCache,
    MongoClient,
    bson_decode,
    bson_encode,
    mongodb_writer,
)


@pytest.fixture()
def mongo():
    srv = MiniMongoServer(unique_keys={"cache": "key"}).start()
    yield srv
    srv.stop()


# -------------------------------------------------------------- BSON codec


def test_bson_wire_vectors():
    # bsonspec.org's canonical examples
    assert bson_encode({"hello": "world"}) == (
        b"\x16\x00\x00\x00\x02hello\x00\x06\x00\x00\x00world\x00\x00"
    )
    assert bson_encode({"BSON": ["awesome", 5.05, 1986]}) == bytes.fromhex(
        "310000000442534f4e002600000002300008000000617765736f6d6500013100"
        "3333333333331440103200c20700000000"
    )


def test_bson_roundtrip_types():
    doc = {
        "s": "text", "i32": 42, "i64": 2**40, "f": 2.5, "b": True,
        "none": None, "blob": b"\x00\x01", "nested": {"a": [1, "x", False]},
    }
    assert bson_decode(bson_encode(doc)) == doc


# ---------------------------------------------------- client/server commands


def test_client_insert_find_update_delete(mongo):
    c = MongoClient(mongo.host, mongo.port)
    c.insert("db", "coll", [{"k": "a", "v": 1}, {"k": "b", "v": 2}])
    assert {d["k"] for d in c.find("db", "coll")} == {"a", "b"}
    assert c.find("db", "coll", {"v": {"$gt": 1}})[0]["k"] == "b"
    c.update("db", "coll", {"k": "a"}, {"$set": {"v": 9}})
    assert c.find("db", "coll", {"k": "a"})[0]["v"] == 9
    c.update("db", "coll", {"k": "new"}, {"$set": {"v": 7}}, upsert=True)
    assert c.find("db", "coll", {"k": "new"})[0]["v"] == 7
    c.delete("db", "coll", {"k": "a"})
    assert {d["k"] for d in c.find("db", "coll")} == {"b", "new"}
    c.close()


def test_duplicate_key_rejection(mongo):
    c = MongoClient(mongo.host, mongo.port)
    assert not c.insert("db", "cache", [{"key": "x", "value": "1"}]).get("writeErrors")
    r = c.insert("db", "cache", [{"key": "x", "value": "2"}])
    assert r["writeErrors"][0]["code"] == 11000
    c.close()


# ------------------------------------------------------------ cache backend


def _kv(spark, *pairs):
    return spark.createDataFrame(list(pairs), "key string, value string")


def test_mongo_cache_contract(spark, mongo):
    c = MongoCache(spark, mongo.url, database="db", collection="cache")
    c.set(_kv(spark, ("a", "1"), ("b", "2")))
    assert {r.key: r.value for r in c.snapshot().collect()} == {"a": "1", "b": "2"}
    # set upserts
    c.set(_kv(spark, ("a", "9")))
    assert {r.key: r.value for r in c.snapshot().collect()} == {"a": "9", "b": "2"}
    # add rejects existing (cache.go:112-121 duplicate key)
    rejected = c.add(_kv(spark, ("a", "x"), ("c", "3")))
    assert [r.key for r in rejected.collect()] == ["a"]
    # batched $in get
    probe = spark.createDataFrame([("a",), ("c",), ("miss",)], "key string")
    got = {r.key: r.value for r in c.get(probe).collect()}
    assert got == {"a": "9", "c": "3", "miss": None}
    c.delete(spark.createDataFrame([("a",)], "key string"))
    assert {r.key for r in c.snapshot().collect()} == {"b", "c"}


def test_mongo_cache_reads_a_missing_value_as_a_miss(spark, mongo):
    # a document without its value field (or with a null one) is a miss,
    # as in the other backends, not the string "None"
    direct = MongoClient(mongo.host, mongo.port)
    direct.insert("db", "cache", [{"key": "k"}, {"key": "n", "value": None}])
    direct.close()
    c = MongoCache(spark, mongo.url, database="db", collection="cache")
    probe = spark.createDataFrame([("k",), ("n",)], "key string")
    assert {r.key: r.value for r in c.get(probe).collect()} == {"k": None, "n": None}
    assert {r.key: r.value for r in c.snapshot().collect()} == {"k": None, "n": None}


def test_yaml_mongo_cache_enrichment(spark, mongo, tmp_path):
    seed = MongoCache(spark, mongo.url, database="db", collection="names")
    seed.set(_kv(spark, ("1", "alpha"), ("2", "beta")))
    src = tmp_path / "in"
    spark.createDataFrame([(1,), (2,)], "id int").write.parquet(str(src))
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
cache_resources:
  - label: names
    mongodb: {{url: {mongo.url}, database: db, collection: names}}
pipeline:
  processors:
    - mapping: 'root.k = this.id.string()'
    - cache: {{resource: names, operator: get, key: k}}
""")
    rows = {r.id: r.value for r in p.build_batch(spark).collect()}
    assert rows == {1: "alpha", 2: "beta"}


# ------------------------------------------------------------------ writer


def test_writer_insert_and_update(spark, mongo):
    df = spark.createDataFrame(
        [('{"k":"a","v":1}',), ('{"k":"b","v":2}',)], "_mongo_doc string"
    )
    mongodb_writer(mongo.url, "db", "out")(df, 0)
    assert {d["k"]: d["v"] for d in mongo.dbs["db"]["out"]} == {"a": 1, "b": 2}
    upd = spark.createDataFrame(
        [('{"v":10}', '{"k":"a"}')], "_mongo_doc string, _mongo_filter string"
    )
    mongodb_writer(mongo.url, "db", "out", operation="update-one")(upd, 0)
    assert {d["k"]: d["v"] for d in mongo.dbs["db"]["out"]} == {"a": 10, "b": 2}


def test_yaml_mongodb_output_end_to_end(spark, mongo, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("ada\nbob")
    p = compile_yaml(f"""
input:
  lines:
    path: {src}
pipeline:
  processors:
    - mapping: 'root.name = this.line.uppercase()'
output:
  mongodb:
    url: {mongo.url}
    database: db
    collection: people
    operation: insert-one
    document_map: {{name: this.name, len: this.name.length()}}
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
    assert q.awaitTermination(300), "availableNow query did not finish in 300s"
    assert {d["name"]: d["len"] for d in mongo.dbs["db"]["people"]} == {
        "ADA": 3, "BOB": 3,
    }


# --------------------------------------------------------------- processor


def test_yaml_mongodb_find_one_enrichment(spark, mongo, tmp_path):
    c = MongoClient(mongo.host, mongo.port)
    c.insert("db", "users", [{"uid": "u1", "plan": "pro"},
                             {"uid": "u2", "plan": "free"}])
    c.close()
    src = tmp_path / "in"
    spark.createDataFrame([("u1",), ("u2",), ("u3",)], "uid string").write.parquet(str(src))
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - mongodb:
        url: {mongo.url}
        database: db
        collection: users
        operation: find-one
        filter_map: {{uid: this.uid}}
""")
    rows = {r.uid: (json.loads(r.mongodb)["plan"] if r.mongodb else None)
            for r in p.build_batch(spark).collect()}
    assert rows == {"u1": "pro", "u2": "free", "u3": None}


# -------------------------------------------------------------------- input


def test_yaml_mongodb_input(spark, mongo):
    c = MongoClient(mongo.host, mongo.port)
    c.insert("db", "seeds", [{"x": 1}, {"x": 2}, {"x": 3}])
    c.close()
    p = compile_yaml(f"""
input:
  mongodb:
    url: {mongo.url}
    database: db
    collection: seeds
    filter: '{{"x": {{"$gte": 2}}}}'
pipeline:
  processors:
    - mapping: 'root.x = this.text.parse_json("x int").x'
""")
    assert sorted(r.x for r in p.build_batch(spark).collect()) == [2, 3]


def test_lint_knows_mongodb():
    from bento_spark.plans.lint import known_inputs, known_processors

    assert "mongodb" in known_processors()
    assert "mongodb" in known_inputs()
    issues = lint_yaml("""
input: {generate: {count: 1, mapping: 'root.x = 1'}}
cache_resources:
  - label: m
    mongodb: {database: db}
output: {stdout: {}}
""")
    assert any("mongodb" in i and "url" in i for i in issues)
