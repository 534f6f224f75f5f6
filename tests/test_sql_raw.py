"""sql_raw input/processor/output (reference internal/impl/sql/
input_sql_raw.go, processor_sql_raw.go:30-80, output_sql_raw.go) over the
stdlib sqlite3 DB-API path — args_mapping binds, exec_only, SELECT
broadcast enrichment, one-transaction batch writes."""

from __future__ import annotations

import json
import sqlite3

import pytest

from bento_spark.operators.sql_raw import (
    sql_raw_exec,
    sql_raw_processor,
    sql_raw_query,
)
from bento_spark.plans.compiler import compile_yaml


@pytest.fixture()
def db(tmp_path):
    path = str(tmp_path / "t.db")
    sql_raw_exec("sqlite", path, """
        CREATE TABLE users (id INTEGER PRIMARY KEY, name TEXT, score REAL);
        INSERT INTO users VALUES (1, 'ann', 1.5), (2, 'bob', 2.5),
                                 (3, 'cat', 3.5);
    """, script=True)
    return path


def test_input_query_types(spark, db):
    out = sql_raw_query(spark, "sqlite", db,
                        "SELECT id, name, score FROM users ORDER BY id")
    assert out.dtypes == [("id", "bigint"), ("name", "string"),
                          ("score", "double")]
    assert [(r.id, r.name, r.score) for r in out.collect()] == [
        (1, "ann", 1.5), (2, "bob", 2.5), (3, "cat", 3.5)]


def test_input_query_with_binds(spark, db):
    out = sql_raw_query(spark, "sqlite", db,
                        "SELECT name FROM users WHERE id > ?", args=[1])
    assert sorted(r.name for r in out.collect()) == ["bob", "cat"]


def test_unsupported_driver_names_the_bulk_path(spark, db):
    with pytest.raises(ValueError, match="sql_select / sql_insert"):
        sql_raw_query(spark, "postgres", db, "SELECT 1")


def test_processor_select_amortizes_distinct_args(spark, db):
    """3 pipeline rows share 2 distinct bind tuples -> 2 queries, results
    broadcast back; a miss yields '[]' (the reference's empty array)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1,), (1,), (99,)], "uid int")
    keyed = df.withColumn("_a", F.array(F.col("uid")))
    out = sql_raw_processor(
        keyed, "sqlite", db,
        "SELECT name, score FROM users WHERE id = ?", args_col="_a")
    got = {(r.uid, r.sql_rows) for r in out.collect()}
    assert (1, '[{"name":"ann","score":1.5}]') in got
    assert (99, "[]") in got
    assert len([1 for u, _ in got if u == 1]) == 1  # set-dedup of 2 rows


def test_processor_select_no_args_attaches_result(spark, db):
    df = spark.createDataFrame([("x",), ("y",)], "k string")
    out = sql_raw_processor(
        df, "sqlite", db, "SELECT count(*) AS n FROM users",
        result_col="stats")
    rows = out.collect()
    assert len(rows) == 2
    assert all(json.loads(r.stats) == [{"n": 3}] for r in rows)


def test_yaml_exec_only_insert_roundtrip(spark, db, tmp_path):
    src = tmp_path / "src"
    spark.createDataFrame(
        [(10, "dee", 4), (11, "eli", 5)], "id int, name string, s int"
    ).write.parquet(str(src))
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - sql_raw:
        driver: sqlite
        dsn: {db}
        query: 'INSERT INTO users (id, name, score) VALUES (?, ?, ?)'
        args_mapping: '[ this.id.string(), this.name, this.s.string() ]'
        exec_only: true
""")
    out = p.build_batch(spark)
    assert out.count() == 2  # rows pass through unchanged
    con = sqlite3.connect(db)
    try:
        # sqlite column affinity re-types the text binds (INTEGER/REAL)
        got = con.execute(
            "SELECT id, name, score FROM users WHERE id >= 10 ORDER BY id"
        ).fetchall()
    finally:
        con.close()
    assert got == [(10, "dee", 4.0), (11, "eli", 5.0)]


def _ids(db, lo):
    con = sqlite3.connect(db)
    try:
        return [r[0] for r in con.execute(
            "SELECT id FROM users WHERE id >= ? ORDER BY id", (lo,))]
    finally:
        con.close()


def test_exec_only_runs_when_the_plan_runs(spark, db, tmp_path):
    """Building an exec_only pipeline writes nothing; running it executes
    each row's statement once, although the two-case switch after it reads
    the rows three times (a second INSERT would break the primary key),
    and a second action executes none again."""
    src = tmp_path / "src"
    spark.createDataFrame([(20,), (21,), (22,)], "id int").write.parquet(str(src))
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - sql_raw:
        dsn: {db}
        query: 'INSERT INTO users (id, name) VALUES (?, ?)'
        args_mapping: '[ this.id.string(), "n" + this.id.string() ]'
        exec_only: true
    - switch:
        cases:
          - {{check: 'this.id < 21', processors: [{{mapping: 'root.id = this.id'}}]}}
          - {{check: 'this.id < 22', processors: []}}
        default: []
""")
    out = p.build_batch(spark)
    assert _ids(db, 20) == []
    assert sorted(r.id for r in out.collect()) == [20, 21, 22]  # pass-through
    assert _ids(db, 20) == [20, 21, 22]
    assert out.count() == 3
    assert _ids(db, 20) == [20, 21, 22]


def test_streaming_exec_only_with_args_mapping(spark, db, tmp_path):
    """A streaming exec_only plan builds and writes each row once, with a
    two-case switch reading its rows three times per micro-batch."""
    from bento_spark.streaming.sink import IdempotentParquetSink

    src = tmp_path / "lines"
    src.mkdir()
    (src / "a.txt").write_text("30\n31\n32")
    p = compile_yaml(f"""
input:
  lines: {{path: {src}}}
pipeline:
  processors:
    - sql_raw:
        dsn: {db}
        query: 'INSERT INTO users (id, name) VALUES (?, ?)'
        args_mapping: '[ this.line, "s" + this.line ]'
        exec_only: true
    - switch:
        cases:
          - {{check: 'this.line == "30"', processors: [{{mapping: 'root.line = this.line'}}]}}
          - {{check: 'this.line == "31"', processors: []}}
        default: []
output:
  path: {tmp_path}/out
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ck"))
    q.awaitTermination(90)
    assert q.exception() is None
    assert _ids(db, 30) == [30, 31, 32]
    rows = IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    assert sorted(r.line for r in rows) == ["30", "31", "32"]


def test_yaml_sql_raw_input_section(spark, db):
    p = compile_yaml(f"""
input:
  sql_raw:
    driver: sqlite
    dsn: {db}
    query: 'SELECT id, name FROM users WHERE id <= ? ORDER BY id'
    args: [2]
pipeline:
  processors:
    - mapping: 'root.label = this.name.uppercase()'
""")
    rows = [(r.id, r.label) for r in p.build_batch(spark).collect()]
    assert rows == [(1, "ANN"), (2, "BOB")]


def test_yaml_sql_raw_output_stream(spark, db, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "w.txt").write_text("dog\nemu\nfox")
    p = compile_yaml(f"""
input:
  lines:
    path: {src}
pipeline:
  processors:
    - mapping: |
        root.word = this.line
        root.n = this.line.length()
output:
  sql_raw:
    driver: sqlite
    dsn: {db}
    query: 'INSERT INTO users (name, score) VALUES (?, ?)'
    args_mapping: '[ this.word, this.n.string() ]'
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(90)
    con = sqlite3.connect(db)
    try:
        got = con.execute(
            "SELECT name, score FROM users WHERE id > 3 ORDER BY name"
        ).fetchall()
    finally:
        con.close()
    assert got == [("dog", 3.0), ("emu", 3.0), ("fox", 3.0)]


def test_exec_rowcount_and_transaction(db):
    n = sql_raw_exec("sqlite", db, "UPDATE users SET score = score + 1")
    assert n == 3
    # executemany over generator args
    n2 = sql_raw_exec("sqlite", db,
                      "INSERT INTO users (name, score) VALUES (?, ?)",
                      args_rows=((f"g{i}", i) for i in range(4)))
    assert n2 == 4


def test_lint_knows_sql_raw():
    from bento_spark.plans.lint import lint_yaml

    ok = """
input:
  sql_raw: {dsn: /tmp/x.db, query: 'SELECT 1 AS one'}
pipeline:
  processors:
    - sql_raw: {dsn: /tmp/x.db, query: 'SELECT 1', exec_only: true}
output: {stdout: {}}
"""
    assert lint_yaml(ok) == []
    missing = """
input:
  sql_raw: {dsn: /tmp/x.db, query: 'SELECT 1'}
pipeline:
  processors:
    - sql_raw: {dsn: /tmp/x.db}
output: {stdout: {}}
"""
    assert any("query" in i for i in lint_yaml(missing))
