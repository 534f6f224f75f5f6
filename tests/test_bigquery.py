"""BigQuery connector: jobs.query + multipart load jobs
(streaming/bigquery.py) against the DuckDB-backed MiniBigQueryServer —
query paging, positional parameters, NDJSON/CSV load ingestion, the
amortized processor, and the YAML input/processor/output pipelines."""

from __future__ import annotations

import json
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.bigquery import (
    BigQueryClient,
    MiniBigQueryServer,
    bigquery_bridge,
    build_select,
)
from bento_spark.streaming.spool import entries


@pytest.fixture()
def server():
    s = MiniBigQueryServer(page_size=4).start()
    s.sql('CREATE TABLE "proj.ds.people" AS SELECT * FROM (VALUES '
          "(1, 'ada', 'oslo'), (2, 'bob', 'oslo'), (3, 'cyd', 'bergen'), "
          "(4, 'dee', 'oslo'), (5, 'eli', 'bergen'), (6, 'fay', 'oslo'), "
          "(7, 'gus', 'bergen'), (8, 'hal', 'oslo'), (9, 'ivy', 'bergen')"
          ") t(id, name, site)")
    yield s
    s.stop()


def test_build_select():
    assert build_select("p.d.t", ["a", "b"]) == "SELECT a, b FROM `p.d.t`"
    assert build_select("t", ["*"], where="x > ?") == \
        "SELECT * FROM `t` WHERE x > ?"
    assert build_select("t", ["a"], prefix="EXPLAIN", suffix="LIMIT 3") == \
        "EXPLAIN SELECT a FROM `t` LIMIT 3"


def test_query_paging_and_params(server):
    c = BigQueryClient(server.endpoint)
    rows = list(c.query("proj", "SELECT id, name FROM `proj.ds.people` "
                                "ORDER BY id"))
    assert len(rows) == 9  # 3 pages of 4/4/1 stitched
    assert rows[0] == {"id": "1", "name": "ada"}  # API string typing
    rows = list(c.query(
        "proj", "SELECT id FROM `proj.ds.people` WHERE site = ? AND id > ? "
                "ORDER BY id", parameters=["oslo", 2]))
    assert [r["id"] for r in rows] == ["4", "6", "8"]
    with pytest.raises(ConnectionError, match="400"):
        list(c.query("proj", "SELECT FROM nope nope"))


def test_load_ndjson_and_csv(server):
    c = BigQueryClient(server.endpoint)
    c.load("proj", "ds", "events",
           b'{"kind": "click", "n": 2}\n{"kind": "view", "n": 5}\n')
    c.load("proj", "ds", "events", b'{"kind": "click", "n": 1}\n')
    got = server.sql('SELECT kind, sum(n) FROM "proj.ds.events" '
                     "GROUP BY kind ORDER BY kind")
    assert got == [("click", 3), ("view", 5)]
    c.load("proj", "ds", "csvt", b"a;b\n1;x\n2;y\n", source_format="CSV",
           csv_options={"field_delimiter": ";", "skip_leading_rows": 1})
    assert server.sql('SELECT a, b FROM "proj.ds.csvt" ORDER BY a') == \
        [(1, "x"), (2, "y")]
    with pytest.raises(ValueError, match="format"):
        c.load("proj", "ds", "t", b"", source_format="PARQUET")


def test_spooler_one_row_per_message(server, tmp_path):
    spool = tmp_path / "spool"
    sp = bigquery_bridge(
        endpoint=server.endpoint, project="proj", table="proj.ds.people",
        columns=["id", "name"], spool_dir=str(spool),
        where="site = ?", args=["bergen"]).start()
    assert sp.wait_finished(30)
    sp.stop()
    rows = sorted(json.loads(body)["name"] for _, body in entries(spool))
    assert rows == ["cyd", "eli", "gus", "ivy"]


# ---------------------------------------------------------------------------
# Spark e2e
# ---------------------------------------------------------------------------


def test_yaml_bigquery_input_end_to_end(spark, server, tmp_path):
    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  gcp_bigquery_select:
    endpoint: {server.endpoint}
    project: proj
    table: proj.ds.people
    columns: [id, name, site]
    where: "site = 'oslo'"
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.who = this.value.parse_json("id string, name string").name.uppercase()
        root.id = this.value.parse_json("id string, name string").id.number()
output:
  path: {tmp_path}/out
""")
    sp = p.start_bridge()
    try:
        assert sp.wait_finished(30)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_in"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    from bento_spark.streaming.sink import IdempotentParquetSink

    rows = sorted(
        (r.id, r.who)
        for r in IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    )
    assert rows == [(1.0, "ADA"), (2.0, "BOB"), (4.0, "DEE"),
                    (6.0, "FAY"), (8.0, "HAL")]


def test_yaml_bigquery_processor_amortized(spark, server, tmp_path):
    # args_mapping amortization is batch-only (driver-side per-distinct
    # query, the sql_raw contract) — run through build_batch
    src = tmp_path / "src"
    spark.createDataFrame(
        [("oslo",), ("bergen",), ("oslo",), ("nowhere",)],
        "site string").write.parquet(str(src))
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - gcp_bigquery_select:
        endpoint: {server.endpoint}
        project: proj
        table: proj.ds.people
        columns: [name]
        where: "site = ?"
        args_mapping: "[ this.site ]"
        suffix: ORDER BY name
""")
    out = p.build_batch(spark).collect()
    by_site = {}
    for r in out:
        by_site.setdefault(r.site, []).append(
            [x["name"] for x in json.loads(r.bigquery_rows)])
    assert by_site["oslo"] == [["ada", "bob", "dee", "fay", "hal"]] * 2
    assert by_site["bergen"] == [["cyd", "eli", "gus", "ivy"]]
    assert by_site["nowhere"] == [[]]
    # streaming + args_mapping names the batch-only contract
    p2 = compile_yaml(f"""
input:
  lines: {{path: {tmp_path}}}
pipeline:
  processors:
    - gcp_bigquery_select:
        endpoint: {server.endpoint}
        project: proj
        table: proj.ds.people
        columns: [name]
        args_mapping: "[ this.value ]"
output:
  path: {tmp_path}/out2
""")
    with pytest.raises(ValueError, match="batch-only"):
        p2.run_stream(spark, checkpoint=str(tmp_path / "c2"))


def test_yaml_bigquery_output_roundtrip(spark, server, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"metric": "lat", "v": 12}\n{"metric": "lat", "v": 30}\n'
        '{"metric": "err", "v": 2}\n')
    p = compile_yaml(f"""
input:
  json:
    path: {src}
    schema: "metric STRING, v BIGINT"
output:
  gcp_bigquery:
    endpoint: {server.endpoint}
    project: proj
    dataset: ds
    table: metrics
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_out"))
    q.awaitTermination(90)
    deadline = time.monotonic() + 10
    while True:
        try:
            got = server.sql('SELECT metric, sum(v) FROM "proj.ds.metrics" '
                             "GROUP BY metric ORDER BY metric")
            if sum(n for _, n in got) >= 44:
                break
        except Exception:
            pass
        assert time.monotonic() < deadline
        time.sleep(0.1)
    assert got == [("err", 2), ("lat", 42)]
    # the loaded table is queryable back through the SAME engine: a real
    # output -> input round trip
    c = BigQueryClient(server.endpoint)
    rows = list(c.query("proj", "SELECT metric, v FROM `proj.ds.metrics` "
                                "WHERE v > ? ORDER BY v", parameters=[10]))
    assert [(r["metric"], r["v"]) for r in rows] == [("lat", "12"),
                                                     ("lat", "30")]


def test_lint_knows_bigquery():
    from bento_spark.plans.lint import known_inputs

    assert "gcp_bigquery_select" in known_inputs()
