"""`python -m bento_spark run` drives a spool-bridge input end to end: it
starts the input's bridge for the run and stops it afterwards. Plus the
run_stream error for an output section with nothing to write to."""

from __future__ import annotations

import sys

import pytest

from bento_spark.__main__ import main
from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.sink import IdempotentParquetSink

LINES = ["alpha", "beta", "gamma"]


def test_run_starts_the_input_bridge(spark, tmp_path):
    cfg = tmp_path / "run.yaml"
    cfg.write_text(f"""
input:
  subprocess:
    name: {sys.executable}
    args: ["-c", "for w in {LINES!r}: print(w)"]
    spool_dir: {tmp_path}/spool
output:
  path: {tmp_path}/out
  trigger: 500 ms
""")
    assert main(["run", "-c", str(cfg), "--checkpoint", str(tmp_path / "ck"),
                 "--continuous", "--timeout", "30"]) == 0
    rows = IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    assert sorted(r.value for r in rows) == LINES


@pytest.mark.parametrize("output", ["{}", "{dlq: DIR/dlq}"])
def test_run_stream_without_a_sink_names_output_path(spark, tmp_path, output):
    p = compile_yaml(f"""
input:
  parquet: {{path: {tmp_path}/in}}
output: {output.replace("DIR", str(tmp_path))}
""")
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match=r"^output\.path .* required for run_stream"):
        p.run_stream(spark, checkpoint=str(tmp_path / "ck"))
    assert len(spark.streams.active) == active
