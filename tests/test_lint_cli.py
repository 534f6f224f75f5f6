"""`bento lint` parity (plans/lint.py) + the CLI verbs (python -m
bento_spark). Lint is Spark-free by design — these tests never touch the
session except cmd_test, which drives the declarative runner end-to-end."""

from __future__ import annotations

import glob
import io
import os
from contextlib import redirect_stdout

from bento_spark.plans.lint import known_inputs, known_outputs, known_processors, lint_yaml


def test_known_registries_track_compiler():
    """Processor and input names come from the processor and input
    registries, the tables the compiler dispatches on: spot-check that
    core names are present so a refactor of either would fail loudly here."""
    procs = known_processors()
    for name in ("mapping", "cache", "switch", "while", "match_sequence",
                 "subprocess", "http", "dedupe", "grok"):
        assert name in procs, name
    assert len(procs) > 40
    for name in ("parquet", "generate", "kafka", "http_server", "socket_server",
                 "websocket", "http_client"):
        assert name in known_inputs(), name


def test_shipped_examples_lint_clean():
    here = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "config", "examples")
    for f in glob.glob(os.path.join(here, "*.yaml")):
        issues = lint_yaml(open(f).read(), env={"KAFKA_BROKERS": "b:9092"})
        assert issues == [], f"{f}: {issues}"


def test_lint_catches_shape_errors():
    issues = lint_yaml(
        """
inptu: {parquet: {path: /x}}
pipeline:
  processors:
    - frobnicate: {}
    - cache: {operator: set}
    - match_sequence: {key: k, within: fortnight, steps: [a, b]}
error_handling: {strategy: explode}
window: {type: hopping, duration: 10 banana}
""")
    text = "\n".join(issues)
    assert "unknown top-level section 'inptu'" in text
    assert "unknown processor 'frobnicate'" in text
    assert "missing required field 'resource'" in text
    assert "bad duration 'fortnight'" in text
    assert "strategy must be none|reject|retry" in text
    assert "window.type must be" in text
    assert "bad duration '10 banana'" in text


def test_lint_recurses_into_every_nested_processor_list():
    """switch cases and default and group_by checks hold processor lists
    the compiler compiles: an unknown name in any of them is reported with
    its path."""
    issues = lint_yaml("""
pipeline:
  processors:
    - switch:
        cases:
          - check: 'true'
            processors: [{frobnicate: {}}]
        default: [{nope: {}}]
    - group_by:
        checks:
          - {name: a, check: 'true', processors: [{bogus: {}}]}
""")
    assert issues == [
        "pipeline.processors[0].switch.cases[0].processors[0]: unknown processor 'frobnicate'",
        "pipeline.processors[0].switch.default[0]: unknown processor 'nope'",
        "pipeline.processors[1].group_by.checks[0].processors[0]: unknown processor 'bogus'",
    ]


def test_lint_reports_an_input_map_naming_two_inputs():
    """Same rule as the compiler: one registered input per input map (keys
    naming no input are ignored), the zmq4n alias counting as zmq4."""
    issues = lint_yaml("input:\n  parquet: {path: /x}\n  csv: {path: /y}\n")
    assert len(issues) == 1 and "names 2 inputs (parquet, csv)" in issues[0]
    issues = lint_yaml("input:\n  zmq4: {urls: [a]}\n  zmq4n: {urls: [b]}\n")
    assert len(issues) == 1 and "names 2 inputs (zmq4, zmq4n)" in issues[0]
    assert lint_yaml("input:\n  parquet: {path: /x}\n  label: in\n") == []


def test_lint_reads_the_output_registry():
    """An output key that is neither an output nor a modifier, an output map
    naming two outputs (the compiler's rule, zmq4n counting as zmq4) are
    issues; window + dlq takes any output."""
    assert {"path", "fallback", "kafka_franz", "zmq4n"} <= known_outputs()
    assert lint_yaml("output:\n  pth: /x\n") == ["output: unknown key 'pth'"]
    issues = lint_yaml("output:\n  path: /x\n  kafka: {addresses: [a], topic: t}\n")
    assert len(issues) == 1 and "names 2 outputs (path, kafka)" in issues[0]
    issues = lint_yaml("output:\n  zmq4: {urls: [a]}\n  zmq4n: {urls: [b]}\n")
    assert len(issues) == 1 and "names 2 outputs (zmq4, zmq4n)" in issues[0]
    # modifiers, and `default` next to switch, are not unknown keys
    assert lint_yaml("output:\n  switch: [{check: 'true', path: /a}]\n  default: /b\n"
                     "  dlq: /d\n  mode: append\n  trigger: 1s\n") == []
    assert lint_yaml("output:\n  path: /o\n  default: /b\n") == [
        "output: unknown key 'default'"]
    window = "window: {type: tumbling, size: 10 seconds}\n"
    assert lint_yaml(window + "output:\n  fallback: [/a, /b]\n  dlq: /d\n") == []
    assert lint_yaml(window + "output:\n  path: /o\n  keys: [k]\n  dlq: /d\n") == []


def test_lint_env_and_yaml_errors_are_issues_not_raises():
    assert lint_yaml("a: ${UNSET_VAR_XYZ}")[0].startswith("env interpolation")
    assert lint_yaml("a: [unclosed")[0].startswith("yaml parse")
    assert lint_yaml("- just\n- a list") == ["config must be a YAML mapping"]


def test_cli_lint_echo_and_test(spark, tmp_path):
    from bento_spark import __main__ as cli

    good = tmp_path / "good.yaml"
    good.write_text(
        """
pipeline:
  processors:
    - mapping: 'root = content().uppercase()'

tests:
  - name: upper
    input_batch:
      - content: 'ab'
    output_batches:
      - - content_equals: "AB"
"""
    )
    bad = tmp_path / "bad.yaml"
    bad.write_text("pipeline:\n  processors:\n    - nope: {}\n")

    assert cli.main(["lint", str(good)]) == 0
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert cli.main(["lint", str(bad)]) == 1
    assert "unknown processor 'nope'" in buf.getvalue()

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert cli.main(["echo", str(good)]) == 0
    assert "uppercase" in buf.getvalue()

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert cli.main(["test", str(good)]) == 0
    assert buf.getvalue().startswith("ok")

    failing = tmp_path / "failing.yaml"
    failing.write_text(
        """
pipeline:
  processors:
    - mapping: 'root = content().uppercase()'

tests:
  - name: wrong
    input_batch:
      - content: 'ab'
    output_batches:
      - - content_equals: "ab"
"""
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert cli.main(["test", str(failing)]) == 1
    assert "FAIL" in buf.getvalue()


def test_cli_blobl_verb(spark, tmp_path):
    """bento blobl: mapping over stdin lines, ordered output; deleted rows
    print nothing."""
    import subprocess
    import sys as _sys

    out = subprocess.run(
        [_sys.executable, "-m", "bento_spark", "blobl",
         'root = deleted() if content().contains("skip")\nroot = content().uppercase()'],
        # 420s: the child spawns its own JVM; under a concurrently-running
        # Spark suite on this host, cold JVM startup alone can exceed 180s
        input="alpha\nskip me\nbeta\n", capture_output=True, text=True, timeout=420,
        cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-800:]
    lines = [l for l in out.stdout.splitlines() if l and not l.startswith("[")]
    assert lines == ["ALPHA", "BETA"]
