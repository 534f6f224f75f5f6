"""Declarative YAML unit tests — the reference's `bento test` runner.

Reference semantics re-created:
- case schema (name / target_processors / target_mapping / environment /
  input_batch / input_batches / output_batches):
  /root/reference/internal/config/test/case.go:8-142
- output predicates (bloblang, content_equals, content_matches,
  metadata_equals, json_equals, json_contains, file_equals,
  file_json_equals, file_json_contains):
  /root/reference/internal/config/test/output.go:30-38,190-310
- execution (each input batch through the targeted processor chain;
  deleted/empty batches dropped; per-message condition checks with sorted
  condition names in failure output):
  /root/reference/internal/cli/test/case.go:38-120

Spark-first shape: a test message is a one-row slice of a DataFrame with
the engine's message columns (`bytes` content, `meta` map, `error`), plus a
`_part` ordinal so output order is checked where the chain preserves row
identity (the reference compares batches positionally). Batches are tiny
by construction — collecting them to the driver is the point, not a scale
concern.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from typing import Any

import yaml
from pyspark.sql import DataFrame, SparkSession

from bento_spark.functions.bloblang import compile_expr, compile_mapping
from bento_spark.plans.compiler import compile_yaml, interpolate_env

_PART = "_part"


@dataclass
class CaseFailure:
    """One failed expectation (cli/test/case.go CaseFailure)."""

    name: str
    reason: str

    def __str__(self) -> str:
        return f"{self.name}: {self.reason}"


def _json_pointer(conf: Any, ptr: str) -> Any:
    """RFC-6901-ish pointer into the parsed config ('/pipeline/processors')."""
    node = conf
    for seg in [s for s in ptr.split("/") if s]:
        if isinstance(node, list):
            node = node[int(seg)]
        elif isinstance(node, dict) and seg in node:
            node = node[seg]
        else:
            raise ValueError(f"target_processors pointer {ptr!r}: no {seg!r} segment")
    return node


def _input_df(spark: SparkSession, batch: list[dict]) -> DataFrame:
    rows = []
    for i, msg in enumerate(batch):
        msg = msg or {}
        if "json_content" in msg:
            content = json.dumps(msg["json_content"])
        else:
            content = msg.get("content", "")
        metadata = {str(k): str(v) for k, v in (msg.get("metadata") or {}).items()}
        rows.append((str(content), metadata, None, i))
    return spark.createDataFrame(
        rows, "bytes string, meta map<string,string>, error string, _part int"
    )


def _is_superset(actual: Any, expected: Any) -> bool:
    """json_contains: message must be a superset of the condition
    (output.go jsondiff SupersetMatch)."""
    if isinstance(expected, dict):
        return isinstance(actual, dict) and all(
            k in actual and _is_superset(actual[k], v) for k, v in expected.items()
        )
    if isinstance(expected, list):
        return (
            isinstance(actual, list)
            and len(actual) == len(expected)
            and all(_is_superset(a, e) for a, e in zip(actual, expected))
        )
    return actual == expected


def _check_conditions(
    cond: dict, row: dict, blob_results: dict[str, Any], base_dir: str
) -> list[str]:
    """All conditions for one message; condition names checked in sorted
    order (output.go CheckAll)."""
    errs: list[str] = []
    content = row["bytes"]
    for key in sorted(cond):
        expected = cond[key]
        if key == "bloblang":
            got = blob_results.get(str(expected))
            if got is not True:
                errs.append(f"bloblang: check '{expected}' resolved to {got!r}, not true")
        elif key == "content_equals":
            if str(content) != str(expected):
                errs.append(f"content_equals: {content!r} != {expected!r}")
        elif key == "content_matches":
            if not re.search(str(expected), str(content or "")):
                errs.append(f"content_matches: {content!r} !~ /{expected}/")
        elif key == "metadata_equals":
            meta = row.get("meta") or {}
            for mk, mv in (expected or {}).items():
                if str(meta.get(str(mk))) != str(mv):
                    errs.append(
                        f"metadata_equals: key {mk!r}: {meta.get(str(mk))!r} != {mv!r}"
                    )
        elif key in ("json_equals", "json_contains", "file_json_equals", "file_json_contains"):
            try:
                actual = json.loads(content)
            except (TypeError, ValueError) as e:
                errs.append(f"{key}: message is not valid JSON: {e}")
                continue
            if key.startswith("file_"):
                with open(os.path.join(base_dir, str(expected)), encoding="utf-8") as f:
                    want = json.load(f)
            else:
                want = expected
            if key.endswith("_equals"):
                if actual != want:
                    errs.append(f"{key}: {actual!r} != {want!r}")
            elif not _is_superset(actual, want):
                errs.append(f"{key}: {actual!r} is not a superset of {want!r}")
        elif key == "file_equals":
            with open(os.path.join(base_dir, str(expected)), "rb") as f:
                want_b = f.read().decode("utf-8")
            if str(content) != want_b:
                errs.append(f"file_equals: {content!r} != contents of {expected}")
        else:
            errs.append(f"unknown output condition {key!r}")
    return errs


def _run_chain_collect(chain, df: DataFrame, blob_exprs: list[str]) -> list[dict]:
    out = chain(df)
    cols = list(out.columns)
    sel = out
    blob_cols = {}
    for i, src in enumerate(blob_exprs):
        alias = f"_blob_{i}"
        blob_cols[src] = alias
        sel = sel.withColumn(alias, compile_expr(src))
    if _PART in cols:
        sel = sel.orderBy(_PART)
    rows = [r.asDict(recursive=True) for r in sel.collect()]
    for r in rows:
        r["_blob_results"] = {src: r.get(a) for src, a in blob_cols.items()}
    return rows


def run_config_tests(
    spark: SparkSession,
    source: str,
    base_dir: str | None = None,
    only: str | None = None,
) -> list[CaseFailure]:
    """Execute a config's `tests:` section. `source` is a path to a YAML
    file or raw YAML text; returns failures (empty = all green), raising
    only on config errors (matching `bento test` exit semantics)."""
    if os.path.exists(source):
        base_dir = base_dir or os.path.dirname(os.path.abspath(source))
        with open(source, encoding="utf-8") as f:
            src_text = f.read()
    else:
        base_dir = base_dir or "."
        src_text = source
    top = yaml.safe_load(interpolate_env(src_text, env={**os.environ}))
    cases = (top or {}).get("tests") or []
    if not cases:
        raise ValueError("config has no tests: section")

    failures: list[CaseFailure] = []
    for case in cases:
        name = case.get("name", "<unnamed>")
        if only and only != name:
            continue
        env = {**os.environ, **{str(k): str(v) for k, v in (case.get("environment") or {}).items()}}
        if case.get("target_mapping"):
            mapping_src = open(os.path.join(base_dir, case["target_mapping"]), encoding="utf-8").read()
            compiled = compile_mapping(mapping_src)
            chain = compiled.apply
        else:
            pipe = compile_yaml(src_text, env=env)
            procs = _json_pointer(pipe.conf, case.get("target_processors", "/pipeline/processors"))
            chain = pipe.processor_chain(procs)

        in_batches = case.get("input_batches")
        if in_batches is None:
            in_batches = [case.get("input_batch") or []]
        exp_batches = case.get("output_batches") or []

        # all bloblang predicate sources across the case, evaluated as
        # columns in one pass per output batch (no per-row Python)
        blob_exprs = sorted(
            {
                str(c["bloblang"])
                for batch in exp_batches
                for c in batch
                if isinstance(c, dict) and "bloblang" in c
            }
        )

        got_batches: list[list[dict]] = []
        for batch in in_batches:
            try:
                rows = _run_chain_collect(chain, _input_df(spark, batch), blob_exprs)
            except Exception as e:  # noqa: BLE001 — a processor error fails the case
                failures.append(CaseFailure(name, f"processors resulted in error: {e}"))
                rows = []
            if rows:  # fully-deleted batches are dropped (cli/test/case.go)
                got_batches.append(rows)

        if len(got_batches) != len(exp_batches):
            failures.append(
                CaseFailure(
                    name,
                    f"wrong batch count, expected {len(exp_batches)}, got {len(got_batches)}",
                )
            )
        for bi, (exp, got) in enumerate(zip(exp_batches, got_batches)):
            if len(exp) != len(got):
                failures.append(
                    CaseFailure(
                        name,
                        f"batch {bi}: wrong message count, expected {len(exp)}, got {len(got)}",
                    )
                )
            for mi, (cond, row) in enumerate(zip(exp, got)):
                for err in _check_conditions(
                    cond or {}, row, row.get("_blob_results", {}), base_dir
                ):
                    failures.append(CaseFailure(name, f"batch {bi} message {mi}: {err}"))
    return failures
