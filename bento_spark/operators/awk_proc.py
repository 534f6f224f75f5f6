"""`awk` processor: run an AWK program per message with Bento's custom
function set.

Reference (/root/reference/internal/impl/awk/processor.go): three codecs —
`none` (stdin " ", no vars), `text` (content as stdin + metadata vars),
`json` (stdin " ", flattened JSON paths + metadata become variables,
:780-800); custom functions json_get/json_set(+_int/_float/_bool)/
json_append(+typed)/json_delete/json_length/json_type, metadata_get/set,
timestamp_unix, print_log; non-empty stdout replaces the content with the
trailing newline stripped (:825-833); any stderr output or a non-zero exit
errors the message (:812-823).

The reference embeds GoAWK. Here the system awk binary (mawk/gawk) runs
ONE process per message — the same execution model as the `command`
processor, and the same warning applies: this is the designated slow path
(a fork per message); bulk transforms belong in Bloblang/native columns.
The custom functions bridge through an injected prelude + control-line
protocol: Spark feeds `\\x01`-framed json/metadata state lines before the
content (the injected reader consumes them and resets NR so user programs
see clean record numbers), and the functions emit `\\x01`-framed mutation
lines on stdout which are filtered from the user's output and applied to
the message Spark-side. stderr stays the error channel, like the
reference.

Documented deltas: `timestamp_format`/`timestamp_unix(date)` need
strftime/date parsing the portable awk subset lacks — unsupported;
values containing raw \\x02/\\x03 bytes can't cross the control protocol;
json_get inside a BEGIN block sees no state (state rides on stdin, which
BEGIN precedes).
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from bento_spark.operators.errors import ERROR_COL, ensure_error_col

_VAR_INVALID = re.compile(r"[^a-zA-Z0-9_]")  # processor.go:72 varInvalidRegexp

# the injected function set; user definitions of the same name override
# (awk uses the LAST definition of a function… it errors on redefinition,
# so like the reference we only inject names the program does not define)
_FUNCS = {
    "json_get": 'function json_get(p) { if (__JOK != 1) { print "\x01X\x02\x02"; '
                'return "null" } return (p in __J) ? __J[p] : "null" }',
    "json_set": 'function json_set(p, v) { print "\x01S\x02" p "\x02" v; '
                '__J[p]=v; __JT[p]="string"; __JL[p]=length(v); return 0 }',
    "json_set_int": 'function json_set_int(p, v) { print "\x01I\x02" p "\x02" int(v); '
                    '__J[p]=int(v); __JT[p]="int"; return 0 }',
    "json_set_float": 'function json_set_float(p, v) { print "\x01F\x02" p "\x02" (v+0); '
                      '__J[p]=v+0; __JT[p]="float"; return 0 }',
    "json_set_bool": 'function json_set_bool(p, v) { print "\x01B\x02" p "\x02" '
                     '(v ? "true" : "false"); __J[p]=(v?"true":"false"); __JT[p]="bool"; return 0 }',
    "json_append": 'function json_append(p, v) { print "\x01a\x02" p "\x02" v; return 0 }',
    "json_append_int": 'function json_append_int(p, v) { print "\x01i\x02" p "\x02" int(v); return 0 }',
    "json_append_float": 'function json_append_float(p, v) { print "\x01f\x02" p "\x02" (v+0); return 0 }',
    "json_append_bool": 'function json_append_bool(p, v) { print "\x01b\x02" p "\x02" '
                        '(v ? "true" : "false"); return 0 }',
    "json_delete": 'function json_delete(p) { print "\x01D\x02" p "\x02"; '
                   'delete __J[p]; __JT[p]="undefined"; return 0 }',
    "json_length": "function json_length(p) { return (p in __JL) ? __JL[p] : 0 }",
    "json_type": 'function json_type(p) { return (p in __JT) ? __JT[p] : "undefined" }',
    "metadata_get": 'function metadata_get(k) { return (k in __M) ? __M[k] : "" }',
    "metadata_set": 'function metadata_set(k, v) { print "\x01M\x02" k "\x02" v; '
                    "__M[k]=v; return 0 }",
    "timestamp_unix": "function timestamp_unix() { return __NOW }",
    "timestamp_unix_nano": "function timestamp_unix_nano() { return __NOW * 1000000000 }",
    "print_log": 'function print_log(m, lvl) { print "\x01L\x02" lvl "\x02" m; return 0 }',
}

# state loader: consumes the \x01-framed preamble, then resets NR/FNR so
# the user program sees the content as records 1..n
_READER = r"""
__cd != 1 && substr($0, 1, 1) == "\x01" {
  __op = substr($0, 2, 1)
  if (__op == "E") { __cd = 1; NR = 0; FNR = 0; next }
  split(substr($0, 4), __a, "\x02")
  gsub(/\x03/, "\n", __a[1]); gsub(/\x03/, "\n", __a[2])
  if (__op == "J") __J[__a[1]] = __a[2]
  else if (__op == "T") __JT[__a[1]] = __a[2]
  else if (__op == "N") __JL[__a[1]] = __a[2] + 0
  else if (__op == "m") __M[__a[1]] = __a[2]
  next
}
"""


def _esc(s: str) -> str:
    return str(s).replace("\n", "\x03")


def _flatten(prefix: str, node, vars_out: dict, j_out: dict, t_out: dict, l_out: dict):
    """Walk the JSON once, producing flattened VARIABLES (scalars only,
    processor.go flattenForAWK) and the json_get/type/length state maps
    (every path, objects/arrays as compact JSON)."""
    if isinstance(node, dict):
        if prefix:
            j_out[prefix] = json.dumps(node, separators=(",", ":"))
            t_out[prefix] = "object"
        for k, v in node.items():
            _flatten(f"{prefix}.{k}" if prefix else str(k), v, vars_out, j_out, t_out, l_out)
    elif isinstance(node, list):
        if prefix:
            j_out[prefix] = json.dumps(node, separators=(",", ":"))
            t_out[prefix] = "array"
            l_out[prefix] = len(node)
        for i, v in enumerate(node):
            _flatten(f"{prefix}.{i}" if prefix else str(i), v, vars_out, j_out, t_out, l_out)
    else:
        if isinstance(node, bool):
            s, t = ("true" if node else "false"), "bool"
        elif node is None:
            s, t = "null", "null"
        elif isinstance(node, float):
            s, t = repr(node), "float"
        elif isinstance(node, int):
            s, t = str(node), "int"
        else:
            s, t = str(node), "string"
            l_out[prefix] = len(s)
        if prefix:
            j_out[prefix] = s
            t_out[prefix] = t
            vars_out[_VAR_INVALID.sub("_", prefix)] = s


def _step(cur, p, create: bool):
    """One path-segment descent; understands list indices (gabs-style
    `obj.1.foo` paths, processor_test.go's json_set array cases)."""
    if isinstance(cur, list) and p.isdigit() and int(p) < len(cur):
        return cur[int(p)]
    if isinstance(cur, dict):
        nxt = cur.get(p)
        if nxt is None and create:
            nxt = {}
            cur[p] = nxt
        return nxt
    return None


def _set_path(doc: dict, path: str, value) -> None:
    parts = path.split(".")
    cur = doc
    for p in parts[:-1]:
        cur = _step(cur, p, create=True)
        if cur is None:
            return
    last = parts[-1]
    if isinstance(cur, list) and last.isdigit() and int(last) < len(cur):
        cur[int(last)] = value
    elif isinstance(cur, dict):
        cur[last] = value


def _delete_path(doc: dict, path: str) -> None:
    parts = path.split(".")
    cur = doc
    for p in parts[:-1]:
        cur = _step(cur, p, create=False)
        if cur is None:
            return
    last = parts[-1]
    if isinstance(cur, list) and last.isdigit() and int(last) < len(cur):
        del cur[int(last)]
    elif isinstance(cur, dict):
        cur.pop(last, None)


def _append_path(doc: dict, path: str, value) -> None:
    parts = path.split(".")
    cur = doc
    for p in parts[:-1]:
        cur = _step(cur, p, create=True)
        if cur is None:
            return
    last = parts[-1]
    arr = cur.get(last) if isinstance(cur, dict) else None
    if not isinstance(arr, list):
        arr = []
        if isinstance(cur, dict):
            cur[last] = arr
        else:
            return
    arr.append(value)


_TYPED = {
    "S": str, "I": int, "F": float,
    "B": lambda v: v == "true",
    "a": str, "i": int, "f": float,
    "b": lambda v: v == "true",
}


def awk_map(
    df: DataFrame,
    program: str,
    codec: str = "text",
    col: str = "text",
    meta_cols: list[str] | None = None,
    binary: str = "awk",
    timeout: float = 10.0,
    now_unix: int | None = None,
) -> DataFrame:
    """Apply the AWK program to each row's `col` content. `meta_cols` are
    the string columns exposed as Bento metadata (readable via variables +
    metadata_get, writable via metadata_set). `now_unix` pins
    timestamp_unix for deterministic tests — wall clock otherwise."""
    if codec not in ("none", "text", "json"):
        raise ValueError(f"awk codec must be none|text|json, got {codec!r}")
    import shutil

    if shutil.which(binary) is None:
        raise ValueError(
            f"awk binary {binary!r} not found on PATH — install mawk/gawk "
            "or set `binary:` to an available implementation"
        )
    df = ensure_error_col(df)
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if col not in fields:
        raise ValueError(f"awk column {col!r} not in {sorted(fields)}")
    meta_cols = list(meta_cols or [])
    for m in meta_cols:
        if m not in fields:
            raise ValueError(f"awk meta_columns entry {m!r} not in {sorted(fields)}")
        if fields[m] != "string":
            raise ValueError(f"awk meta_columns entry {m!r} must be string, is {fields[m]}")
    # inject only the functions the program does not define itself (awk
    # errors on duplicate function names; the reference overrides the same way)
    defined = set(re.findall(r"\bfunction\s+([A-Za-z_][A-Za-z0-9_]*)", program))
    prelude = "\n".join(body for name, body in _FUNCS.items() if name not in defined)
    full_program = f"{prelude}\n{_READER}\n{program}"
    out_schema = ", ".join(f"{c} {fields[c]}" for c in df.columns)
    cols = list(df.columns)
    meta_set_ok = set(meta_cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os
        import subprocess as _sp
        import tempfile
        import time as _time

        now = int(_time.time()) if now_unix is None else int(now_unix)
        progfile = tempfile.NamedTemporaryFile(
            "w", suffix=".awk", delete=False, encoding="utf-8"
        )
        progfile.write(full_program)
        progfile.close()

        def one(content: str, meta: dict[str, str]):
            """-> (new_content, meta_updates, error)."""
            stdin_parts, variables = [], {"__NOW": str(now)}
            # the json_* functions parse the content lazily in the reference
            # (getJSON) regardless of codec — here the parse is attempted up
            # front for every codec, and json_get on unparseable content
            # errors the row via the \x01X probe
            doc, parse_err = None, None
            try:
                parsed = json.loads(content) if content else None
                if isinstance(parsed, dict):
                    doc = parsed
                else:
                    parse_err = "document is not an object"
            except (TypeError, ValueError) as e:
                parse_err = str(e)
            if codec == "json" and doc is None:
                return content, {}, f"awk: failed to parse message as json: {parse_err}"
            if doc is not None:
                variables["__JOK"] = "1"
                vars_out, j, t, ln = {}, {}, {}, {}
                _flatten("", doc, vars_out, j, t, ln)
                if codec == "json":
                    variables.update(vars_out)
                for p, v in j.items():
                    stdin_parts.append(f"\x01J\x02{_esc(p)}\x02{_esc(v)}")
                for p, v in t.items():
                    stdin_parts.append(f"\x01T\x02{_esc(p)}\x02{v}")
                for p, v in ln.items():
                    stdin_parts.append(f"\x01N\x02{_esc(p)}\x02{v}")
            if codec != "none":
                for k, v in meta.items():
                    if v is not None:
                        variables[_VAR_INVALID.sub("_", k)] = v
                        stdin_parts.append(f"\x01m\x02{_esc(k)}\x02{_esc(v)}")
            stdin_parts.append("\x01E")
            body = "\n".join(stdin_parts) + "\n"
            body += content if codec == "text" and content is not None else " "
            argv = [binary]
            for k, v in variables.items():
                argv += ["-v", f"{k}={v.replace(chr(92), chr(92) * 2)}"]
            argv += ["-f", progfile.name]
            try:
                proc = _sp.run(
                    argv, input=body.encode("utf-8"), capture_output=True,
                    timeout=timeout, check=False,
                )
            except _sp.TimeoutExpired:
                return content, {}, f"awk timeout after {timeout}s"
            stderr = proc.stderr.decode("utf-8", "replace").strip()
            if stderr:
                return content, {}, f"awk: {stderr}"  # processor.go:818-822
            if proc.returncode != 0:
                return content, {}, (
                    "awk interpreter returned non-zero exit code: "
                    f"{proc.returncode}"  # processor.go:813-816
                )
            out_lines, ops = [], []
            for line in proc.stdout.decode("utf-8", "replace").split("\n"):
                if line.startswith("\x01"):
                    op, _, rest = line[1:].partition("\x02")
                    path, _, val = rest.partition("\x02")
                    ops.append((op, path.replace("\x03", "\n"), val.replace("\x03", "\n")))
                else:
                    out_lines.append(line)
            meta_updates = {}
            json_dirty = False
            for op, path, val in ops:
                if op == "M":
                    if path not in meta_set_ok:
                        return content, {}, (
                            f"awk: metadata_set key {path!r} is not a declared "
                            "meta_columns entry"
                        )
                    meta_updates[path] = val
                elif op == "X":
                    return content, {}, (
                        f"awk: failed to parse message as json: {parse_err}"
                    )
                elif op == "L":
                    import logging

                    logging.getLogger("bento_spark.awk").info("[%s] %s", path, val)
                elif op in _TYPED or op == "D":
                    if doc is None:
                        try:
                            doc = json.loads(content) if content else {}
                        except (TypeError, ValueError) as e:
                            return content, {}, f"awk: failed to parse message as json: {e}"
                        if not isinstance(doc, dict):
                            doc = {}
                    json_dirty = True
                    if op == "D":
                        _delete_path(doc, path)
                    elif op in ("a", "i", "f", "b"):
                        _append_path(doc, path, _TYPED[op](val))
                    else:
                        _set_path(doc, path, _TYPED[op](val))
            # stdout wins over structured mutations (processor.go:825-833
            # runs SetBytes last); empty output leaves content unchanged
            out = "\n".join(out_lines)
            if out.endswith("\n"):
                out = out[:-1]
            if out:
                new_content = out
            elif json_dirty:
                new_content = json.dumps(doc, separators=(",", ":"))
            else:
                new_content = content
            return new_content, meta_updates, None

        try:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                vals = {c: pdf[c].tolist() for c in cols}
                for r in range(len(pdf)):
                    if vals[ERROR_COL][r] is not None:
                        continue  # errored rows pass through untouched
                    content = vals[col][r]
                    if content is None:
                        continue
                    meta = {m: vals[m][r] for m in meta_cols}
                    new_content, meta_updates, err = one(str(content), meta)
                    vals[col][r] = new_content
                    for m, v in meta_updates.items():
                        vals[m][r] = v
                    if err is not None:
                        vals[ERROR_COL][r] = err
                yield pd.DataFrame({c: vals[c] for c in cols})
        finally:
            os.unlink(progfile.name)

    return df.mapInPandas(run, schema=out_schema)
