"""Config linting — the reference's `bento lint` command
(/root/reference/internal/cli/lint.go; field-level lints come from the
docs.FieldSpec registry).

Structural, Spark-free checks: a lint must run without a SparkSession (CI
pre-merge, editor integration), so it validates the config SHAPE — known
sections, known processor names, single-key processor maps, required
fields, enum values, parseable durations, resolvable `${VAR}`
interpolations — and leaves expression-level validation to compile time
(Bloblang compiles to Catalyst Columns, which need a session).

Input, output and processor names come from the input, output and
processor registries (plans/inputs.py, plans/outputs.py,
plans/processors.py), the tables the compiler reads; an input or output map
naming two of them is reported with the compiler's own error. An `output`
key that is neither an output nor a modifier (`keys`, `dlq`, `mode`,
`trigger`, `default` next to `switch`) is reported, and so is `window` +
`dlq` without `path`. A processor's required fields, and the processor
lists nested in its options (`switch` cases and default, `group_by` checks,
`try`/`catch`/`while`/`cached` bodies), come from its registry row; cache
backends and their required field from the same module's CACHE_BACKENDS.
Either way a new component is lintable the moment it is registered — no
second list to forget to update.
"""

from __future__ import annotations

import yaml

_DUR_KEYS = {"interval", "within", "watermark", "duration", "slide", "gap",
             "lateness", "offset", "trigger", "max_lag"}

_TOP_SECTIONS = {
    "input", "pipeline", "output", "window", "join", "error_handling",
    "tests", "resources", "cache_resources", "rate_limit_resources",
    "metrics", "logger",
}


def known_processors() -> frozenset[str]:
    from bento_spark.plans.processors import ALIASES, PROCESSORS

    return frozenset(PROCESSORS) | frozenset(ALIASES)


def known_inputs() -> frozenset[str]:
    from bento_spark.plans.inputs import ALIASES, INPUTS

    return frozenset(INPUTS) | frozenset(ALIASES)


def known_outputs() -> frozenset[str]:
    from bento_spark.plans.outputs import ALIASES, OUTPUTS

    return frozenset(OUTPUTS) | frozenset(ALIASES)


def _lint_output(out: dict, issues: list[str]) -> None:
    from bento_spark.plans.outputs import MODIFIERS, select_output

    # stdout, the reference's default output, is accepted for batch-only
    # configs: batch runs (`bento test`, build_batch) return the table
    # instead, and run_stream reports it as naming no output
    allowed = known_outputs() | MODIFIERS | {"stdout", *(["default"] if "switch" in out else [])}
    for k in out:
        if k not in allowed:
            issues.append(f"output: unknown key {k!r}")
    if set(out) & known_outputs():
        try:
            select_output(out)
        except ValueError as e:  # names two outputs: the compiler's rule
            issues.append(f"output: {e}")


def _lint_duration(path: str, val, issues: list[str]) -> None:
    from bento_spark.streaming.cep import duration_ms

    try:
        duration_ms(str(val))
    except ValueError:
        issues.append(f"{path}: bad duration {val!r} (e.g. '500 ms', '10 seconds')")


def _nested_lists(opts: dict, position: str):
    """(path, list) of each processor list at a row's nested position:
    `key` names one list, `key[].sub` one list in each map of `key`."""
    key, _, sub = position.partition("[].")
    if not sub:
        yield key, opts.get(key)
        return
    items = opts.get(key)
    for j, item in enumerate(items if isinstance(items, list) else []):
        if isinstance(item, dict):
            yield f"{key}[{j}].{sub}", item.get(sub)


def _lint_processor(i: int, p, issues: list[str], path: str = "pipeline.processors") -> None:
    from bento_spark.plans.processors import ALIASES, PROCESSORS

    if not isinstance(p, dict) or len(p) != 1:
        issues.append(f"{path}[{i}]: each processor must be a single-key map, got {p!r}")
        return
    name, opts = next(iter(p.items()))
    row = PROCESSORS.get(ALIASES.get(name, name))
    if row is None:
        issues.append(f"{path}[{i}]: unknown processor {name!r}")
        return
    for req in row.required:
        if not isinstance(opts, dict) or req not in opts:
            issues.append(f"{path}[{i}] ({name}): missing required field {req!r}")
    if isinstance(opts, dict):
        for k, v in opts.items():
            if k in _DUR_KEYS and v is not None:
                _lint_duration(f"{path}[{i}] ({name}).{k}", v, issues)
        for position in row.nested:
            for sub, children in _nested_lists(opts, position):
                for j, child in enumerate(children or []):
                    _lint_processor(j, child, issues, path=f"{path}[{i}].{name}.{sub}")


def lint_yaml(src: str, env: dict | None = None) -> list[str]:
    """Lint a config; returns human-readable issues (empty = clean).
    Raises nothing — every problem becomes an issue string, like the
    reference's lint output."""
    from bento_spark.plans.compiler import interpolate_env
    from bento_spark.plans.processors import CACHE_BACKENDS

    issues: list[str] = []
    try:
        text = interpolate_env(src, env)
    except ValueError as e:
        return [f"env interpolation: {e}"]
    try:
        conf = yaml.safe_load(text)
    except yaml.YAMLError as e:
        return [f"yaml parse: {e}"]
    if not isinstance(conf, dict):
        return ["config must be a YAML mapping"]

    for k in conf:
        if k not in _TOP_SECTIONS:
            issues.append(f"unknown top-level section {k!r}")

    inp = conf.get("input") or {}
    if isinstance(inp, dict):
        if inp and not (set(inp) & known_inputs()):
            issues.append(f"input: unknown source {sorted(inp)!r}")
        elif inp:
            from bento_spark.plans.inputs import select_input

            try:
                select_input(inp)
            except ValueError as e:  # names two inputs: the compiler's rule
                issues.append(f"input: {e}")
    elif inp:
        issues.append("input: must be a mapping")

    procs = (conf.get("pipeline") or {}).get("processors")
    if procs is not None and not isinstance(procs, list):
        issues.append("pipeline.processors must be a list")
    for i, p in enumerate(procs or []):
        _lint_processor(i, p, issues)

    eh = conf.get("error_handling") or {}
    if isinstance(eh, dict):
        if eh.get("strategy", "none") not in ("none", "reject", "retry"):
            issues.append(
                f"error_handling.strategy must be none|reject|retry, got {eh.get('strategy')!r}"
            )
        if eh.get("on_exhausted", "none") not in ("none", "reject"):
            issues.append(
                f"error_handling.on_exhausted must be none|reject, got {eh.get('on_exhausted')!r}"
            )

    win = conf.get("window") or {}
    if isinstance(win, dict):
        if win and win.get("type") not in ("tumbling", "sliding", "session"):
            issues.append(f"window.type must be tumbling|sliding|session, got {win.get('type')!r}")
        for k in ("duration", "slide", "gap", "lateness", "offset"):
            if win.get(k) is not None:
                _lint_duration(f"window.{k}", win[k], issues)

    crs = conf.get("cache_resources")
    if crs is not None and not isinstance(crs, list):
        issues.append("cache_resources must be a list")
    for i, r in enumerate(crs or []):
        if not isinstance(r, dict) or not r.get("label"):
            issues.append(f"cache_resources[{i}]: needs a 'label'")
            continue
        kind = next((k for k in CACHE_BACKENDS if k in r), None)
        if kind is None:
            issues.append(f"cache_resources[{i}]: needs a backend (one of {', '.join(CACHE_BACKENDS)})")
            continue
        if kind == "multilevel":
            levels = r["multilevel"]
            if not isinstance(levels, list) or len(levels) < 2:
                issues.append(
                    f"cache_resources[{i}] (multilevel): needs a list of >=2 cache labels"
                )
                continue
            known = {
                c.get("label") for c in crs or [] if isinstance(c, dict)
            }
            for n in levels:
                if n == r.get("label"):
                    issues.append(f"cache_resources[{i}] (multilevel): references itself")
                elif n not in known:
                    issues.append(
                        f"cache_resources[{i}] (multilevel): unknown cache label {n!r}"
                    )
            continue
        o = r[kind] or {}
        if not isinstance(o, dict):
            issues.append(f"cache_resources[{i}] ({kind}): options must be a mapping")
            continue
        need = CACHE_BACKENDS[kind].required
        if need is not None and need not in o:
            issues.append(f"cache_resources[{i}] ({kind}): missing {need!r}")
        if o.get("cap") is not None and not isinstance(o["cap"], int):
            issues.append(f"cache_resources[{i}] ({kind}): 'cap' must be an integer")
        for k in ("ttl", "default_ttl"):
            # a number is seconds; a string is a duration
            if isinstance(o.get(k), str):
                _lint_duration(f"cache_resources[{i}].{kind}.{k}", o[k], issues)
        if o.get("init_values") is not None and not isinstance(o["init_values"], dict):
            issues.append(f"cache_resources[{i}] ({kind}): 'init_values' must be a mapping")

    rls = conf.get("rate_limit_resources")
    if rls is not None and not isinstance(rls, list):
        issues.append("rate_limit_resources must be a list")
    for i, r in enumerate(rls or []):
        if not isinstance(r, dict) or not r.get("label"):
            issues.append(f"rate_limit_resources[{i}]: needs a 'label'")
            continue
        body = r.get("local") or r  # reference nests fields under `local:`
        if not isinstance(body, dict):
            issues.append(f"rate_limit_resources[{i}]: 'local' must be a mapping")
            continue
        if "redis" in body:  # distributed fixed window (redis/rate_limit.go)
            rd = body["redis"]
            if not isinstance(rd, dict) or "url" not in rd:
                issues.append(f"rate_limit_resources[{i}] (redis): missing 'url'")
                continue
            if rd.get("interval") is not None:
                _lint_duration(f"rate_limit_resources[{i}].redis.interval", rd["interval"], issues)
            body = {**body, **{k: rd[k] for k in ("count",) if k in rd}}
        try:
            if int(body.get("count", 1000)) <= 0:
                issues.append(f"rate_limit_resources[{i}]: count must be > 0")
        except (TypeError, ValueError):
            issues.append(f"rate_limit_resources[{i}]: count must be an integer")
        if body.get("interval") is not None:
            _lint_duration(f"rate_limit_resources[{i}].interval", body["interval"], issues)

    out = conf.get("output") or {}
    if isinstance(out, dict):
        _lint_output(out, issues)
        if out.get("trigger") is not None:
            _lint_duration("output.trigger", out["trigger"], issues)
    return issues
