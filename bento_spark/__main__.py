"""CLI — verb parity with the reference binary (internal/cli/):

    python -m bento_spark lint  config.yaml [...]      # bento lint
    python -m bento_spark echo  config.yaml            # bento echo
    python -m bento_spark test  config.yaml [...]      # bento test
    python -m bento_spark blobl 'root = <mapping>'      # bento blobl (stdin lines)
    python -m bento_spark run   -c config.yaml --checkpoint DIR [--continuous]
    python -m bento_spark streams --checkpoint-root DIR [--port N] name=config.yaml [...]

lint/echo are Spark-free (CI-safe); test/run/streams create a session via
bento_spark.session.get_spark. Exit codes: 0 clean, 1 lint/test failures
or run errors — the reference CLI's contract.
"""

from __future__ import annotations

import argparse
import sys


def _read(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        return f.read()


def cmd_lint(args) -> int:
    from bento_spark.plans.lint import lint_yaml

    bad = 0
    for path in args.configs:
        issues = lint_yaml(_read(path))
        for issue in issues:
            print(f"{path}: {issue}")
        bad += len(issues)
    return 1 if bad else 0


def cmd_echo(args) -> int:
    import yaml

    from bento_spark.plans.compiler import interpolate_env

    conf = yaml.safe_load(interpolate_env(_read(args.config)))
    print(yaml.safe_dump(conf, sort_keys=False, default_flow_style=False), end="")
    return 0


def cmd_test(args) -> int:
    from bento_spark.plans.testing import run_config_tests
    from bento_spark.session import get_spark

    spark = get_spark()
    failed = 0
    for path in args.configs:
        try:
            failures = run_config_tests(spark, path)
        except ValueError as e:
            print(f"{path}: {e}")
            failed += 1
            continue
        if failures:
            failed += len(failures)
            for f in failures:
                print(f"FAIL {path}: {f}")
        else:
            print(f"ok   {path}")
    return 1 if failed else 0


def cmd_blobl(args) -> int:
    """bento blobl (internal/cli/blobl.go): execute a Bloblang mapping on
    each stdin line, print each result line. Deleted rows print nothing."""
    from bento_spark.functions.bloblang import compile_mapping
    from bento_spark.session import get_spark

    spark = get_spark()
    lines = [ln.rstrip("\n") for ln in sys.stdin]
    if not lines:
        return 0
    df = spark.createDataFrame(
        [(ln, None, i) for i, ln in enumerate(lines)],
        "bytes string, error string, _part int",
    )
    out = compile_mapping(args.mapping).apply(df)
    cols = out.columns
    rows = out.orderBy("_part").collect() if "_part" in cols else out.collect()
    for r in rows:
        d = r.asDict()
        d.pop("_part", None)
        d.pop("error", None)
        if set(d) == {"bytes"}:
            print(d["bytes"])
        else:  # structured result: print as JSON (reference prints documents)
            import json

            if d.get("bytes") is None:
                d.pop("bytes", None)
            print(json.dumps(d, default=str))
    return 0


def cmd_run(args) -> int:
    from bento_spark.plans.compiler import compile_yaml
    from bento_spark.session import get_spark

    spark = get_spark()
    p = compile_yaml(_read(args.config))
    if args.stage_clips:
        inp = (p.conf.get("input") or {}).get("parquet") or {}
        if not inp.get("path"):
            print("--stage-clips needs input.parquet.path", file=sys.stderr)
            return 1
        p.stage_clips(spark, inp["path"], args.stage_clips)
    from bento_spark.streaming.bridge import BridgeFailed

    try:
        p.run(spark, args.checkpoint, continuous=args.continuous, timeout=args.timeout)
    except BridgeFailed as e:
        print(e, file=sys.stderr)
        return 1
    return 0


def cmd_streams(args) -> int:
    from bento_spark.session import get_spark
    from bento_spark.streaming.manager import StreamManager

    spark = get_spark()
    mgr = StreamManager(spark, args.checkpoint_root)
    for spec in args.streams:
        name, _, path = spec.partition("=")
        if not path:
            print(f"stream spec must be name=config.yaml, got {spec!r}", file=sys.stderr)
            return 1
        mgr.create(name, _read(path))
        print(f"started stream {name!r}")
    port = mgr.serve(port=args.port)
    print(f"management API on http://127.0.0.1:{port} (/ready /streams /streams/<id>/stats)")
    try:
        import time

        while True:
            time.sleep(1)
    except KeyboardInterrupt:
        mgr.stop_all()
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="bento_spark")
    sub = ap.add_subparsers(dest="verb", required=True)

    p = sub.add_parser("lint", help="lint configs (Spark-free)")
    p.add_argument("configs", nargs="+")
    p.set_defaults(fn=cmd_lint)

    p = sub.add_parser("echo", help="print the normalized config")
    p.add_argument("config")
    p.set_defaults(fn=cmd_echo)

    p = sub.add_parser("test", help="run declarative tests: sections")
    p.add_argument("configs", nargs="+")
    p.set_defaults(fn=cmd_test)

    p = sub.add_parser("blobl", help="run a Bloblang mapping over stdin lines")
    p.add_argument("mapping")
    p.set_defaults(fn=cmd_blobl)

    p = sub.add_parser("run", help="run one pipeline")
    p.add_argument("-c", "--config", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--continuous", action="store_true")
    p.add_argument("--timeout", type=int, default=0)
    p.add_argument("--stage-clips", type=int, default=0)
    p.set_defaults(fn=cmd_run)

    p = sub.add_parser("streams", help="streams mode: N named pipelines + management API")
    p.add_argument("--checkpoint-root", required=True)
    p.add_argument("--port", type=int, default=0)
    p.add_argument("streams", nargs="+", metavar="name=config.yaml")
    p.set_defaults(fn=cmd_streams)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
