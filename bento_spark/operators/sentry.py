"""sentry_capture processor — posts one event per message to a Sentry
DSN over the public envelope endpoint (develop.sentry.dev: newline-
delimited envelope/item/event JSON to /api/{project}/envelope/ with the
X-Sentry-Auth header derived from the DSN's public key).

Reference: internal/impl/sentry/processor_capture.go — dsn, interpolated
`message`, `tags` (interpolated map), environment, release, level. The
reference uses sentry-go; the envelope format is plain JSON-lines HTTP,
so no SDK is needed.

Spark-first mapping: the interpolated message/tags compile JVM-side;
executors post with one pooled connection per partition and pass rows
through UNCHANGED (capture is a side effect, like the reference) — a
transport failure flags the error column instead of dropping the row.
event_id is a per-capture uuid like the reference SDK's: Sentry rejects
duplicate event_ids, so a content-derived id would silently collapse
every recurrence of the same error into one event (occurrence counts
lost). The id never enters the DataFrame — transport metadata, outside
the determinism invariant's data paths."""

from __future__ import annotations

import re


def parse_dsn(dsn: str) -> tuple[str, str, int, str, str]:
    """-> (scheme, host, port, public_key, project_id)."""
    m = re.match(r"(https?)://([^:@]+)(?::[^@]*)?@([^/:]+)(?::(\d+))?/(\d+)$", dsn)
    if not m:
        raise ValueError(f"sentry: malformed DSN {dsn!r}")
    scheme, key, host, port, project = m.groups()
    return scheme, host, int(port or (443 if scheme == "https" else 80)), key, project


def build_envelope(event: dict) -> bytes:
    """Envelope = header line + item header line + payload line."""
    import json

    payload = json.dumps(event, separators=(",", ":")).encode("utf-8")
    head = json.dumps({"event_id": event["event_id"]}).encode()
    item = json.dumps({"type": "event", "length": len(payload)}).encode()
    return head + b"\n" + item + b"\n" + payload + b"\n"


def sentry_capture(df, dsn: str, message_col: str,
                   tag_cols: dict[str, str] | None = None,
                   level: str = "error", environment: str | None = None,
                   release: str | None = None):
    """Capture one event per non-errored row; rows pass through unchanged
    (message/tag staging columns are dropped and never echo through
    Arrow)."""
    scheme, host, port, key, project = parse_dsn(dsn)
    tag_cols = dict(tag_cols or {})
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    has_error = "error" in fields
    staging = [message_col, *tag_cols.values()]
    keep = [c for c in df.columns if c not in (*staging, "error")]
    out_schema = ", ".join([f"{c} {fields[c]}" for c in keep] + ["error string"])
    lvl = level.lower()

    def run(batches):
        import http.client
        import json
        import uuid as _uuid

        path = f"/api/{project}/envelope/"
        auth = (f"Sentry sentry_version=7, sentry_client=bento-spark/1, "
                f"sentry_key={key}")
        cls = http.client.HTTPSConnection if scheme == "https" else http.client.HTTPConnection
        conn = None
        try:
            for pdf in batches:
                errs = []
                for i in range(len(pdf)):
                    prior = pdf["error"].iloc[i] if has_error else None
                    if prior is not None:
                        errs.append(prior)  # errored rows short-circuit
                        continue
                    msg = pdf[message_col].iloc[i]
                    tags = {name: str(pdf[col].iloc[i])
                            for name, col in tag_cols.items()
                            if pdf[col].iloc[i] is not None}
                    # per-capture uuid (the SDK contract): Sentry drops
                    # duplicate ids, so recurrences must get fresh ones
                    event = {"event_id": _uuid.uuid4().hex, "platform": "python",
                             "level": lvl,
                             "message": {"formatted": str(msg)}, "tags": tags}
                    if environment:
                        event["environment"] = environment
                    if release:
                        event["release"] = release
                    try:
                        if conn is None:
                            conn = cls(host, port, timeout=10)
                        conn.request("POST", path, body=build_envelope(event),
                                     headers={
                                         "Content-Type": "application/x-sentry-envelope",
                                         "X-Sentry-Auth": auth,
                                     })
                        resp = conn.getresponse()
                        resp.read()
                        if resp.status // 100 != 2:
                            errs.append(f"sentry: capture -> {resp.status}")
                        else:
                            errs.append(None)
                    except (OSError, http.client.HTTPException) as e:
                        # HTTPException covers broken keep-alive responses
                        # (BadStatusLine etc.) — same contract as
                        # http_post_writer
                        if conn is not None:
                            conn.close()
                            conn = None
                        errs.append(f"sentry: {e}")
                out = pdf[keep].copy()
                out["error"] = errs
                yield out
        finally:
            if conn is not None:
                conn.close()

    return df.mapInPandas(run, schema=out_schema)
