"""Metrics + lineage: StreamingQueryListener mirroring the reference's
metric names.

Reference metric surface (SURVEY.md §2.11): input_received,
input_latency_ns, processor_received/sent/error, buffer_*, output_sent,
batch_created (/root/reference/internal/component/output/async_writer.go:92-95,
internal/component/input/async_reader.go:88,
internal/batch/policy/policy.go:79-96); tracing span events
PRODUCE/CONSUME/DELETE/ERROR (internal/bundle/tracing/events.go:12-19).

Spark gives the same signals via StreamingQueryProgress: numInputRows →
input_received, sink.numOutputRows → output_sent, stateOperators →
state-store size, eventTime.watermark → watermark lag. This listener maps
them onto the reference names and records per-micro-batch lineage rows
(sources' startOffset/endOffset per partition — the per-partition lineage
the north rule requires).
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchMetrics:
    batch_id: int
    ts: str
    input_received: int
    output_sent: int
    watermark: str | None
    watermark_lag_ms: float | None
    state_rows_total: int
    state_memory_bytes: int
    input_rows_per_sec: float
    process_rows_per_sec: float
    lineage: list[dict] = field(default_factory=list)
    observed: dict = field(default_factory=dict)  # df.observe() custom metrics


class BentoMetricsListener(StreamingQueryListener):
    """Collects per-micro-batch metrics + per-partition source lineage."""

    def __init__(self):
        self.batches: list[BatchMetrics] = []
        self.errors: list[str] = []
        self._lock = threading.Lock()

    # -- listener hooks ----------------------------------------------------
    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        try:
            state_rows = sum(s.numRowsTotal for s in p.stateOperators)
            state_mem = sum(s.memoryUsedBytes for s in p.stateOperators)
        except Exception:
            state_rows, state_mem = 0, 0
        wm, lag = None, None
        try:
            et = p.eventTime or {}
            wm = et.get("watermark")
            mx = et.get("max")
            # the first batch reports the UNINITIALIZED watermark (epoch 0);
            # max-minus-epoch is an absolute timestamp, not a lag — skip it
            if wm and mx and not wm.startswith("1970-"):
                from datetime import datetime

                fmt = "%Y-%m-%dT%H:%M:%S.%fZ"
                lag = (datetime.strptime(mx, fmt) - datetime.strptime(wm, fmt)).total_seconds() * 1e3
        except Exception:
            pass
        lineage = []
        try:
            for s in p.sources:
                lineage.append(
                    {
                        "source": s.description,
                        "start_offset": s.startOffset,
                        "end_offset": s.endOffset,
                        "rows": s.numInputRows,
                    }
                )
        except Exception:
            pass
        observed = {}
        try:
            for mname, row in (p.observedMetrics or {}).items():
                observed[mname] = row.asDict() if hasattr(row, "asDict") else dict(row)
        except Exception:  # noqa: BLE001 — custom metrics are best-effort
            pass
        m = BatchMetrics(
            batch_id=p.batchId,
            ts=p.timestamp,
            input_received=p.numInputRows,
            output_sent=getattr(p.sink, "numOutputRows", -1),
            watermark=wm,
            watermark_lag_ms=lag,
            state_rows_total=state_rows,
            state_memory_bytes=state_mem,
            input_rows_per_sec=p.inputRowsPerSecond or 0.0,
            process_rows_per_sec=p.processedRowsPerSecond or 0.0,
            lineage=lineage,
            observed=observed,
        )
        with self._lock:
            self.batches.append(m)

    def onQueryTerminated(self, event):
        if getattr(event, "exception", None):
            with self._lock:
                self.errors.append(str(event.exception))

    def onQueryIdle(self, event):
        pass

    # -- reporting ----------------------------------------------------------
    def totals(self) -> dict:
        with self._lock:
            return {
                "input_received": sum(b.input_received for b in self.batches),
                "output_sent": sum(max(b.output_sent, 0) for b in self.batches),
                "batch_created": len(self.batches),
                "state_rows_last": self.batches[-1].state_rows_total if self.batches else 0,
                "max_watermark_lag_ms": max(
                    (b.watermark_lag_ms for b in self.batches if b.watermark_lag_ms is not None),
                    default=None,
                ),
            }

    def observed_totals(self) -> dict:
        """Custom `metric:` processor values across batches: counters sum,
        gauges keep the last value (processor_metric.go type semantics)."""
        out: dict[str, dict] = {}
        with self._lock:
            for b in self.batches:
                for mname, vals in b.observed.items():
                    slot = out.setdefault(mname, {})
                    for k, v in vals.items():
                        if k == "gauge":
                            slot[k] = v if v is not None else slot.get(k)
                        else:
                            slot[k] = (slot.get(k) or 0) + (v or 0)
        return out

    def lineage_rows(self) -> list[dict]:
        with self._lock:
            return [
                {"batch_id": b.batch_id, **src} for b in self.batches for src in b.lineage
            ]

    def dump_json(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"totals": self.totals(), "lineage": self.lineage_rows(), "errors": self.errors},
                f,
                indent=2,
                default=str,
            )


class _ProgressEvent:
    def __init__(self, progress):
        self.progress = progress


def collect_progress(listener: BentoMetricsListener, query) -> BentoMetricsListener:
    """Pull-based alternative to addListener: replay the query's
    recentProgress through the listener AFTER the run. spark-submit jobs use
    this instead of the py4j callback server — concurrent push callbacks
    from multiple queries can garble the py4j channel ('Received empty
    command'), and a listener exception escalates through
    tryOrStopSparkContext into killing the whole job. Pulling has no
    callback channel at all. Bounded by numRecentProgressUpdates (default
    100 micro-batches) — plenty for bounded drains; long-lived jobs should
    poll per-interval."""
    for p in query.recentProgress:
        listener.onQueryProgress(_ProgressEvent(p))
    return listener


def wait_for_batches(listener: BentoMetricsListener, n: int, timeout_s: float = 60.0) -> bool:
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if len(listener.batches) >= n:
            return True
        time.sleep(0.2)
    return False


def prometheus_text(totals: dict, prefix: str = "bento") -> str:
    """Render listener totals in the Prometheus exposition text format
    (the reference exports the same counters via its prometheus metrics
    component, /root/reference/internal/impl/prometheus/metrics.go). Serve
    this from any HTTP endpoint (e.g. HttpSpoolServer's host) or write it
    to a textfile-collector path — the format is the public contract."""
    lines = []
    kinds = {
        "input_received": "counter",
        "output_sent": "counter",
        "batch_created": "counter",
        "state_rows_last": "gauge",
        "max_watermark_lag_ms": "gauge",
    }
    for key, kind in kinds.items():
        val = totals.get(key)
        if val is None:
            continue
        name = f"{prefix}_{key}"
        lines.append(f"# TYPE {name} {kind}")
        lines.append(f"{name} {val}")
    return "\n".join(lines) + "\n"


def statsd_lines(totals: dict, prefix: str = "bento") -> list[str]:
    """Render listener totals as statsd wire lines (the public `name:value|c`
    / `|g` protocol — the reference's statsd metrics component,
    /root/reference/internal/impl/statsd/metrics_statsd.go, emits the same
    counter/gauge split)."""
    kinds = {
        "input_received": "c",
        "output_sent": "c",
        "batch_created": "c",
        "state_rows_last": "g",
        "max_watermark_lag_ms": "g",
    }
    out = []
    for key, kind in kinds.items():
        val = totals.get(key)
        if val is not None:
            out.append(f"{prefix}.{key}:{val}|{kind}")
    return out


def influx_lines(totals: dict, measurement: str = "bento",
                 tags: dict | None = None, timestamp_ns: int | None = None) -> list[str]:
    """Render listener totals in the InfluxDB line protocol
    (`measurement,tag=v field=value [ts]` — the public wire format the
    reference's influxdb metrics component writes,
    /root/reference/internal/impl/influxdb/metrics_influxdb.go:284 via
    client.NewPoint with global `tags`). Tag/field escaping per the spec:
    commas, spaces and equals in tag keys/values escape with a backslash.
    One line per metric keeps points independently retryable."""
    def esc(s: str) -> str:
        return str(s).replace("\\", "\\\\").replace(",", "\\,").replace(" ", "\\ ").replace("=", "\\=")

    # measurement position escapes ONLY ',' and ' ' — '=' is legal there
    # and a backslash before it would be stored literally
    meas = str(measurement).replace(",", "\\,").replace(" ", "\\ ")
    tag_part = "".join(
        f",{esc(k)}={esc(v)}" for k, v in sorted((tags or {}).items())
    )
    ts_part = f" {timestamp_ns}" if timestamp_ns is not None else ""
    keys = ["input_received", "output_sent", "batch_created",
            "state_rows_last", "max_watermark_lag_ms"]
    return [
        f"{meas}{tag_part} {k}={int(totals[k])}i{ts_part}"
        for k in keys
        if totals.get(k) is not None
    ]


def influx_export(totals: dict, url: str, db: str = "bento",
                  measurement: str = "bento", tags: dict | None = None,
                  timestamp_ns: int | None = None) -> int:
    """POST listener totals at an InfluxDB /write endpoint (v1 API —
    the reference's flush path). Returns the number of lines written;
    raises on a non-2xx so callers surface export failures."""
    import http.client
    import urllib.parse

    lines = influx_lines(totals, measurement=measurement, tags=tags,
                         timestamp_ns=timestamp_ns)
    if not lines:
        return 0
    u = urllib.parse.urlsplit(url)
    cls = http.client.HTTPSConnection if u.scheme == "https" else http.client.HTTPConnection
    conn = cls(u.hostname, u.port, timeout=10)
    try:
        path = (u.path.rstrip("/") or "") + "/write?" + urllib.parse.urlencode({"db": db})
        conn.request("POST", path, body="\n".join(lines).encode("utf-8"),
                     headers={"Content-Type": "text/plain; charset=utf-8"})
        resp = conn.getresponse()
        body = resp.read()
        if resp.status // 100 != 2:
            raise ConnectionError(
                f"influxdb: write -> {resp.status} {body[:120]!r}")
        return len(lines)
    finally:
        conn.close()


def logger_export(totals: dict, prefix: str = "bento", log=None) -> int:
    """`metrics: logger` (impl/pure/metrics_logger.go): print aggregated
    metrics through the logger, one structured line per metric —
    `{"name": ..., "value": ..., "type": counter|gauge|timing}`. Returns
    the metric count. `log` is any callable taking one string (defaults
    to stderr print); push_interval loops belong to the caller's
    scheduler, exactly like the other pull-shaped exporters here."""
    import json as _json
    import sys as _sys

    emit = log or (lambda line: print(line, file=_sys.stderr))
    kinds = {
        "input_received": "counter",
        "output_sent": "counter",
        "batch_created": "counter",
        "state_rows_last": "gauge",
        "max_watermark_lag_ms": "gauge",
    }
    n = 0
    for key, kind in kinds.items():
        val = totals.get(key)
        if val is not None:
            emit(_json.dumps({"name": f"{prefix}.{key}", "value": val,
                              "type": kind}))
            n += 1
    return n


def cloudwatch_export(totals: dict, endpoint: str, namespace: str,
                      access_key: str, secret_key: str,
                      region: str = "us-east-1",
                      timeout: float = 10.0) -> int:
    """`metrics: aws_cloudwatch` (aws/metrics_cloudwatch.go): listener
    totals ship as ONE PutMetricData call on the monitoring Query
    protocol (Action/Version form body, MetricData.member.N.* params)
    over the vector-pinned SigV4 layer; counters as Unit=Count, gauges
    as Unit=None. Returns the metric count; non-2xx raises."""
    import http.client
    import urllib.parse

    from bento_spark.streaming.sqs import sigv4_headers

    kinds = {
        "input_received": "Count",
        "output_sent": "Count",
        "batch_created": "Count",
        "state_rows_last": "None",
        "max_watermark_lag_ms": "None",
    }
    params = {"Action": "PutMetricData", "Version": "2010-08-01",
              "Namespace": namespace}
    n = 0
    for key, unit in kinds.items():
        val = totals.get(key)
        if val is None:
            continue
        n += 1
        params[f"MetricData.member.{n}.MetricName"] = key
        params[f"MetricData.member.{n}.Value"] = str(float(val))
        params[f"MetricData.member.{n}.Unit"] = unit
    if n == 0:
        return 0
    payload = urllib.parse.urlencode(params).encode("utf-8")
    u = urllib.parse.urlsplit(endpoint)
    https = u.scheme == "https"
    headers = sigv4_headers(
        "POST", u.netloc, "/", payload, access_key, secret_key, region,
        "monitoring", "",  # Query protocol: no X-Amz-Target
        content_type="application/x-www-form-urlencoded; charset=utf-8")
    cls = http.client.HTTPSConnection if https else http.client.HTTPConnection
    conn = cls(u.hostname, u.port or (443 if https else 80), timeout=timeout)
    try:
        conn.request("POST", "/", body=payload, headers=headers)
        resp = conn.getresponse()
        body = resp.read()
        if resp.status // 100 != 2:
            raise ConnectionError(
                f"cloudwatch: PutMetricData -> {resp.status} {body[:160]!r}")
    finally:
        conn.close()
    return n


def statsd_export(totals: dict, host: str = "127.0.0.1", port: int = 8125,
                  prefix: str = "bento") -> int:
    """Fire listener totals at a statsd daemon over UDP (one datagram per
    metric, the protocol's canonical framing). Returns the number of
    metrics sent. UDP is fire-and-forget by design — no availability gate
    needed, exactly like the reference's statsd client."""
    import socket

    lines = statsd_lines(totals, prefix)
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    try:
        for line in lines:
            sock.sendto(line.encode("utf-8"), (host, port))
    finally:
        sock.close()
    return len(lines)
