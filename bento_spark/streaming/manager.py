"""Streams mode: many named pipelines in one engine, with the reference's
management API surface.

Reference: streams-mode manager + HTTP CRUD/stats endpoints
(/root/reference/internal/stream/manager/api.go:31-57 — `/ready`,
`/streams`, `/streams/{id}`, `/streams/{id}/stats`; general endpoints
/root/reference/internal/api/api.go:150-203 — `/ping`, `/stats`).

Spark-first shape: one SparkSession hosts N StreamingQueries (Spark
multiplexes micro-batch scheduling across them); each stream is an
independent compiled Pipeline with its own checkpoint dir (exactly-once
per stream survives manager restarts). Status/stats come from the
StreamingQuery handles (lastProgress/recentProgress) — Spark's own
progress facts, the analogue of the reference's per-stream metrics
(uptime, rows consumed/produced). A spool-bridge input's bridge runs for
the life of its stream; delete and update stop it and release what the
stream's output holds on the driver.
"""

from __future__ import annotations

import http.server
import json
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession

from bento_spark.plans.compiler import Pipeline, compile_yaml


@dataclass
class _StreamInfo:
    pipeline: Pipeline | None
    query: Any  # StreamingQuery (None while the slot is a reservation)
    created_at: float
    config_src: str
    totals: dict[str, float] = field(default_factory=dict)
    # starting=True marks a RESERVATION: the id is claimed (duplicate
    # creates fail fast) while compile+start runs outside the manager lock
    starting: bool = False
    # per-stream lock for totals accumulation (concurrent /stats requests
    # through ThreadingHTTPServer must not double-count a batch)
    lock: threading.Lock = field(default_factory=threading.Lock, repr=False)
    bridge: Any = None  # the started bridge of a spool-bridge input


class StreamManager:
    """CRUD over named streams (stream/manager/api.go semantics):
    create/read/update/delete + ready/stats, optionally served over HTTP."""

    def __init__(self, spark: SparkSession, checkpoint_root: str):
        self.spark = spark
        self.checkpoint_root = checkpoint_root.rstrip("/")
        self._streams: dict[str, _StreamInfo] = {}
        self._lock = threading.Lock()
        self._server: http.server.ThreadingHTTPServer | None = None

    # ------------------------------------------------------------------ CRUD
    def _start(self, stream_id: str, config_src: str, available_now: bool):
        pipe = compile_yaml(config_src)
        ck = os.path.join(self.checkpoint_root, stream_id)
        # a spool-bridge input (http_server, subprocess, mqtt, ...) gets its
        # listener/subscriber for the life of the stream
        bridge = pipe.start_bridge() if pipe.bridged else None
        try:
            q = pipe.run_stream(self.spark, checkpoint=ck, available_now=available_now)
        except BaseException:
            self._release(pipe, bridge)
            raise
        return pipe, q, bridge

    def _fill_reservation(self, stream_id: str, slot: _StreamInfo,
                          config_src: str, available_now: bool) -> None:
        """Compile+start OUTSIDE the manager lock (starting a query takes
        seconds), then swap the result into the reserved slot; a failed
        start releases the reservation so the id is creatable again."""
        try:
            pipe, q, bridge = self._start(stream_id, config_src, available_now)
        except BaseException:
            with self._lock:
                if self._streams.get(stream_id) is slot:
                    del self._streams[stream_id]
            raise
        with self._lock:
            slot.pipeline, slot.query, slot.bridge = pipe, q, bridge
            slot.created_at = time.time()
            slot.starting = False

    def create(self, stream_id: str, config_src: str, available_now: bool = False) -> None:
        """POST /streams/{id}: compile + start. Duplicate ids error (the
        reference returns 400 on existing). The id is RESERVED under the
        lock before the (slow) start, so two concurrent creates can't both
        pass the duplicate check and leak the loser's running query."""
        slot = _StreamInfo(None, None, time.time(), config_src, starting=True)
        with self._lock:
            if stream_id in self._streams:
                raise ValueError(f"stream {stream_id!r} already exists")
            self._streams[stream_id] = slot
        self._fill_reservation(stream_id, slot, config_src, available_now)

    def update(self, stream_id: str, config_src: str) -> None:
        """PUT /streams/{id}: stop + restart with the new config. The
        checkpoint dir is KEPT — an update resumes from the stream's
        offsets, matching the reference's restart-with-lineage contract.
        Atomic vs concurrent create/update/delete: the slot is swapped to
        a reservation in ONE lock hold, so no other caller can claim the
        id between the stop and the restart."""
        slot = _StreamInfo(None, None, time.time(), config_src, starting=True)
        with self._lock:
            info = self._streams.get(stream_id)
            if info is None:
                raise KeyError(f"stream {stream_id!r} not found")
            if info.starting:
                raise ValueError(f"stream {stream_id!r} is being (re)started")
            self._streams[stream_id] = slot
        self._stop_query(info)
        self._fill_reservation(stream_id, slot, config_src, available_now=False)

    @classmethod
    def _stop_query(cls, info: _StreamInfo) -> None:
        try:
            info.query.stop()
            info.query.awaitTermination(30)
        except Exception:  # noqa: BLE001 — already-failed queries stop dirty
            pass
        cls._release(info.pipeline, info.bridge)

    @staticmethod
    def _release(pipe: Pipeline, bridge) -> None:
        """Stop the input's bridge and release what the output holds on
        the driver (the subprocess output's child, the http_server
        output's server)."""
        if bridge is not None:
            bridge.stop()
        pipe.close()

    def delete(self, stream_id: str) -> None:
        """DELETE /streams/{id}: stop the query and drop the registration
        (checkpoints stay on disk — deletion is a control-plane act)."""
        with self._lock:
            info = self._streams.get(stream_id)
            if info is None:
                raise KeyError(f"stream {stream_id!r} not found")
            if info.starting:
                raise ValueError(f"stream {stream_id!r} is being (re)started")
            self._streams.pop(stream_id)
        self._stop_query(info)

    def ids(self) -> list[str]:
        with self._lock:
            return sorted(self._streams)

    # ----------------------------------------------------------------- state
    def _accumulate(self, info: _StreamInfo) -> dict[str, float]:
        # fold recentProgress into monotonic totals (recentProgress is a
        # bounded ring; totals survive by accumulating max batch id seen).
        # Guarded by the per-stream lock: two concurrent /stats requests
        # through ThreadingHTTPServer would otherwise both read the same
        # _last_batch and double-count the new batches.
        progress = list(info.query.recentProgress)
        with info.lock:
            seen = info.totals.setdefault("_last_batch", -1.0)
            for p in progress:
                if p is None:
                    continue
                if isinstance(p, str):
                    p = json.loads(p)
                if p.get("batchId", -1) <= seen:
                    continue
                seen = float(p["batchId"])
                info.totals["rows_in"] = info.totals.get("rows_in", 0.0) + float(
                    p.get("numInputRows", 0) or 0
                )
                info.totals["batches"] = info.totals.get("batches", 0.0) + 1.0
            info.totals["_last_batch"] = seen
            return dict(info.totals)

    def stats(self, stream_id: str) -> dict:
        """GET /streams/{id}/stats."""
        with self._lock:
            info = self._streams.get(stream_id)
        if info is None:
            raise KeyError(f"stream {stream_id!r} not found")
        if info.starting:
            return {
                "uptime_s": 0.0, "active": False, "starting": True,
                "input_rows_total": 0.0, "batches_total": 0.0,
                "last_batch_id": None, "watermark": None, "state_rows": 0,
            }
        totals = self._accumulate(info)
        last = info.query.lastProgress or {}
        if isinstance(last, str):
            last = json.loads(last)
        return {
            "uptime_s": round(time.time() - info.created_at, 3),
            "active": bool(info.query.isActive),
            "input_rows_total": totals.get("rows_in", 0.0),
            "batches_total": totals.get("batches", 0.0),
            "last_batch_id": last.get("batchId"),
            "watermark": (last.get("eventTime") or {}).get("watermark"),
            "state_rows": sum(
                s.get("numRowsTotal", 0) for s in last.get("stateOperators", [])
            ),
            "bridge": self._bridge_stats(info),
        }

    @staticmethod
    def _bridge_stats(info: _StreamInfo) -> dict | None:
        """A spool-bridge input's bridge: {state, since, cause}
        (streaming/bridge.py); a listener input is running while its
        stream is."""
        b = info.bridge
        if b is None:
            return None
        return {"state": getattr(b, "state", "running"),
                "since": getattr(b, "since", info.created_at),
                "cause": getattr(b, "cause", None)}

    def list_streams(self) -> dict[str, dict]:
        """GET /streams: id -> {active, uptime}."""
        out = {}
        for sid in self.ids():
            with self._lock:
                info = self._streams.get(sid)
            if info is not None:
                out[sid] = {
                    "active": bool(info.query.isActive) if not info.starting else False,
                    "uptime_s": round(time.time() - info.created_at, 3),
                }
        return out

    def metrics_json(self) -> dict:
        """GET /stats and /metrics: the whole registry as one flat JSON
        object (io/metrics_json_api.go — "serves metrics as JSON ... at
        the endpoints /stats and /metrics", debugging format for jq)."""
        out: dict[str, float | bool] = {}
        for sid in self.ids():
            try:
                st = self.stats(sid)
            except KeyError:
                continue
            out[f"{sid}.input_rows_total"] = st["input_rows_total"]
            out[f"{sid}.batches_total"] = st["batches_total"]
            out[f"{sid}.state_rows"] = st["state_rows"]
            out[f"{sid}.uptime_s"] = st["uptime_s"]
            out[f"{sid}.active"] = st["active"]
        return out

    def ready(self) -> bool:
        """GET /ready: every registered stream active and no input bridge
        failed (no streams = ready, manager/api.go:32)."""
        with self._lock:
            infos = list(self._streams.values())
        return all((not i.starting) and i.query.isActive
                   and getattr(i.bridge, "state", None) != "failed" for i in infos)

    def stop_all(self) -> None:
        for sid in self.ids():
            try:
                self.delete(sid)
            except (KeyError, ValueError):  # gone, or still mid-(re)start
                pass
        if self._server is not None:
            self._server.shutdown()
            self._server = None

    # ------------------------------------------------------------------ HTTP
    def serve(self, host: str = "127.0.0.1", port: int = 0) -> int:
        """Expose the management API over HTTP; returns the bound port."""
        mgr = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def _json(self, code: int, payload) -> None:
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):  # noqa: N802
                try:
                    if self.path == "/ping":
                        self._json(200, {"pong": True})
                    elif self.path == "/ready":
                        ok = mgr.ready()
                        self._json(200 if ok else 503, {"ready": ok})
                    elif self.path in ("/stats", "/metrics"):
                        self._json(200, mgr.metrics_json())
                    elif self.path == "/streams":
                        self._json(200, mgr.list_streams())
                    elif self.path.startswith("/streams/") and self.path.endswith("/stats"):
                        sid = self.path[len("/streams/") : -len("/stats")]
                        self._json(200, mgr.stats(sid))
                    elif self.path.startswith("/streams/"):
                        sid = self.path[len("/streams/") :]
                        self._json(200, mgr.stats(sid))
                    else:
                        self._json(404, {"error": f"no endpoint {self.path}"})
                except KeyError as e:
                    self._json(404, {"error": str(e)})
                except Exception as e:  # noqa: BLE001
                    self._json(500, {"error": str(e)})

            def do_POST(self):  # noqa: N802
                try:
                    if not self.path.startswith("/streams/"):
                        self._json(404, {"error": f"no endpoint {self.path}"})
                        return
                    sid = self.path[len("/streams/") :]
                    n = int(self.headers.get("Content-Length", 0))
                    conf = self.rfile.read(n).decode("utf-8")
                    mgr.create(sid, conf)
                    self._json(200, {"created": sid})
                except ValueError as e:
                    self._json(400, {"error": str(e)})
                except Exception as e:  # noqa: BLE001
                    self._json(500, {"error": str(e)})

            def do_DELETE(self):  # noqa: N802
                try:
                    sid = self.path[len("/streams/") :]
                    mgr.delete(sid)
                    self._json(200, {"deleted": sid})
                except KeyError as e:
                    self._json(404, {"error": str(e)})
                except Exception as e:  # noqa: BLE001
                    self._json(500, {"error": str(e)})

            def log_message(self, *a):  # quiet
                pass

        self._server = http.server.ThreadingHTTPServer((host, port), Handler)
        threading.Thread(target=self._server.serve_forever, daemon=True).start()
        return self._server.server_address[1]
