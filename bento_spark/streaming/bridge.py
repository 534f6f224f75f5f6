"""How a spool bridge runs: the one loop every client-side input (a broker
subscriber, a queue or bucket poller, a one-pass lister) runs on.

A connector supplies two functions and nothing else:

- `connect() -> client`: open the connection, subscribe, and read any
  resume state the connector keeps in its spool dir (kafka's
  `.offsets.json`, kinesis's `.sequences.json`, the cockroachdb cursor).
  It runs again on every reconnect, so a resumed client picks up where the
  last durable put left it.
- `messages(client, stop) -> iterator of (body, meta, ack)`: the messages
  of one connection. `meta` becomes the spool file's header; `ack` (or
  None) tells the source the message is safe. A source that acks a batch
  at once puts its ack on the batch's last message.

`Bridge` owns the rest, the way Bento's reader loop owns reconnects for
every input (internal/component/input/async_reader.go):

- `start()` calls `connect()` once on the caller's thread, so a bad
  address or a refused subscription raises there, and a push source is
  subscribed before `start()` returns. Then one daemon thread runs
  `for body, meta, ack in messages(client, stop): put; ack`.
- An ack runs only after its `Spool.put` returned. A put that raises acks
  nothing and fails the bridge.
- A transport fault (`ConnectionError`, `OSError`) from `connect`, from the
  iterator or from an ack closes the client, waits on `stop`
  (`RETRY_FIRST_S`, doubling per failed attempt up to `RETRY_MAX_S`; the
  first message after a reconnect resets it) and connects again.
- Any other exception (a decode error, a protocol violation, a disk
  fault) fails the bridge with that cause.
- An iterator that ends is a finished source (a one-pass lister, a
  subprocess that exited); a push source whose peer hangs up raises
  `ConnectionError` instead.
- `stop()` sets the event, closes the client (a blocking recv wakes up)
  and joins the thread. A bridge that failed or finished keeps its client
  until then: a failed put leaves its message unacked, not disconnected.

The handle's `state` is one of `running`, `reconnecting`, `finished`,
`failed` and `stopped`; `since` is when it was entered and `cause` why
(the fault behind `reconnecting` or `failed`).

Listeners (`http_server.HttpSpoolServer`, `TcpSpoolServer`) are not client
loops and keep their own servers. This module imports no pyspark.
"""

from __future__ import annotations

import queue
import socket
import sys
import threading
import time
from collections.abc import Callable, Iterable, Iterator
from typing import Any

from bento_spark.streaming.reader import hang_up
from bento_spark.streaming.spool import Spool

RETRY_FIRST_S = 0.25
RETRY_MAX_S = 5.0
# how long a poller waits on `stop` after a poll that returned nothing
EMPTY_POLL_S = 0.05
# items a FanIn holds between its streams' threads and the bridge
FANIN_QUEUE = 256
TRANSPORT = (ConnectionError, OSError)

Message = tuple[bytes | str, dict, Callable[[], Any] | None]


class BridgeFailed(RuntimeError):
    """A bridge stopped on a fault it does not retry."""


def close_client(client) -> None:
    """Close a client. Its socket (`client` itself or `client.sock`) is
    shut down first: closing a socket does not wake a thread blocked in
    `recv` on it, a shutdown does."""
    sock = client if isinstance(client, socket.socket) else getattr(client, "sock", None)
    if isinstance(sock, socket.socket):
        hang_up(sock)
    close = getattr(client, "close", None)
    if close is not None:
        try:
            close()
        except OSError:
            pass


def _cause(e: BaseException) -> str:
    return str(e) or type(e).__name__


class Bridge:
    """One spool bridge: `connect` + `messages` run by the module's loop."""

    def __init__(self, name: str, spool_dir: str,
                 connect: Callable[[], Any],
                 messages: Callable[[Any, threading.Event], Iterable[Message]],
                 close: Callable[[Any], None] = close_client):
        self.name = name
        self.spool_dir = spool_dir
        self._connect, self._messages, self._close = connect, messages, close
        self._stop = threading.Event()
        self._done = threading.Event()
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None
        self.client: Any = None
        self.restarts = 0  # reconnects that succeeded
        self.state, self.since, self.cause = "new", time.time(), None

    # ------------------------------------------------------------- handle
    @property
    def finished(self) -> bool:
        """Whether the source ended by itself: exhausted or failed."""
        return self.state in ("finished", "failed")

    @property
    def error(self) -> str | None:
        return f"{self.name} input: {self.cause}" if self.state == "failed" else None

    @property
    def port(self) -> int | None:
        """The bound port of a client that listens (a bind-mode socket)."""
        return getattr(self.client, "port", None)

    def wait_finished(self, timeout: float = 30.0) -> bool:
        """Whether the source finished within `timeout` seconds; raises
        `BridgeFailed` once the bridge has failed."""
        self._done.wait(timeout)
        if self.state == "failed":
            raise BridgeFailed(self.error)
        return self.state == "finished"

    def _set(self, state: str, cause: BaseException | None = None) -> None:
        self.state, self.since = state, time.time()
        self.cause = _cause(cause) if cause is not None else None
        if cause is not None:
            print(f"{self.name} input {state}: {self.cause}", file=sys.stderr)
        if state in ("finished", "failed", "stopped"):
            self._done.set()

    # ---------------------------------------------------------- lifecycle
    def start(self) -> "Bridge":
        self._spool = Spool(self.spool_dir)
        self.client = self._connect()
        self._set("running")
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name=f"bridge-{self.name}")
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        with self._lock:
            client, self.client = self.client, None
        if client is not None:
            self._close(client)
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
        if not self._done.is_set():
            self._set("stopped")

    def _loop(self) -> None:
        wait = RETRY_FIRST_S
        client, connected = self.client, True
        while True:
            it = None
            try:
                if not connected:
                    client = self._connect()
                    with self._lock:
                        if self._stop.is_set():
                            self._close(client)
                            break
                        self.client, connected = client, True
                    self.restarts += 1
                    self._set("running")
                it = iter(self._messages(client, self._stop))
                for body, meta, ack in it:
                    try:
                        self._spool.put(body, **meta)
                    except Exception as e:  # noqa: BLE001 — a disk fault is not transport
                        self._set("failed", e)
                        return
                    if ack is not None:
                        ack()
                    wait = RETRY_FIRST_S
                    if self._stop.is_set():
                        break
                else:
                    if not self._stop.is_set():
                        self._set("finished")
                        return
                break
            except TRANSPORT as e:
                if self._stop.is_set():
                    break
                self._set("reconnecting", e)
                if connected:
                    with self._lock:
                        if self.client is client:
                            self.client = None
                    self._close(client)
                client, connected = None, False
                if self._stop.wait(wait):
                    break
                wait = min(wait * 2, RETRY_MAX_S)
            except Exception as e:  # noqa: BLE001 — decode/protocol faults fail the bridge
                if not self._stop.is_set():
                    self._set("failed", e)
                    return
                break
            finally:
                if it is not None and hasattr(it, "close"):
                    try:
                        it.close()
                    except Exception:  # noqa: BLE001 — cleanup of a dead connection
                        pass
        self._set("stopped")


def batch(messages: list[tuple[bytes | str, dict]],
          ack: Callable[[], Any]) -> Iterator[Message]:
    """The messages of a batch acked at once (a pull's acknowledge, an
    XACK, an offset file): `ack` rides the last one, so it runs after
    the batch's last put."""
    for i, (body, meta) in enumerate(messages):
        yield body, meta, ack if i == len(messages) - 1 else None


class FanIn:
    """The items of several blocking iterators as one iterator, for a
    source with many independent streams (pulsar's per-topic consumers,
    spanner's partition tree). Each iterator runs on its own daemon
    thread; `add` may be called while iterating. The first exception of
    any of them is raised to the consumer; iteration ends when all of
    them have ended. Once the consumer closes its iterator (the bridge
    does on a reconnect) the threads stop offering and end, so a dropped
    connection's streams do not outlive it."""

    _END = object()

    def __init__(self, stop: threading.Event):
        self._stop = stop
        self._closed = threading.Event()
        self._q: queue.Queue = queue.Queue(FANIN_QUEUE)
        self._live = 0
        self._lock = threading.Lock()

    def add(self, items: Iterable) -> None:
        with self._lock:
            self._live += 1
        threading.Thread(target=self._pump, args=(items,), daemon=True).start()

    def _offer(self, item) -> bool:
        while not (self._stop.is_set() or self._closed.is_set()):
            try:
                self._q.put(item, timeout=0.1)
                return True
            except queue.Full:
                continue
        return False

    def _pump(self, items: Iterable) -> None:
        try:
            for item in items:
                if not self._offer((item, None)):
                    return
            self._offer((self._END, None))
        except Exception as e:  # noqa: BLE001 — raised to the consumer
            self._offer((None, e))

    def __iter__(self) -> Iterator:
        try:
            while True:
                with self._lock:
                    if self._live == 0:
                        return
                try:
                    item, err = self._q.get(timeout=0.1)
                except queue.Empty:
                    if self._stop.is_set():
                        return
                    continue
                if err is not None:
                    raise err
                if item is self._END:
                    with self._lock:
                        self._live -= 1
                    continue
                yield item
        finally:
            self._closed.set()
