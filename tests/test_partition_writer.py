"""streaming/sink.py's partition writer: the open -> chunk -> send -> close
rule every message output and cache writer uses, driven with a fake
client on the per-partition function directly. Spark-free."""

from __future__ import annotations

import pytest

from bento_spark.streaming.sink import _write_partition


class FakeClient:
    def __init__(self, log: list, close_error: Exception | None = None):
        self.log = log
        self.close_error = close_error

    def close(self) -> None:
        self.log.append("close")
        if self.close_error is not None:
            raise self.close_error


def run(rows, chunk=None, close_error=None):
    log: list = []

    def open_():
        log.append("open")
        return FakeClient(log, close_error)

    def write(client, batch):
        log.append(("write", list(batch) if chunk is None else batch))

    _write_partition(open_, write, chunk, iter(rows))
    return log


def test_an_empty_partition_opens_no_client():
    assert run([]) == []
    assert run([], chunk=3) == []


@pytest.mark.parametrize("n,k", [(1, 1), (7, 3), (9, 3), (10, 500), (501, 500)])
def test_chunks_arrive_in_order_one_client(n, k):
    log = run(range(n), chunk=k)
    writes = [e[1] for e in log if e != "open" and e != "close"]
    assert log[0] == "open" and log[-1] == "close"
    assert log.count("open") == 1 and log.count("close") == 1
    assert len(writes) == -(-n // k)
    assert all(isinstance(w, list) and len(w) <= k for w in writes)
    assert [r for w in writes for r in w] == list(range(n))


def test_no_chunk_gives_the_partition_as_one_iterator():
    seen = []

    def write(client, rows):
        seen.append(rows)

    _write_partition(lambda: FakeClient([]), write, None, iter(range(5)))
    assert len(seen) == 1 and not isinstance(seen[0], list)
    assert list(seen[0]) == list(range(5))


def test_a_failed_write_closes_once_and_raises_its_error():
    log: list = []

    def write(client, rows):
        raise ValueError("rejected")

    with pytest.raises(ValueError, match="rejected"):
        _write_partition(lambda: FakeClient(log), write, 2, iter(range(4)))
    assert log == ["close"]


def test_a_close_error_never_hides_the_write_error():
    log: list = []

    def write(client, rows):
        raise ValueError("rejected")

    with pytest.raises(ValueError, match="rejected"):
        _write_partition(lambda: FakeClient(log, OSError("close failed")),
                         write, None, iter(range(3)))
    assert log == ["close"]


def test_a_close_error_after_a_good_write_propagates():
    with pytest.raises(OSError, match="close failed"):
        run(range(3), chunk=2, close_error=OSError("close failed"))


def test_a_client_without_close_needs_none():
    sent = []
    _write_partition(object, lambda c, rows: sent.extend(rows), 2, iter(range(3)))
    assert sent == [0, 1, 2]
