"""Message outputs and cache writers on streaming/sink.py's partition
writer, run over one partition in this process (so the client classes can
be watched): a failed command still closes the connection and raises an
error naming the command, in the mongodb output, cache `add` and find-one
processor too, and the amqp/amqp1/redis writers send a large
partition in 500-row chunks, in order, instead of holding it whole.
The elasticsearch output's pooled connection takes 9200 only for a
plain-http URL without a port."""

from __future__ import annotations

import json
import socket
import threading

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql.types import StringType, StructField, StructType

from bento_spark.operators.cache import insert_batches
from bento_spark.streaming import amqp, amqp1, elasticsearch, mongodb, redis
from bento_spark.streaming.sink import KeepAlive


class InProcess:
    """A DataFrame whose foreachPartition runs here over one partition
    (its collected rows); `drawn` counts the rows the writer has read."""

    def __init__(self, df):
        self.df = df
        self.drawn = 0

    @property
    def columns(self):
        return self.df.columns

    def select(self, *cols):
        return InProcess(self.df.select(*cols))

    def foreachPartition(self, f):
        def counted():
            for r in self.df.collect():
                self.drawn += 1
                yield r

        InProcess.last = self
        f(counted())


class Rows:
    """A Spark-free frame of plain Rows for writers that select by name."""

    def __init__(self, rows):
        self.rows = rows
        self.columns = list(rows[0].asDict())

    def select(self, *cols):
        return Rows([Row(**{c: r[c] for c in cols}) for r in self.rows])

    def collect(self):
        return self.rows


# --------------------------------------------------------------------------
# a failed write closes its connection
# --------------------------------------------------------------------------


class ScriptedMongo:
    """Answers OP_MSG commands with ok:1, except the command named
    `reject`, answered ok:0. `closed` is set when the client hangs up."""

    def __init__(self, reject: str):
        self.reject = reject
        self.commands: list[str] = []
        self.closed = threading.Event()
        self._srv = socket.create_server(("127.0.0.1", 0))
        self.port = self._srv.getsockname()[1]
        threading.Thread(target=self._serve, daemon=True).start()

    def _serve(self) -> None:
        with self._srv:
            conn, _ = self._srv.accept()
        with conn:
            while True:
                try:
                    cmd = mongodb._read_msg(conn)
                except ConnectionError:
                    self.closed.set()
                    return
                name = next(iter(cmd))
                self.commands.append(name)
                ok = {"ok": 0, "errmsg": "scripted rejection", "code": 2} \
                    if name == self.reject else {"ok": 1, "n": 1}
                conn.sendall(mongodb._frame(len(self.commands), ok))


def test_mongodb_writer_closes_its_socket_when_a_command_fails():
    srv = ScriptedMongo(reject="update")
    write = mongodb.mongodb_writer(f"mongodb://127.0.0.1:{srv.port}", "db", "c",
                                   operation="update-one")
    rows = Rows([Row(_mongo_doc='{"a": 1}', _mongo_filter='{"k": "x"}'),
                 Row(_mongo_doc='{"a": 2}', _mongo_filter='{"k": "y"}')])
    with pytest.raises(ConnectionError, match="mongodb update failed") as err:
        write(InProcess(rows), 0)
    # the error (and its traceback) is still alive here: a writer that left
    # the close to the garbage collector keeps the socket open
    assert srv.closed.wait(5), "the writer left its connection open"
    assert "scripted rejection" in str(err.value)
    assert srv.commands == ["update"]


def test_mongodb_cache_add_closes_its_socket_when_insert_fails():
    srv = ScriptedMongo(reject="insert")
    store = mongodb.MongoCache(None, f"mongodb://127.0.0.1:{srv.port}").store
    batch = pd.DataFrame({"key": ["a", "b"], "value": ["1", "2"]})
    with pytest.raises(ConnectionError, match="mongodb insert failed") as err:
        list(insert_batches(store, "key", "value", iter([batch])))
    assert srv.closed.wait(5), "add left its connection open"
    assert "scripted rejection" in str(err.value)
    assert srv.commands == ["insert"]


class Pandas:
    """A frame whose mapInPandas runs here over one pandas batch."""

    def __init__(self, pdf):
        self.pdf = pdf
        self.columns = list(pdf.columns)
        self.schema = StructType([StructField(c, StringType()) for c in self.columns])

    def mapInPandas(self, f, schema):
        return list(f(iter([self.pdf])))


def test_mongodb_find_one_closes_its_socket_when_find_fails():
    srv = ScriptedMongo(reject="find")
    df = Pandas(pd.DataFrame({"q": ['{"k": "x"}', '{"k": "y"}']}))
    with pytest.raises(ConnectionError, match="mongodb find failed") as err:
        mongodb.mongodb_find_one(df, f"mongodb://127.0.0.1:{srv.port}", "db", "c", "q")
    assert srv.closed.wait(5), "find-one left its connection open"
    assert "scripted rejection" in str(err.value)
    assert srv.commands == ["find"]


# --------------------------------------------------------------------------
# 500-row chunks, in order, one connection
# --------------------------------------------------------------------------

N = 501  # one chunk and one row


@pytest.fixture(scope="module")
def numbered(spark):
    return spark.range(N).selectExpr("cast(id as int) as i")


def test_amqp_sink_publishes_while_it_reads(numbered, monkeypatch):
    broker = amqp.MiniAmqpBroker().start()
    try:
        sub = amqp.AmqpClient(broker.host, broker.port)
        sub.queue_declare("chunks")
        seen: list[int] = []
        publish = amqp.AmqpClient.publish

        def watched(self, exchange, key, body):
            seen.append(InProcess.last.drawn)
            publish(self, exchange, key, body)

        monkeypatch.setattr(amqp.AmqpClient, "publish", watched)
        amqp.amqp_sink(broker.host, broker.port, "", "key")(
            InProcess(numbered.selectExpr("i", "'chunks' as key")), 0)
        assert len(seen) == N and seen[0] <= 500
        sub.consume("chunks")
        got = [json.loads(sub.recv_deliver()[3])["i"] for _ in range(N)]
        assert got == list(range(N))
        sub.close()
    finally:
        broker.stop()


def test_amqp1_sink_sends_two_chunks_in_order(numbered, monkeypatch):
    broker = amqp1.MiniAmqp1Broker().start()
    try:
        batches: list[int] = []
        send_batch = amqp1.Amqp1Client.send_batch

        def watched(self, handle, payloads):
            batches.append(len(payloads))
            send_batch(self, handle, payloads)

        monkeypatch.setattr(amqp1.Amqp1Client, "send_batch", watched)
        amqp1.amqp1_sink(f"amqp://127.0.0.1:{broker.port}", "chunks")(
            InProcess(numbered), 0)
        assert batches == [500, 1]
        with broker._lock:
            got = [json.loads(amqp1.decode_message_body(b))["i"]
                   for b in broker.queues["chunks"]]
        assert got == list(range(N))
    finally:
        broker.stop()


def test_redis_list_sink_pipelines_two_chunks_in_order(numbered, monkeypatch):
    server = redis.MiniRedisServer().start()
    try:
        sizes: list[int] = []
        connects: list[int] = []
        pipeline, init = redis.RedisClient.pipeline, redis.RedisClient.__init__

        def watched(self, cmds):
            sizes.append(len(cmds))
            return pipeline(self, cmds)

        def counted_init(self, *a, **kw):
            connects.append(1)
            init(self, *a, **kw)

        monkeypatch.setattr(redis.RedisClient, "pipeline", watched)
        monkeypatch.setattr(redis.RedisClient, "__init__", counted_init)
        redis.redis_list_sink(server.host, server.port, "key")(
            InProcess(numbered.selectExpr("i", "'k' as key")), 0)
        assert sizes == [500, 1] and len(connects) == 1
        c = redis.RedisClient(server.host, server.port)
        got = [json.loads(v)["i"] for v in c.cmd("LRANGE", "k", "0", "-1")]
        c.close()
        assert got == list(range(N))
    finally:
        server.stop()


@pytest.mark.parametrize("url, https, port", [
    ("http://es.example", False, 9200),
    ("http://es.example:9300", False, 9300),
    ("https://es.example", True, 443),
    ("https://es.example:9243", True, 9243),
])
def test_elasticsearch_default_port_follows_the_scheme(url, https, port):
    endpoint = KeepAlive(elasticsearch._with_es_port(url), 1.0).endpoint
    assert (endpoint.host, endpoint.https, endpoint.port) == ("es.example", https, port)
