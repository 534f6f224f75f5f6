"""The window+DLQ path of run_stream: one query whose two branches split on
`error` before the trailing payload UDFs, so each branch decodes only the
rows it keeps.

Driven through the shipped config/examples/clips_window.yaml on generated
clips (every 4th clip has sr_hz 8000 and goes to the DLQ)."""

from __future__ import annotations

import os
import re
import sys
import threading

import pandas as pd
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from bento_spark.audio.udfs import audio_feature_frame, with_audio_features
from bento_spark.plans.compiler import _ROW_MAPS_KEEPING_ERROR, Pipeline, compile_yaml
from bento_spark.streaming.checkpoint import CHECKPOINT_MANAGER_KEY, FILE_SYSTEM_MANAGER, local_checkpoint_commits
from bento_spark.streaming.sink import IdempotentParquetSink

YAML = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "config", "examples", "clips_window.yaml")
N_CLIPS = 300  # 100 ms apart: windows [0,10) and [10,20) close, [20,30) stays open


def _shipped(src: str, tmp_path, **extra) -> Pipeline:
    with open(YAML) as f:
        return compile_yaml(f.read(), overrides={
            "input.parquet.path": src, "output.path": str(tmp_path / "out"),
            "output.dlq": str(tmp_path / "dlq"), **extra})


def test_split_tail_of_shipped_pipeline(tmp_path):
    p = _shipped("unused", tmp_path)
    procs = p.conf["pipeline"]["processors"]
    assert p._split_tail(procs) == [{"audio_features": {}}]
    assert p._split_tail(procs[:-1]) == []
    p.conf["error_handling"] = {"strategy": "reject"}
    assert p._split_tail(procs) == []


def test_window_reads_payload(tmp_path):
    p = _shipped("unused", tmp_path)
    assert not p._window_reads_payload()
    p.conf["window"]["aggs"]["payload"] = "sum(this.bytes.length())"
    assert p._window_reads_payload()
    del p.conf["window"]["aggs"]["payload"]
    p.conf["join"] = {"key": "bytes"}
    assert p._window_reads_payload()


@pytest.fixture(scope="module")
def clips(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("wdlq") / "src")
    Pipeline.stage_clips(spark, src, N_CLIPS, partitions=2)
    return src


def test_members_map_rows_one_to_one_and_keep_error(spark, clips):
    # the property the split relies on, for every member of the set
    assert _ROW_MAPS_KEEPING_ERROR == {"audio_features"}
    df = spark.read.parquet(clips).withColumn(
        "error", F.when(F.col("sr_hz") <= 8000, F.lit("low")))
    for keep in (True, False):
        after = with_audio_features(df, keep_payload=keep)
        assert after.count() == df.count()
        errored_first = with_audio_features(df.filter(F.col("error").isNotNull()), keep_payload=keep)
        errored_last = after.filter(F.col("error").isNotNull())
        assert sorted(map(tuple, errored_first.collect())) == sorted(map(tuple, errored_last.collect()))
        assert ("bytes" in after.columns) == keep


def _expected_windows(spark, src: str, watermark: pd.Timestamp) -> pd.DataFrame:
    pdf = spark.read.parquet(src).toPandas()
    pdf = pdf[(pdf["sr_hz"] > 8000) & (pdf["dur_ms"] <= 60000)]
    pdf = audio_feature_frame(pdf, ["clip_id", "codec", "event_ts"])
    pdf["key"] = pdf["clip_id"].str.slice(10, 12)
    pdf["window_start"] = pd.to_datetime(pdf["event_ts"]).dt.floor("10s")
    pdf = pdf[pdf["window_start"] + pd.Timedelta(seconds=10) <= watermark]
    return (pdf.groupby(["window_start", "key", "codec"])
            .agg(n=("clip_id", "size"), avg_rms=("rms", "mean"), total_samples=("n_samples", "sum"))
            .reset_index())


def test_shipped_clips_window_decodes_each_clip_once(spark, clips, tmp_path):
    p = _shipped(clips, tmp_path)
    n_active = len(spark.streams.active)
    q = p.run_stream(spark, str(tmp_path / "ck"), available_now=True)
    assert len(spark.streams.active) == n_active + 1
    assert q.awaitTermination(180) and q.exception() is None

    # windows: a batch computation over the sr_hz > 8000 clips, up to the
    # final watermark (later windows stay open in append mode)
    watermark = pd.Timestamp(q.lastProgress["eventTime"]["watermark"]).tz_localize(None)
    exp = _expected_windows(spark, clips, watermark)
    got = p.sink.read(spark).toPandas()
    got["window_start"] = pd.to_datetime(got["window_start"])
    assert len(exp) > 0
    m = exp.merge(got, on=["window_start", "key", "codec"], how="outer", indicator=True,
                  suffixes=("", "_got"))
    assert (m["_merge"] == "both").all(), m[m["_merge"] != "both"]
    assert (m["n"] == m["n_got"]).all() and (m["total_samples"] == m["total_samples_got"]).all()
    assert ((m["avg_rms"] - m["avg_rms_got"]).abs() <= 1e-6 * m["avg_rms"].abs()).all()

    # DLQ: exactly the sr_hz <= 8000 clips, with the columns and values the
    # whole chain gives them when it runs before the split
    dlq = IdempotentParquetSink(str(tmp_path / "dlq")).read(spark)
    chain = p._chain(p.conf["pipeline"]["processors"])(spark.read.parquet(clips))
    want = chain.filter(F.col("error").isNotNull())
    assert dlq.columns == want.columns
    assert "bytes" in dlq.columns and "rms" in dlq.columns
    got_dlq = dlq.toPandas().sort_values("clip_id").reset_index(drop=True)
    want_dlq = want.toPandas().sort_values("clip_id").reset_index(drop=True)
    pdf = spark.read.parquet(clips).toPandas()
    assert set(got_dlq["clip_id"]) == set(pdf.loc[pdf["sr_hz"] <= 8000, "clip_id"])
    pd.testing.assert_frame_equal(got_dlq, want_dlq)

    # plan: the DLQ branch's filter sits below its decode; the window
    # branch's decode drops bytes
    tree, node = _first_batch_plan(spark, q)
    decodes = [i for i, line in enumerate(tree) if "MapInPandas" in line]
    assert len(decodes) == 2, tree
    dlq_at, main_at = sorted(decodes, key=lambda i: "bytes#" not in _decode_output(node, tree[i]))
    assert any("Filter" in line and "8000" in node[_number(line)]
               for line in _subtree(tree, dlq_at)), tree
    assert not any("Filter" in line for line in _ancestors(tree, dlq_at)), tree
    output = _decode_output(node, tree[main_at])
    assert "rms#" in output and "bytes#" not in output, output


def _first_batch_plan(spark, q) -> tuple[list[str], dict[int, str]]:
    """The physical plan tree of `q`'s first micro-batch and each node's
    details by number, from the SQL status store. `q`'s own explain shows
    its last batch: the no-data batch that closes the windows, whose empty
    input folds the filters away."""
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    want = ["id", "=", q.id, "runId", "=", q.runId, "batch", "=", "0"]
    plan = next(ex.apply(i).physicalPlanDescription() for i in range(ex.size())
                if ex.apply(i).description().split() == want)
    tree, *blocks = plan.split("\n\n")
    node = {int(m.group(1)): b for b in blocks if (m := re.match(r"\((\d+)\)", b))}
    return tree.splitlines()[1:], node


def _number(line: str) -> int:
    return int(re.search(r"\((\d+)\)\s*$", line).group(1))


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _subtree(tree: list[str], at: int) -> list[str]:
    below = []
    for line in tree[at + 1:]:
        if _depth(line) <= _depth(tree[at]):
            break
        below.append(line)
    return below


def _ancestors(tree: list[str], at: int) -> list[str]:
    up, depth = [], _depth(tree[at])
    for line in reversed(tree[:at]):
        if _depth(line) < depth:
            up.append(line)
            depth = _depth(line)
    return up


def _decode_output(node: dict[int, str], line: str) -> str:
    """The output columns of a MapInPandas node."""
    return node[_number(line)].rsplit("[", 1)[1]


def test_output_failure_after_the_dlq_commit_replays_exactly_once(spark, clips, tmp_path,
                                                                  monkeypatch):
    """The window output fails epoch 1 after the DLQ sink of the same query
    has committed it. A restart on the same checkpoint replays epoch 1: the
    committed windows and DLQ rows equal those of an uninterrupted run."""
    one_file = {"input.parquet.max_files_per_trigger": 1}  # epochs 0 and 1 carry data
    ref = tmp_path / "ref"
    p = _shipped(clips, ref, **one_file)
    q = p.run_stream(spark, str(ref / "ck"), available_now=True)
    assert q.awaitTermination(180) and q.exception() is None

    run = tmp_path / "run"
    write, dlq_done = IdempotentParquetSink.write_batch, []

    def fail_once(self, batch_df, epoch_id):
        if self.path == str(run / "out") and epoch_id == 1 and not dlq_done:
            dlq_done.append(IdempotentParquetSink(str(run / "dlq")).is_committed(1))
            raise RuntimeError("output down")
        write(self, batch_df, epoch_id)

    monkeypatch.setattr(IdempotentParquetSink, "write_batch", fail_once)
    q = _shipped(clips, run, **one_file).run_stream(spark, str(run / "ck"), available_now=True)
    with pytest.raises(StreamingQueryException, match="output down"):
        q.awaitTermination(180)
    assert dlq_done == [True]
    assert IdempotentParquetSink(str(run / "out")).committed_ids() == [0]
    q = _shipped(clips, run, **one_file).run_stream(spark, str(run / "ck"), available_now=True)
    assert q.awaitTermination(180) and q.exception() is None

    for sink, key in (("out", ["window_start", "key", "codec"]), ("dlq", ["clip_id"])):
        got, want = (IdempotentParquetSink(str(d / sink)).read(spark).toPandas()
                     .sort_values(key).reset_index(drop=True) for d in (run, ref))
        assert len(want) > 0 and not want.duplicated(key).any()
        pd.testing.assert_frame_equal(got, want)
    assert IdempotentParquetSink(str(run / "out")).committed_ids() == \
        IdempotentParquetSink(str(ref / "out")).committed_ids()


@pytest.mark.parametrize("suffix", ["_dlq", "_ehdlq"])
def test_refuses_a_checkpoint_with_a_side_query_dir(spark, tmp_path, suffix):
    """Earlier builds ran the DLQ as a side query whose checkpoint sat next
    to the main one. run_stream refuses that layout before it starts
    anything, and names the directory."""
    old = tmp_path / f"ck{suffix}"
    old.mkdir()
    n_active = len(spark.streams.active)
    with pytest.raises(ValueError, match="previous build") as err:
        _shipped("unused", tmp_path).run_stream(spark, str(tmp_path / "ck"), available_now=True)
    assert str(old) in str(err.value)
    assert len(spark.streams.active) == n_active and not (tmp_path / "ck").exists()


def _checkpoint_managers(q) -> list[str]:
    """Class of each file manager `q` commits its checkpoint through: the
    offset and commit logs, and each file source's own log (a private
    field, which the stream thread builds after start() returns)."""
    ex = q._jsq.streamingQuery()
    logs = [ex.offsetLog(), ex.commitLog()]
    sources = ex.sources()
    for i in range(sources.size()):
        field = sources.apply(i).getClass().getDeclaredField("metadataLog")
        field.setAccessible(True)
        logs.append(field.get(sources.apply(i)))
    return [log.fileManager().getClass().getName() for log in logs]


def test_resumed_run_commits_local_checkpoints_by_rename(spark, clips, tmp_path):
    """Local checkpoints commit through FileSystemBasedCheckpointFileManager
    (rename(2), no fork per rename) in every query run_stream starts; the
    caller's session is left without the key, and a manager the caller
    names wins on the resumed run."""
    ck = str(tmp_path / "ck")
    p = _shipped(clips, tmp_path, **{"error_handling.strategy": "reject",
                                     "error_handling.dlq": str(tmp_path / "ehdlq")})
    q = p.run_stream(spark, ck, available_now=True)
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY, None) is None
    assert q.awaitTermination(180) and q.exception() is None
    # offset and commit logs, and one log per source: the window and DLQ
    # branches each read the input
    managers = _checkpoint_managers(q)
    assert len(managers) == 2 + 2 and set(managers) == {FILE_SYSTEM_MANAGER}, managers
    rows = p.sink.read(spark).count()
    assert rows > 0

    named = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
    spark.conf.set(CHECKPOINT_MANAGER_KEY, named)
    try:
        p = _shipped(clips, tmp_path)
        q = p.run_stream(spark, ck, available_now=True)
        assert q.awaitTermination(180) and q.exception() is None
        assert set(_checkpoint_managers(q)) == {named}
        assert spark.conf.get(CHECKPOINT_MANAGER_KEY) == named
    finally:
        spark.conf.unset(CHECKPOINT_MANAGER_KEY)
    assert p.sink.read(spark).count() == rows  # resumed: nothing new, nothing twice


def test_concurrent_starts_all_commit_by_rename(spark, clips, tmp_path):
    """Queries started at once from more threads than cores, on one
    session: every log of every query commits by rename, and the session
    ends without the key."""
    queries, errors = [], []
    lock = threading.Lock()

    def start(i):
        try:
            with local_checkpoint_commits(spark, str(tmp_path / f"ck{i}")):
                q = (spark.readStream.schema(spark.read.parquet(clips).schema).parquet(clips)
                     .select("clip_id").writeStream.format("noop")
                     .option("checkpointLocation", str(tmp_path / f"ck{i}"))
                     .trigger(availableNow=True).start())
            with lock:
                queries.append(q)
        except Exception as e:  # reported below: a failed start fails the test
            with lock:
                errors.append(repr(e))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=start, args=(i,)) for i in range(2 * os.cpu_count())]
        for t in threads:
            t.start()
        for t in threads:
            t.join(180)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    assert len(queries) == len(threads)
    for q in queries:
        assert q.awaitTermination(180) and q.exception() is None
        assert set(_checkpoint_managers(q)) == {FILE_SYSTEM_MANAGER}
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY, None) is None


def test_other_filesystem_waits_for_a_local_start(spark):
    """A pipeline on another filesystem that starts while a local one is
    starting must not see the key the local one set on the shared session."""
    inside, release = threading.Event(), threading.Event()
    seen = []

    def local():
        with local_checkpoint_commits(spark, "/ck"):
            inside.set()
            release.wait(60)

    def remote():
        with local_checkpoint_commits(spark, "hdfs://nn/ck"):
            seen.append(spark.conf.get(CHECKPOINT_MANAGER_KEY, None))

    t1 = threading.Thread(target=local)
    t1.start()
    assert inside.wait(60)
    t2 = threading.Thread(target=remote)
    t2.start()
    t2.join(0.5)  # enough for an unguarded remote() to read the key
    release.set()
    for t in (t1, t2):
        t.join(60)
        assert not t.is_alive()
    assert seen == [None]
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY, None) is None
