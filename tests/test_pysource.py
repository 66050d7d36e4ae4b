"""Custom Python DataSource (sources/pysource.py): batch partitions,
determinism, and the micro-batch stream reader."""

from __future__ import annotations

import time

import pytest

from sparksql_server_spark.sources.pysource import (
    JsonlDirDataSource,
    SyntheticEventsDataSource,
)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(SyntheticEventsDataSource)
    spark.dataSource.register(JsonlDirDataSource)
    return spark


def _load(spark, **opts):
    r = spark.read.format("synthetic_events")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_batch_rows_partitions_schema(registered):
    df = _load(registered, n_rows=5000, n_partitions=8, seed=7)
    assert df.count() == 5000
    assert df.rdd.getNumPartitions() == 8
    assert df.schema.simpleString() == (
        "struct<event_id:bigint,user_id:bigint,event_type:string,value:double>"
    )
    assert df.filter("value < 0 OR value >= 100").count() == 0


def test_batch_deterministic_by_seed(registered):
    a = sorted(tuple(r) for r in _load(registered, n_rows=2000, seed=7).collect())
    b = sorted(tuple(r) for r in _load(registered, n_rows=2000, seed=7).collect())
    c = sorted(tuple(r) for r in _load(registered, n_rows=2000, seed=8).collect())
    assert a == b  # same options -> identical data (no RNG state, no clock)
    assert a != c  # the seed actually drives the content
    assert [r[0] for r in a] == list(range(2000))  # event_id is the row index


def test_uneven_partition_split_covers_every_row(registered):
    df = _load(registered, n_rows=1003, n_partitions=4, seed=1)
    assert df.count() == 1003
    assert df.select("event_id").distinct().count() == 1003


def test_zero_rows_is_a_legal_empty_source(registered):
    """ADVICE r4 low: n_rows=0 must yield an empty DataFrame, not a
    range() step-zero crash inside partition planning."""
    df = _load(registered, n_rows=0, n_partitions=4, seed=1)
    assert df.count() == 0
    assert df.schema.simpleString().startswith("struct<event_id:bigint")


def test_jsonl_sink_overwrite_replaces_prior_parts(registered, tmp_path):
    """ADVICE r4 low: mode('overwrite') must not leave a prior job's
    part files mixed with the new output."""
    import os

    out = str(tmp_path / "jsonl_over")
    big = _load(registered, n_rows=400, n_partitions=4, seed=3)
    big.write.format("jsonl_dir").mode("append").save(out)
    n_before = len([f for f in os.listdir(out) if f.startswith("part-")])
    assert n_before == 4
    small = _load(registered, n_rows=50, n_partitions=1, seed=9)
    small.write.format("jsonl_dir").mode("overwrite").save(out)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1  # old parts gone, exactly the new job's files
    back = registered.read.schema(small.schema).json(os.path.join(out, "part-*.jsonl"))
    assert back.count() == 50


def test_jsonl_sink_commit_protocol(registered, tmp_path):
    """Writer half: part files land via two-phase commit — _SUCCESS
    present, no _tmp remnant, and a read-back equals the input."""
    import os

    out = str(tmp_path / "jsonl_out")
    df = _load(registered, n_rows=500, n_partitions=4, seed=3)
    df.write.format("jsonl_dir").mode("append").save(out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not os.path.exists(os.path.join(out, "_tmp"))
    back = registered.read.schema(df.schema).json(
        os.path.join(out, "part-*.jsonl")
    )
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def test_jsonl_sink_abort_leaves_no_success_marker(registered, tmp_path):
    import os

    from pyspark.sql import functions as F

    out = str(tmp_path / "jsonl_fail")
    df = _load(registered, n_rows=100, n_partitions=2, seed=3).withColumn(
        "value",
        F.when(F.col("event_id") < 50, F.col("value")).otherwise(
            F.expr("CAST(raise_error('boom') AS DOUBLE)")
        ),
    )
    with pytest.raises(Exception, match="boom"):
        df.write.format("jsonl_dir").mode("append").save(out)
    assert not os.path.exists(os.path.join(out, "_SUCCESS"))


def test_jsonl_sink_abort_preserves_previous_success_marker(registered, tmp_path):
    """A job that fails BEFORE promoting anything must leave the
    previous successful job's output — including its _SUCCESS marker —
    intact: the directory still holds exactly that valid committed
    dataset, and unmarking it would make _SUCCESS-gated consumers skip
    real data."""
    import os

    from pyspark.sql import functions as F

    out = str(tmp_path / "jsonl_prev")
    ok = _load(registered, n_rows=40, n_partitions=2, seed=1)
    ok.write.format("jsonl_dir").mode("append").save(out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    n_parts = len([p for p in os.listdir(out) if p.startswith("part-")])

    bad = _load(registered, n_rows=40, n_partitions=2, seed=2).withColumn(
        "value", F.expr("CAST(raise_error('boom2') AS DOUBLE)")
    )
    with pytest.raises(Exception, match="boom2"):
        bad.write.format("jsonl_dir").mode("append").save(out)
    # previous job's dataset still complete AND still marked committed
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert (
        len([p for p in os.listdir(out) if p.startswith("part-")]) == n_parts
    )
    assert not [p for p in os.listdir(out) if p.startswith("_tmp")]


def test_jsonl_sink_abort_after_overwrite_cleanup_unmarks(tmp_path):
    """ADVICE r8 low: in overwrite mode commit() deletes the PREVIOUS
    job's parts before promoting its own — a failure in that window
    leaves a directory whose committed data was just destroyed, so
    abort() must remove _SUCCESS even though zero new parts promoted
    (driven on the writer class directly: the fault is injected
    between cleanup and promotion, which Spark can't schedule)."""
    import os

    from sparksql_server_spark.sources.pysource import _JsonlCommit, _JsonlWriter

    out = str(tmp_path / "jsonl_mut")
    os.makedirs(out)
    with open(os.path.join(out, "part-old.jsonl"), "w") as fh:
        fh.write('{"a": 1}\n')
    with open(os.path.join(out, "_SUCCESS"), "w"):
        pass

    w = _JsonlWriter({"path": out}, overwrite=True)
    # a commit whose message points at a vanished staged file: the
    # overwrite cleanup runs (destroying part-old), then os.replace
    # raises before any promotion
    with pytest.raises(FileNotFoundError):
        w.commit([_JsonlCommit(os.path.join(w._staging(), "gone.jsonl"), 1)])
    assert w._mutated and not w._promoted
    w.abort([])
    # the previous dataset is gone, so its marker must be gone too
    assert not os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not os.path.exists(os.path.join(out, "part-old.jsonl"))

    # control: a pre-promotion abort WITHOUT cleanup keeps the marker
    os.makedirs(out + "2")
    with open(os.path.join(out + "2", "_SUCCESS"), "w"):
        pass
    w2 = _JsonlWriter({"path": out + "2"}, overwrite=True)
    w2.abort([])  # failed before commit() ever ran
    assert os.path.exists(os.path.join(out + "2", "_SUCCESS"))


def test_jsonl_sink_concurrent_jobs_one_path(registered, tmp_path):
    """Two jobs appending to ONE path concurrently must both commit
    every row: staging is per-job (_tmp-<jobid>), so one job's commit
    cleanup cannot delete the other's still-staged parts (the shared
    _tmp design lost rows or failed promotion under exactly this
    race — the gateway runs jobs on a thread pool)."""
    import os
    import threading

    out = str(tmp_path / "jsonl_conc")
    dfs = [
        _load(registered, n_rows=200, n_partitions=4, seed=s) for s in (7, 8)
    ]
    errors = []

    def write(df):
        try:
            # fresh threads have no JVM active session and Python data
            # sources resolve through it — mirror the scheduler's
            # per-job setActiveSession (scheduler.py:385), which is
            # exactly the production context this test models
            registered._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
                registered._jsparkSession
            )
            df.write.format("jsonl_dir").mode("append").save(out)
        except Exception as exc:  # surfaced below — threads swallow raises
            errors.append(exc)

    for _ in range(3):  # repeat to give the race room to fire
        ts = [threading.Thread(target=write, args=(df,)) for df in dfs]
        [t.start() for t in ts]
        [t.join() for t in ts]
    assert not errors, errors
    back = registered.read.json(os.path.join(out, "part-*.jsonl"))
    assert back.count() == 2 * 200 * 3
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not [p for p in os.listdir(out) if p.startswith("_tmp")]


def test_jsonl_sink_through_gateway(spark, tmp_path):
    """The custom sink composes with the server: a gateway job with
    output_format=jsonl_dir lands committed part files."""
    import os

    from sparksql_server_spark.server import WorkSharingServer, client_request
    from tests.conftest import SF_DIR

    srv = WorkSharingServer(spark, SF_DIR, window_size=2, max_wait=0.2).start()
    out = str(tmp_path / "gw_jsonl")
    try:
        reply = client_request(
            srv.address,
            {
                "sql": "SELECT r_regionkey AS event_id, r_regionkey AS user_id,"
                " r_name AS event_type, 1.0 AS value FROM region",
                "output": out,
                "props": {"output_format": "jsonl_dir"},
            },
        )
        assert reply["status"] == "done", reply
        assert os.path.exists(os.path.join(out, "_SUCCESS"))
        back = spark.read.json(os.path.join(out, "part-*.jsonl"))
        assert back.count() == spark.table("region").count()
    finally:
        srv.shutdown()


def test_stream_reader_appends_deterministic_batches(registered):
    spark = registered
    sdf = (
        spark.readStream.format("synthetic_events")
        .option("rows_per_batch", 50)
        .option("seed", 7)
        .load()
    )
    q = sdf.writeStream.format("memory").queryName("synth_src").start()
    try:
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            n = spark.sql("SELECT count(*) AS n FROM synth_src").collect()[0][0]
            if n >= 100:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()
    rows = spark.sql(
        "SELECT event_id, user_id, event_type, value FROM synth_src ORDER BY event_id"
    ).collect()
    assert len(rows) >= 100 and len(rows) % 50 == 0
    # offsets replay the SAME rows the batch reader derives: prefix match
    batch = _load(spark, n_rows=len(rows), n_partitions=2, seed=7)
    assert [tuple(r) for r in rows] == [
        tuple(r) for r in batch.orderBy("event_id").collect()
    ]
