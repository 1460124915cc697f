"""Exactly-once for every sink across a crash AFTER the lake commit: the
streaming engine redelivers the batch, the table's ledger turns the merge
into a no-op, and the post-commit tail (lease sidecar, queue) still runs."""

import pytest
from pyspark.sql import functions as F

from change_data_capturer_ms_spark.config import EngineConfig
from change_data_capturer_ms_spark.functions.validate import validate_batch
from change_data_capturer_ms_spark.lake.table import LakeTable
from change_data_capturer_ms_spark.queue import JsonQueueSink
from change_data_capturer_ms_spark.sources.changelog import gen_changelog, write_changelog
from change_data_capturer_ms_spark.streaming.pipeline import CDCPipeline

LAST_BATCH = 1


def _pipe(spark, base, audited):
    table = LakeTable(spark, f"{base}/table", key_cols=["repo", "path"],
                      n_buckets=8)
    return CDCPipeline(
        spark, f"{base}/log", table, f"{base}/ckpt",
        cfg=EngineConfig(n_buckets=8), use_pandas_udfs=False,
        quarantine_dir=f"{base}/dlq",
        queue_sink=JsonQueueSink(spark, f"{base}/queue"),
        audit_fn=(lambda t, r: True) if audited else None,
    )


def _fail_once_at_last_batch(fn, batch_id_of):
    armed = [True]

    def wrapped(*args, **kwargs):
        if armed[0] and batch_id_of(*args, **kwargs) == LAST_BATCH:
            armed[0] = False
            raise RuntimeError("injected crash after the lake commit")
        return fn(*args, **kwargs)
    return wrapped


@pytest.mark.parametrize("audited", [False, True], ids=["plain", "audit"])
@pytest.mark.parametrize("crash_in", ["queue", "sidecar"])
def test_redelivered_batch_reaches_queue_and_sidecar(spark, tmpdir_path,
                                                     audited, crash_in):
    ev = gen_changelog(spark, 400, seed=61, n_repos=8, paths_per_repo=5)
    # invalid upserts (no content) for the DLQ
    ev = ev.withColumn(
        "content",
        F.when((F.col("seq") % 23 == 0) & (F.col("op") != "delete"), F.lit(None))
        .otherwise(F.col("content")))
    log = f"{tmpdir_path}/log"
    # two single-file appends -> two micro-batches at one file per trigger
    write_changelog(ev.filter(F.col("seq") < 200), log, files_per_bucket=1)
    write_changelog(ev.filter(F.col("seq") >= 200), log, files_per_bucket=1)

    pipe = _pipe(spark, tmpdir_path, audited)
    if crash_in == "queue":
        pipe.queue_sink.produce = _fail_once_at_last_batch(
            pipe.queue_sink.produce, lambda df, batch_id, **kw: batch_id)
    else:
        pipe._write_lease = _fail_once_at_last_batch(
            pipe._write_lease, lambda lease: lease["batch_id"])
    with pytest.raises(Exception, match="injected crash"):
        pipe.run_stream(max_files_per_trigger=1)
    assert pipe.table.lease()["batch_id"] == LAST_BATCH  # the lake committed

    restarted = _pipe(spark, tmpdir_path, audited)
    restarted.run_stream(max_files_per_trigger=1)

    valid, bad = validate_batch(ev)
    want = sorted(r["seq"] for r in valid.select("seq").collect())
    got = sorted(r["seq"] for r in restarted.queue_sink.consume()
                 .select("seq").collect())
    assert got == want  # every valid captured event, exactly once
    dlq = spark.read.parquet(f"{tmpdir_path}/dlq")
    assert dlq.count() == dlq.select("seq").distinct().count() == bad.count()
    assert restarted.current_lease() == restarted.table.lease()
    assert int(restarted.table.lease()["lease"]) == 399
    assert restarted.table.branches() == {}
