"""Input generator: one workload's change-log pool for a seed.

Every row comes from the engine's `gen_changelog`. A pool is a set of
increments, one parquet file each, under `pool/seq_bucket=<k>/`, plus
`meta.json` with per-increment counts taken by the DuckDB oracle and the
live / tombstoned / absent key lists the lookups draw from. Pools are
written to a temporary directory and renamed into the cache, so a cached
pool is always complete.
"""

from __future__ import annotations

import os
import shutil

from perfbench import oracle
from perfbench.common import GEN_VERSION, WORKLOADS, write_json


def segments(workload: str) -> list[dict]:
    """The gen_changelog calls that make up a pool. Each segment's
    `seq_bucket_size` equals its increment size and its start is a multiple
    of it, so every increment lands in its own `seq_bucket=<k>` directory."""
    spec = WORKLOADS[workload]
    if workload == "bulk_replay":
        b, w = spec["batch_events"], spec["warmup_events"]
        n = b * spec["batches_per_replay"]
        # the replay batches; a smaller warm-up batch of the same shape for
        # the set-up replays; one more for the traced run_batch probe
        return [
            {"role": "batch", "start": 0, "n": n, "size": b},
            {"role": "warmup", "start": n, "n": w, "size": w},
            {"role": "probe", "start": n + w, "n": w, "size": w},
        ]
    # sink_replay: as bulk_replay, but every replay batch after the first
    # (and the probe) carries the additive `stars` column; the first batch
    # and the warm-up have no such column at all
    b, w = spec["batch_events"], spec["warmup_events"]
    n = b * spec["batches_per_replay"]
    return [
        {"role": "batch", "start": 0, "n": b, "size": b},
        {"role": "batch", "start": b, "n": n - b, "size": b, "evolve": True},
        {"role": "warmup", "start": n, "n": w, "size": w},
        {"role": "probe", "start": n + w, "n": w, "size": w, "evolve": True},
    ]


def generate(spark, workload: str, seed: int, units: int, out: str) -> None:
    from pyspark.sql import functions as F

    from change_data_capturer_ms_spark.sources import gen_changelog

    spec = WORKLOADS[workload]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    pool = os.path.join(tmp, "pool")
    incs = []
    for seg in segments(workload):
        if seg["start"] % seg["size"] or seg["n"] % seg["size"]:
            raise ValueError(f"misaligned segment {seg}")
        df = gen_changelog(
            spark, seg["n"], seed=seed, start_seq=seg["start"],
            seq_bucket_size=seg["size"],
            evolution_point=seg["start"] - 1 if seg.get("evolve") else None,
            **spec["gen"])
        bad = spec.get("invalid_per_mille", 0)
        if bad:
            # a fixed share of upserts lose their content: the engine's
            # validation routes them to the DLQ (null_content_for_upsert)
            hit = (F.pmod(F.xxhash64(F.lit(seed), F.lit("invalid"), F.col("seq")),
                          F.lit(1000)) < bad) & (F.col("op") != "delete")
            df = df.withColumn(
                "content", F.when(hit, F.lit(None).cast("string"))
                .otherwise(F.col("content")))
        # one file per increment: every seq_bucket hashes to one partition
        (df.repartition("seq_bucket").write.mode("append")
         .partitionBy("seq_bucket").parquet(pool))
        first = seg["start"] // seg["size"]
        for k in range(first, first + seg["n"] // seg["size"]):
            incs.append({"bucket": k, "role": seg["role"]})
    con = oracle.connect()
    for inc in incs:
        d = os.path.join(pool, f"seq_bucket={inc['bucket']}")
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        if len(files) != 1:
            raise RuntimeError(f"{d}: expected one file, found {files}")
        inc["file"] = os.path.join(f"seq_bucket={inc['bucket']}", files[0])
        inc.update(oracle.file_stats(con, os.path.join(pool, inc["file"])))
    replayed = [os.path.join(pool, i["file"]) for i in incs
                if i["role"] == "batch"]
    live, dead = oracle.key_states(con, replayed)
    absent = [[f"repo_absent_{i}", f"src/none/file_{i}.py"] for i in range(64)]
    write_json(os.path.join(tmp, "meta.json"), {
        "workload": workload, "seed": seed, "units": units,
        "gen_version": GEN_VERSION, "increments": incs,
        "keys": {"live": live, "tombstoned": dead, "absent": absent},
    })
    os.replace(tmp, out)
