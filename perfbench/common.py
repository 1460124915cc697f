"""Shared pieces of the CDC apply benchmark: workload sizes, paths, the Spark
session the benchmark uses, and small statistics helpers.

Every workload is sized for a 4-core / 15 GB host. `--seconds` sets the
amount of timed work through each workload's nominal per-unit cost, so two
commits measured with the same `--seconds` do the same work and leave tables
of the same shape; a faster engine simply finishes sooner.
"""

from __future__ import annotations

import json
import math
import os
import statistics

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench_work")
CACHE_ROOT = os.path.join(WORK_ROOT, "cache")
RUNS_ROOT = os.path.join(WORK_ROOT, "runs")
TRACE_ROOT = os.path.join(WORK_ROOT, "traces")

# Bumped whenever the generated inputs change shape, so stale caches are not
# reused.
GEN_VERSION = 6

WORKLOADS: dict[str, dict] = {
    "bulk_replay": {
        "why": "whole-log replay into an empty cow table in a few large "
               "micro-batches; Arrow UDFs, salted shuffle and LWW dominate",
        # ~1 KB contents, one hot repo with 20% of the events; 5,000 keys,
        # so the table stays far smaller than one batch
        "gen": {"n_repos": 100, "paths_per_repo": 50,
                "hot_repo_fraction": 0.2, "body_repeat": 6},
        "batch_events": 60_000,
        "batches_per_replay": 2,
        "warmup_events": 10_000,
        # untimed full replays after the set-up ones: the first replays of
        # the large batches in a JVM run up to 1.5x slower than later ones
        "warmup_replays": 1,
        # a unit is one replay; its wall on a 4-core host
        "nominal_unit_s": 5.5,
        "min_units": 3,
        "read_every": 2,
        "short_units": 1,
        "setup_reps": 3,
    },
    "sink_replay": {
        "why": "whole-log replay with queue, DLQ and monitor on and an "
               "additive column mid-log; validation and sink writes join the "
               "per-event work",
        # ~1 KB contents, no hot repo; 5,000 keys; 2% of upserts lose their
        # content and go to the DLQ
        "gen": {"n_repos": 100, "paths_per_repo": 50, "body_repeat": 6},
        "batch_events": 20_000,
        "batches_per_replay": 2,
        "warmup_events": 5_000,
        "invalid_per_mille": 20,
        "warmup_replays": 1,
        # a unit is one replay; its wall on a 4-core host
        "nominal_unit_s": 8.0,
        "min_units": 2,
        "read_every": 2,
        "short_units": 1,
        "setup_reps": 3,
    },
}

# reads, in rounds over the table just drained: a round follows every
# `read_every` timed drains of the workload and holds this many point lookups,
# one incremental read and one full scan
READ_LOOKUPS = 8


def timed_units(spec: dict, seconds: float, short: bool = False) -> int:
    """Amount of timed work for `seconds`: a pure function of the arguments.
    `short` is the companion phases' fixed, smaller amount."""
    if short:
        return spec["short_units"]
    return max(spec["min_units"], int(round(seconds / spec["nominal_unit_s"])))


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """A driver heap that fits the host: an eighth of RAM, 1-4 GB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return f"{min(4096, max(1024, total_kb // 1024 // 8))}m"


def spark_session(cores: int, run_dir: str, app: str,
                  event_log_dir: str | None = None):
    """The engine's own session builder with engine defaults; only
    benchmark settings (UI, progress bar, heap, scratch dirs, event log)
    are added."""
    from change_data_capturer_ms_spark import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    extra = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": driver_heap(),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        # explicit: a later session of the same JVM inherits launch confs
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name=app, master=f"local[{cores}]", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs) -> tuple[int, float | None]:
    """(p, value): the highest percentile of 50/75/90/95/99 (nearest rank)
    with at least ten samples beyond it; the maximum (p=100) when fewer than
    twenty samples leave none that qualifies."""
    if not xs:
        return 100, None
    s = sorted(xs)
    n = len(s)
    for p in (99, 95, 90, 75, 50):
        rank = math.ceil(p / 100 * n)
        if n - rank >= 10:
            return p, s[rank - 1]
    return 100, s[-1]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, default=str)
    os.replace(tmp, path)
