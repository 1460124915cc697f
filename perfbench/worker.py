"""One workload in one fresh process: set-up, timed phase with read rounds
between its drains, probes and the correctness gate. Writes its result to
`--out` as JSON; `run.py` starts it, watches its memory and prints the
result line.

The engine is driven only through its public entry points:
`CDCPipeline.run_stream` / `run_batch`, and `LakeTable.lookup` /
`read_incremental` / `read`. It only ever receives the generated files,
staged one increment at a time into its change-log directory by hard link.

A traced run (`--trace 1`) then runs two untraced companion phases with a
shorter timed phase in new sessions of the same process: one at
local[<cores>] (the tracing-overhead comparison) and one at local[1] (the
scaling comparison).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import oracle  # noqa: E402
from perfbench.common import (READ_LOOKUPS, TRACE_ROOT, WORKLOADS,  # noqa: E402
                              dir_bytes, median, spark_session, tail,
                              timed_units, write_json)
from perfbench.gen import generate  # noqa: E402
from perfbench.trace import Tracer, durations, layer_metrics, read_event_log  # noqa: E402


class Run:
    def __init__(self, spark, a, run_dir: str, units: int, companion: bool,
                 detailed: bool):
        self.spark = spark
        self.a = a
        self.run_dir = run_dir
        self.units = units
        self.companion = companion
        self.spec = WORKLOADS[a.workload]
        self.pool = os.path.join(a.cache, "pool")
        with open(os.path.join(a.cache, "meta.json")) as f:
            self.meta = json.load(f)
        self.incs: dict[str, list[dict]] = {}
        for i in self.meta["increments"]:
            self.incs.setdefault(i["role"], []).append(i)
        self.rng = random.Random(a.seed)
        self.tracer = Tracer(detailed=detailed)
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.apply_walls: list[float] = []
        self.timed_events = 0
        self.lookup_s: list[float] = []
        self.lookup_files: list[int] = []
        self.incremental_s: list[float] = []
        self.scan_s: list[float] = []
        self.layers: dict[str, float] = {}
        self.con = oracle.connect()
        self.timed_drains = 0
        self.lookups_wrong = 0
        self.incremental_wrong = 0
        self.read_rounds = 0

    # -- plumbing -----------------------------------------------------------

    def pipeline(self, name: str, sinks: bool = False):
        from change_data_capturer_ms_spark.lake import LakeTable
        from change_data_capturer_ms_spark.queue import JsonQueueSink
        from change_data_capturer_ms_spark.streaming import CDCPipeline

        base = os.path.join(self.run_dir, name)
        os.makedirs(os.path.join(base, "log"), exist_ok=True)
        table = LakeTable(self.spark, os.path.join(base, "table"))
        kw = {}
        if sinks:
            kw = {"quarantine_dir": os.path.join(base, "dlq"),
                  "queue_sink": JsonQueueSink(self.spark, os.path.join(base, "queue")),
                  "monitor_cols": ["lang", "op"]}
        pipe = CDCPipeline(self.spark, os.path.join(base, "log"), table,
                           os.path.join(base, "ckpt"), **kw)
        pipe.bench_dir = base
        pipe.bench_staged = []
        return pipe

    def stage(self, pipe, incs: list[dict]) -> list[str]:
        """Make increments visible to the engine: link each file into the
        change-log directory. Returns the staged paths."""
        out = []
        for inc in incs:
            d = os.path.join(pipe.bench_dir, "log", f"seq_bucket={inc['bucket']}")
            os.makedirs(d, exist_ok=True)
            dst = os.path.join(d, os.path.basename(inc["file"]))
            os.link(os.path.join(self.pool, inc["file"]), dst)
            out.append(dst)
        pipe.bench_staged += out
        return out

    def op(self, fn, *args):
        """Run one counted operation (batch, read or check)."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            raise

    def check(self, name: str, ok: bool, detail: str, gate: bool = True) -> None:
        self.checks.append({"name": name, "ok": bool(ok), "gate": gate,
                            "detail": detail})
        if gate:
            self.attempted += 1
            self.failed += not ok

    def drain(self, pipe, incs: list[dict], timed: bool) -> None:
        """Stage `incs` and drain them with one run_stream call. Remembers
        the snapshot version before the drain and the files it applied, for
        the incremental-read check."""
        pipe.since = pipe.table.manifest().version if pipe.table.exists() else None
        pipe.last_files = self.stage(pipe, incs)
        t = time.perf_counter()
        with self.tracer.span("bench.drain"):
            self.op(pipe.run_stream)
        if timed:
            self.apply_walls.append(time.perf_counter() - t)
            self.timed_events += sum(i["events"] for i in incs)
            self.timed_drains += 1
            if not self.companion and \
                    self.timed_drains % self.spec["read_every"] == 0:
                self.read_round(pipe)

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> float:
        """Set-up time after session start: the preload runs `setup_reps`
        times into fresh directories (the last one is kept) and counts by
        its median; the warm-up that follows counts once. The first
        preload's excess over the median is the cold-JVM cost, reported as
        session.warmup_s together with the warm-up."""
        reps = []
        for i in range(1 if self.companion else self.spec["setup_reps"]):
            t = time.perf_counter()
            self.pipe = self.preload(f"setup{i}")
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        self.warm_up(self.pipe)
        warm = time.perf_counter() - t
        self.layers["session.warmup_s"] = reps[0] - median(reps) + warm
        self.setup_reps = reps
        return median(reps) + warm

    def warm_up(self, pipe) -> None:
        pass

    # -- reads ----------------------------------------------------------------

    def read_round(self, pipe) -> None:
        """Reads over the table just drained, checked against the oracle:
        point lookups of live, tombstoned and absent keys, one incremental
        read since the snapshot before the drain and one full scan. A round
        follows every `read_every` timed drains, so reads are sampled
        across the whole timed phase; the first round runs each kind of read
        once untimed first."""
        table = pipe.table
        n, k = READ_LOOKUPS, self.meta["keys"]
        keys = (self.rng.sample(k["live"], n - 2 * (n // 4))
                + self.rng.sample(k["tombstoned"], n // 4)
                + self.rng.sample(k["absent"], n // 4))
        self.rng.shuffle(keys)
        want = oracle.final_state(self.con, pipe.bench_staged)
        touched = oracle.touched_keys(self.con, pipe.last_files)
        warm = self.read_rounds == 0
        self.read_rounds += 1
        phase, self.tracer.phase = self.tracer.phase, "reads"
        for i, (repo, path) in enumerate(keys[:1] * warm + keys):
            t = time.perf_counter()
            df = table.lookup({"repo": repo, "path": path})
            rows = self.op(df.collect)
            if warm and i == 0:
                continue
            self.lookup_s.append(time.perf_counter() - t)
            if self.tracer.detailed:
                self.lookup_files.append(len(df.inputFiles()))
            got = sorted(r["content_sha256"] for r in rows)
            self.lookups_wrong += got != (
                [want[(repo, path)]] if (repo, path) in want else [])
        for i in range(1 + warm):
            t = time.perf_counter()
            count = self.op(table.read_incremental(pipe.since).count)
            if i == warm:
                self.incremental_s.append(time.perf_counter() - t)
            self.incremental_wrong += count != touched
        for i in range(1 + warm):
            t = time.perf_counter()
            self.op(table.read().write.format("noop").mode("overwrite").save)
            if i == warm:
                self.scan_s.append(time.perf_counter() - t)
        self.tracer.phase = phase

    def read_checks(self) -> None:
        self.check("lookup_results", self.lookups_wrong == 0,
                   f"{len(self.lookup_s)} lookups in {self.read_rounds} rounds, "
                   f"{self.lookups_wrong} wrong")
        self.check("incremental_count", self.incremental_wrong == 0,
                   f"{len(self.incremental_s)} read_incremental counts, "
                   f"{self.incremental_wrong} differing from the keys the "
                   "drain before touched")

    # -- checks ---------------------------------------------------------------

    def check_table(self, pipe, label: str) -> None:
        want = oracle.final_state(self.con, pipe.bench_staged)
        rows = self.op(pipe.table.read().select("repo", "path", "content_sha256").collect)
        got = {(r["repo"], r["path"]): r["content_sha256"] for r in rows}
        diff = set(got.items()) ^ set(want.items())
        self.check(f"final_state[{label}]", not diff and len(rows) == len(got),
                   f"table {len(rows)} rows, oracle {len(want)}, "
                   f"{len(diff)} differing (repo, path, sha256)")

    def run_batch_probe(self, pipe) -> None:
        """Traced run: apply the probe increment through run_batch."""
        self.stage(pipe, self.incs["probe"])
        self.op(pipe.run_batch)


class BulkReplay(Run):
    sinks = False

    def preload(self, name):
        # nothing to preload: replay the warm-up batch into a throwaway table
        pipe = self.pipeline(name, self.sinks)
        self.drain(pipe, self.incs["warmup"], timed=False)
        return pipe

    def warm_up(self, pipe):
        for r in range(self.spec["warmup_replays"]):
            warm = self.pipeline(f"warmup{r}", self.sinks)
            for inc in self.incs["batch"]:
                self.drain(warm, [inc], timed=False)

    def timed(self):
        self.replays = []
        for r in range(self.units):
            pipe = self.pipeline(f"replay{r}", self.sinks)
            for inc in self.incs["batch"]:
                self.drain(pipe, [inc], timed=True)
            self.replays.append(pipe)
        return self.replays[-1]

    def probe_batch(self):
        return self.incs["batch"][0]

    def verify(self, pipe):
        for i, p in enumerate(self.replays):
            self.check_table(p, f"replay{i}")


class SinkReplay(BulkReplay):
    sinks = True

    def timed(self):
        pipe = super().timed()
        self.check_evolution(pipe)
        for i, p in enumerate(self.replays):
            self.check_sinks(p, f"replay{i}")
        return pipe

    def check_evolution(self, pipe) -> None:
        """Known defect, reported but not gated: the stream path must carry
        the additive `stars` column of the later increments into the table."""
        schema = pipe.table.manifest().schema.fieldNames()
        want = oracle.stars_state(self.con, pipe.bench_staged)
        if "stars" not in schema:
            ok, detail = False, (
                f"`stars` missing from the table schema after run_stream; "
                f"the oracle has {len(want)} live rows with stars")
        else:
            rows = pipe.table.read().where("stars IS NOT NULL").select(
                "repo", "path", "stars").collect()
            got = {(r["repo"], r["path"]): int(r["stars"]) for r in rows}
            ok = got == want
            detail = f"table {len(got)} rows with stars, oracle {len(want)}"
        self.check("schema_evolution_stream", ok, detail, gate=False)

    def check_sinks(self, pipe, label: str) -> None:
        """Queue and DLQ against the increments the stream applied."""
        by_file = {i["file"]: i for i in self.meta["increments"]}
        staged = [by_file[os.path.relpath(f, os.path.join(pipe.bench_dir, "log"))]
                  for f in pipe.bench_staged]
        n_valid = sum(i["valid"] for i in staged)
        n_bad = sum(i["invalid"] for i in staged)
        env, seqs = oracle.queue_counts(self.con, os.path.join(pipe.bench_dir, "queue"))
        self.check(f"queue_envelopes[{label}]", env == n_valid and seqs == n_valid,
                   f"{env} envelopes, {seqs} distinct seq, {n_valid} valid events")
        dlq = oracle.parquet_rows(self.con, os.path.join(pipe.bench_dir, "dlq"))
        self.check(f"dlq_rows[{label}]", dlq == n_bad,
                   f"{dlq} DLQ rows, {n_bad} injected")

    def run_batch_probe(self, pipe) -> None:
        """Known defect, reported but not gated: run_batch resumes after the
        lease, the last applied seq, so when the last staged row was
        invalid it reads that row again and quarantines it a second time."""
        dlq = os.path.join(pipe.bench_dir, "dlq")
        before = oracle.parquet_rows(self.con, dlq)
        super().run_batch_probe(pipe)
        added = oracle.parquet_rows(self.con, dlq) - before
        want = sum(i["invalid"] for i in self.incs["probe"])
        self.check("run_batch_dlq_rows", added == want,
                   f"run_batch added {added} DLQ rows; the probe increment "
                   f"holds {want} invalid rows", gate=False)


KINDS = {"bulk_replay": BulkReplay, "sink_replay": SinkReplay}


def host_cpu() -> list[int]:
    """Cumulative CPU jiffies (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def probes(run: Run, pipe) -> None:
    """Traced run only: layer probes on one captured batch of the workload."""
    from pyspark.sql import functions as F

    from change_data_capturer_ms_spark.config import EngineConfig
    from change_data_capturer_ms_spark.functions import validate_batch
    from change_data_capturer_ms_spark.operators.dedupe import salted_repartition
    from change_data_capturer_ms_spark.queue import JsonQueueSink
    from change_data_capturer_ms_spark.streaming import prepare_batch

    spark, tracer, L = run.spark, run.tracer, run.layers
    cfg = EngineConfig()
    raw = spark.read.parquet(os.path.join(run.pool, run.probe_batch()["file"]))
    batch, _ = validate_batch(raw)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def validate() -> None:
        ok, bad = validate_batch(raw)
        noop(ok)
        noop(bad)

    probe = {
        "functions.prepare": lambda: noop(prepare_batch(batch, cfg, True)),
        "functions.prepare_builtin": lambda: noop(prepare_batch(batch, cfg, False)),
        "functions.validate": validate,
    }
    walls: dict[str, list[float]] = {k: [] for k in probe}
    for _ in range(3):
        for name, fn in probe.items():
            with tracer.span(name) as s:
                fn()
            walls[name].append(s["end"] - s["start"])
    L["functions.prepare_s"] = median(walls["functions.prepare"])
    L["functions.prepare_builtin_s"] = median(walls["functions.prepare_builtin"])
    L["functions.udf_boundary_share"] = (
        1.0 - L["functions.prepare_builtin_s"] / L["functions.prepare_s"])
    L["functions.validate_s"] = median(walls["functions.validate"])
    captured = batch.filter(F.col("op").isin(*cfg.captured_ops))
    with tracer.span("dedupe.salted_repartition"):
        sizes = [r["count"] for r in salted_repartition(
            captured, hot_cols=["repo"], salt_cols=["path"],
            salt_buckets=cfg.salt_buckets,
        ).groupBy(F.spark_partition_id().alias("p")).count().collect()]
    L["dedupe.salt_skew"] = max(sizes) / (sum(sizes) / len(sizes))
    if pipe.queue_sink is None:
        # the workload produces no queue: price the produce of this batch
        sink = JsonQueueSink(spark, os.path.join(run.run_dir, "probe_queue"))
        for i in range(3):
            sink.produce(captured, batch_id=i, source_id="probe")
    run.run_batch_probe(pipe)


def execute(a, cores: int, run_dir: str, trace: bool = False,
            companion: bool = False, short: bool = False) -> dict:
    """Session start, (generation,) set-up, timed phase, reads, probes and
    checks on local[cores]; returns the result record. A companion phase
    has one preload and no reads; `short` shrinks its timed phase."""
    os.makedirs(run_dir, exist_ok=True)
    event_dir = os.path.join(run_dir, "eventlog") if trace else None
    walls: dict[str, float] = {}
    last = [time.perf_counter()]
    cpu0 = host_cpu()

    def mark(phase: str) -> None:
        now = time.perf_counter()
        walls[phase] = now - last[0]
        last[0] = now

    spark = spark_session(cores, run_dir, f"perfbench-{a.workload}", event_dir)
    spark.range(1).count()
    mark("start")
    units = timed_units(WORKLOADS[a.workload], a.seconds)
    if not os.path.exists(os.path.join(a.cache, "meta.json")):
        generate(spark, a.workload, a.seed, units, a.cache)
        # hand the generator's heap back before memory is measured
        spark._jvm.System.gc()
        mark("generate")
    # the run's memory peak is sampled from here on
    open(os.path.join(a.run_dir, "measuring"), "w").close()
    if short:
        units = timed_units(WORKLOADS[a.workload], a.seconds, short=True)
    run = KINDS[a.workload](spark, a, run_dir, units, companion, detailed=trace)
    run.layers["session.start_s"] = walls["start"]
    result = {"workload": a.workload, "seed": a.seed, "cores": cores,
              "trace": int(trace), "companion": companion, "e2e": {},
              "error": None}
    run.tracer.install()
    try:
        setup_s = walls["start"] + run.setup()
        mark("setup")
        run.tracer.phase = "timed"
        pipe = run.timed()
        mark("timed")
        run.tracer.phase = "after"
        m = pipe.table.manifest()
        live_bytes = sum(f.bytes for f in m.files)
        stored = dir_bytes(pipe.table.path) / live_bytes if live_bytes else None
        run.layers["table.files"] = len(m.files)
        run.layers["manifest.bytes"] = os.path.getsize(
            os.path.join(pipe.table.path, "_meta", f"v{m.version}.json"))
        if not companion:
            run.read_checks()
        if trace:
            run.tracer.phase = "probe"
            probes(run, pipe)
            mark("probes")
        run.tracer.phase = "verify"
        run.verify(pipe)
        mark("verify")
        lat = durations(run.tracer.select("pipeline.apply_batch"))
        p_tail, v_tail = tail(lat)
        lp, lv = tail(run.lookup_s)
        result["e2e"] = {
            "apply_events_per_s": run.timed_events / sum(run.apply_walls),
            "batch_latency_p50_s": median(lat),
            "batch_latency_tail_s": v_tail,
            "lookup_p50_s": median(run.lookup_s),
            "lookup_tail_s": lv,
            "incremental_read_s": median(run.incremental_s),
            "snapshot_scan_s": median(run.scan_s),
            "setup_s": setup_s,
            "stored_bytes_per_live_byte": stored,
        }
        result["samples"] = {
            "batches": len(lat), "batch_tail_percentile": p_tail,
            "lookups": len(run.lookup_s), "lookup_tail_percentile": lp,
            "incremental_reads": len(run.incremental_s),
            "scans": len(run.scan_s), "timed_events": run.timed_events,
            "setup_reps_s": run.setup_reps, "batch_latencies_s": lat,
        }
    except Exception as exc:
        traceback.print_exc()
        result["error"] = f"{type(exc).__name__}: {exc}"
        if run.failed == 0:  # raised outside a counted operation
            run.attempted += 1
            run.failed += 1
    finally:
        spark.stop()
        run.tracer.uninstall()
        mark("stop")
    result["phase_walls_s"] = walls
    # share of the host's CPU time taken from this VM by its hypervisor
    # while the run lasted (0 on bare metal): context for noisy timings
    d = [y - x for x, y in zip(cpu0, host_cpu())]
    result["host_steal_frac"] = d[7] / max(sum(d), 1)
    if trace and result["error"] is None:
        log = read_event_log(event_dir)
        layers, mapping = layer_metrics(
            run.tracer, log, run.timed_events, sum(run.apply_walls), cores)
        layers.update(run.layers)
        layers["table.lookup_candidate_files"] = median(run.lookup_files)
        result["layers"] = layers
        os.makedirs(TRACE_ROOT, exist_ok=True)
        trace_path = os.path.join(
            TRACE_ROOT, f"{a.workload}-seed{a.seed}-{os.getpid()}.json")
        write_json(trace_path, {"spans": run.tracer.spans, "jobs": log["jobs"],
                                "span_jobs": mapping})
        result["trace_file"] = trace_path
        result["span_jobs"] = mapping
    result["checks"] = run.checks
    result["attempted"] = run.attempted
    result["failed"] = run.failed
    known = [c for c in run.checks if not c["gate"]]
    result["error_rate"] = (
        (run.failed + sum(not c["ok"] for c in known))
        / max(run.attempted + len(known), 1))
    result["correct"] = result["error"] is None and run.failed == 0
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    for k in ("workload", "run-dir", "cache", "out"):
        ap.add_argument("--" + k, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    a = ap.parse_args(argv)
    runs = [execute(a, a.cores, a.run_dir, trace=bool(a.trace))]
    if a.trace and runs[0]["correct"]:
        runs += [
            execute(a, a.cores, os.path.join(a.run_dir, f"cores{a.cores}"),
                    companion=True, short=True),
            execute(a, 1, os.path.join(a.run_dir, "cores1"), companion=True,
                    short=True),
        ]
    write_json(a.out, runs)
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
