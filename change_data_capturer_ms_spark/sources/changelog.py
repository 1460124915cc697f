"""Ordered change-event log: deterministic generator + batch/stream readers.

Reference semantics re-expressed Spark-first:

- `watchStream` opens a Mongo change stream with a server-side `$match` on op type and
  `$project` to {_id, documentKey, fullDocument, ns}
  (/root/reference/src/capturer/mongo/mongo.ts:13-41). Here the log is a seq-bucketed
  Parquet directory; the op filter and column projection are pushed into the scan by
  Catalyst (PushedFilters / ReadSchema — verified in tests).
- `watchMongoCollection` resumes after a stored token
  (/root/reference/src/capturer/mongo/mongo.ts:65-88). Here: batch reads filter
  `seq > last_seq` (pruned to directories via the seq_bucket partition column);
  streaming reads resume from the Structured Streaming checkpoint.
- Cosmos `getChangeFeedIteratorOptions` page sizing
  (/root/reference/src/capturer/cosmos/cosmos.ts:23-31) maps to
  `maxFilesPerTrigger` micro-batch sizing.

The generator is a pure function of (seed, n_events) computed *distributed* on
executors via `spark.range` + builtin expressions — no driver-side materialization, so
it scales to any n. Content is a deterministic function of (repo, path, seq) so the
final LWW state is independently derivable by an oracle (FIXTURES.md §1).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHANGE_LOG_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("token", T.StringType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("props", T.StringType(), True),
        T.StructField("seq_bucket", T.LongType(), False),
    ]
)

_LANGS = ["python", "scala", "java", "ts", "go", "rust", "sql", "md"]
_OPS = ["insert", "update", "replace", "delete"]
# op mix: deletes rare so the table grows; mirrors real CDC traffic shape
_OP_WEIGHTS = [0.35, 0.40, 0.15, 0.10]


def gen_changelog(
    spark: SparkSession,
    n_events: int,
    seed: int = 42,
    n_repos: int = 100,
    paths_per_repo: int = 50,
    hot_repo_fraction: float = 0.0,
    start_seq: int = 0,
    seq_bucket_size: int = 1_000_000,
    evolution_point: int | None = None,
    body_repeat: int = 1,
) -> DataFrame:
    """Deterministic synthetic change log (FIXTURES.md §1), computed on executors.

    hot_repo_fraction > 0 routes that fraction of events to repo_0 (hot-key skew
    fixture, SURVEY.md §2.2 E17). evolution_point adds an additive `stars:int` column
    for seq > evolution_point (schema-evolution fixture, E20); earlier rows get NULL.

    Determinism: every column is a pure builtin-expression function of (seed, seq) —
    xxhash64 as the PRNG — so two runs (or two cluster sizes) produce identical logs.
    """
    df = spark.range(start_seq, start_seq + n_events).withColumnRenamed("id", "seq")

    def h(salt: str):
        # deterministic 63-bit positive hash per (seed, salt, seq)
        return F.abs(F.xxhash64(F.lit(seed), F.lit(salt), F.col("seq")))

    # skew routing: first `hot` share of the hash space → repo_0
    repo_u = (h("repo") % 1_000_000) / 1_000_000.0
    if hot_repo_fraction > 0:
        repo_id = F.when(repo_u < hot_repo_fraction, F.lit(0)).otherwise(
            (h("repo2") % (n_repos - 1)) + 1
        )
    else:
        repo_id = h("repo") % n_repos
    path_id = h("path") % paths_per_repo

    # weighted op choice via cumulative thresholds
    op_u = (h("op") % 1_000_000) / 1_000_000.0
    acc = 0.0
    op_col = F.lit(_OPS[-1])
    conds = []
    for op, w in zip(_OPS, _OP_WEIGHTS):
        acc += w
        conds.append((op_u < acc, op))
    op_col = F.lit(_OPS[-1])
    for cond, op in reversed(conds):
        op_col = F.when(cond, F.lit(op)).otherwise(op_col)

    df = (
        df.withColumn("repo", F.concat(F.lit("repo_"), repo_id.cast("string")))
        .withColumn(
            "path",
            F.concat(
                F.lit("src/dir_"),
                (path_id % 10).cast("string"),
                F.lit("/file_"),
                path_id.cast("string"),
                F.lit(".py"),
            ),
        )
        .withColumn("op", op_col)
        .withColumn("token", F.base64(F.col("seq").cast("string").cast("binary")))
        .withColumn(
            "commit", F.sha2(F.concat_ws("|", F.lit(seed), F.col("seq")), 256).substr(1, 40)
        )
        .withColumn("lang", F.element_at(F.array(*[F.lit(x) for x in _LANGS]), (h("lang") % len(_LANGS) + 1).cast("int")))
        .withColumn(
            "content",
            F.when(
                F.col("op") == "delete", F.lit(None).cast("string")
            ).otherwise(
                # pure function of (repo, path, seq): oracle-rederivable
                F.concat_ws(
                    "\n",
                    F.concat(F.lit("# "), F.col("repo"), F.lit("/"), F.col("path")),
                    F.concat(F.lit("rev="), F.col("seq").cast("string")),
                    F.repeat(
                        F.concat(F.lit("line-"), (h("body") % 997).cast("string"), F.lit(";")),
                        # body_repeat scales content bytes toward realistic
                        # source-file sizes (default ~0.15 KB; bench scaling
                        # uses larger) without touching key/op distributions
                        ((h("len") % 20 + 1) * body_repeat).cast("int"),
                    ),
                )
            ),
        )
        .withColumn(
            "ts",
            F.timestamp_seconds(
                F.lit(1700000000) + F.col("seq") * 2 + (h("jit") % 7) - 3
            ),
        )
        .withColumn(
            "props",
            F.to_json(
                F.struct(
                    (h("size") % 100000).alias("size_bytes"),
                    F.element_at(
                        F.array(F.lit("ci"), F.lit("web"), F.lit("api")),
                        (h("src") % 3 + 1).cast("int"),
                    ).alias("origin"),
                    (h("pr") % 2 == 0).alias("is_pr"),
                )
            ),
        )
        .withColumn("seq_bucket", (F.col("seq") / F.lit(seq_bucket_size)).cast("long"))
    )
    if evolution_point is not None:
        df = df.withColumn(
            "stars",
            F.when(F.col("seq") > evolution_point, (h("stars") % 5000).cast("int")),
        )
    return df.select(
        "seq", "token", "op", "repo", "path", "commit", "lang", "content", "ts",
        "props", "seq_bucket", *(["stars"] if evolution_point is not None else []),
    )


def write_changelog(df: DataFrame, path: str, files_per_bucket: int = 4) -> None:
    """Write the log seq-bucket-partitioned.

    At 10^10 events the directory layout is the incremental-scan contract: a resumed
    reader lists only `seq_bucket >= floor(last_seq/bucket_size)` directories, keeping
    listing O(new data) instead of O(history) (SURVEY.md §4 partition pruning).
    """
    (
        df.repartition(files_per_bucket, "seq_bucket", F.spark_partition_id())
        .write.mode("append")
        .partitionBy("seq_bucket")
        .parquet(path)
    )


class ChangeLogReader:
    """Source abstraction over the ordered log (reference ICDCService resolve stage,
    /root/reference/src/factory/mongoCDCService.ts:73-157)."""

    def __init__(self, spark: SparkSession, log_path: str,
                 schema: T.StructType | None = None):
        self.spark = spark
        self.log_path = log_path
        self.schema = schema

    def read_batch(
        self,
        after_seq: int | None = None,
        ops: tuple[str, ...] | None = None,
        seq_bucket_size: int = 1_000_000,
    ) -> DataFrame:
        """Bounded read, resuming after `after_seq` (reference resumeAfter,
        mongo.ts:65-88). The seq_bucket predicate prunes partitions; the seq/op
        predicates push into the parquet scan."""
        reader = self.spark.read
        if self.schema is not None:
            reader = reader.schema(self.schema)
        df = reader.option("mergeSchema", "true").parquet(self.log_path)
        if after_seq is not None:
            df = df.filter(
                (F.col("seq_bucket") >= int(after_seq // seq_bucket_size))
                & (F.col("seq") > after_seq)
            )
        if ops is not None:
            df = df.filter(F.col("op").isin(*ops))
        return df

    def read_stream(self, max_files_per_trigger: int | None = None) -> DataFrame:
        """Streaming read; checkpoint-based resume comes from Structured Streaming.
        `maxFilesPerTrigger` is the page-size knob (reference maxItemCount,
        cosmos.ts:30)."""
        # streaming parquet needs an explicit schema. Infer it per call with
        # the same mergeSchema read as read_batch, and never cache it: an
        # additive column that lands after the first drain must reach the
        # next one (a schema passed to the constructor still wins)
        schema = self.schema
        if schema is None:
            schema = (self.spark.read.option("mergeSchema", "true")
                      .parquet(self.log_path).schema)
        reader = self.spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return reader.parquet(self.log_path)


class JsonChangeLogReader:
    """Change-log source over newline-delimited JSON — the wire format real
    CDC tools emit (Debezium topics, DMS S3 targets, app logs).

    Same resume contract as ChangeLogReader (seq > after_seq, op subset
    pushed into the scan), plus schema-on-read enforcement: lines that fail
    to parse against CHANGE_LOG_SCHEMA land in a quarantine frame via
    Spark's PERMISSIVE corrupt-record column instead of failing the job —
    the io-ts decode-or-Left edge (/root/reference/src/queue/factory.ts:19-53)
    at the file-format boundary. `read_batch` returns (events, quarantine).

    Scale note: JSON scans can't prune like bucketed parquet — there is no
    seq_bucket directory layout and no footer stats — so this source is the
    INGEST EDGE only; the pipeline lands events into the bucketed parquet
    log/lake on first touch and every downstream read is columnar. The op/seq
    predicates still push to the JSON scan (Catalyst JacksonParser skips
    non-matching rows before they materialize).
    """

    def __init__(self, spark: SparkSession, log_path: str,
                 schema: T.StructType | None = None,
                 timestamp_format: str | None = None):
        self.spark = spark
        self.log_path = log_path
        base = schema if schema is not None else CHANGE_LOG_SCHEMA
        # nullable clone + corrupt column: PERMISSIVE mode nulls every field of
        # an unparseable line, so non-null declarations would be violated
        fields = [T.StructField(f.name, f.dataType, True) for f in base.fields
                  if f.name != "_corrupt_record"]
        self.schema = T.StructType(fields + [
            T.StructField("_corrupt_record", T.StringType(), True)])
        self.timestamp_format = timestamp_format

    def _read(self) -> DataFrame:
        reader = (self.spark.read.schema(self.schema)
                  .option("mode", "PERMISSIVE")
                  .option("columnNameOfCorruptRecord", "_corrupt_record"))
        if self.timestamp_format:
            reader = reader.option("timestampFormat", self.timestamp_format)
        return reader.json(self.log_path)

    def read_batch(
        self,
        after_seq: int | None = None,
        ops: tuple[str, ...] | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """(events, quarantine): events drop the corrupt column; quarantine
        keeps the raw line + `_reasons` (same DLQ idiom as
        functions/validate.py, replayable via CDCPipeline.replay_quarantine).

        The parsed frame is CACHED before the split: PERMISSIVE's
        `_corrupt_record` is projection-dependent (column pruning means a row
        whose only bad field is never read parses clean under one query and
        corrupt under another — the same line could flip between events and
        quarantine, or vanish from both counts). Caching materializes ONE
        full-schema parse both branches read — Spark's documented remedy.
        Bounded: this source is the ingest edge, so the cache holds one
        micro-batch of JSON; the previous batch's cache is unpersisted on the
        next call."""
        prev = getattr(self, "_cached", None)
        if prev is not None:
            prev.unpersist()
        df = self._read().cache()
        self._cached = df
        bad = F.col("_corrupt_record").isNotNull() | F.col("seq").isNull()
        quarantine = (df.filter(bad)
                      .withColumn("_reasons", F.array(F.lit("unparseable_json"))))
        events = df.filter(~bad).drop("_corrupt_record")
        if after_seq is not None:
            events = events.filter(F.col("seq") > after_seq)
        if ops is not None:
            events = events.filter(F.col("op").isin(*ops))
        return events, quarantine
