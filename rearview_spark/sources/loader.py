"""Parquet source layer for the driver-provided test tables.

The reference pulled series from Graphite over HTTP and config from an
RDBMS (reference: config/database.yml:1-20, README.md:6). Our engine owns
its storage: everything is columnar parquet read through the DataSource V2
path so Catalyst gets predicate pushdown, column pruning and (when the
layout provides it) partition pruning for free.

Scale notes: at 100 TB the `metrics`/`events` table is written partitioned
by ``date(ts)`` and bucketed by series key (SURVEY.md §4.1); these loaders
only *read* — layout decisions live in :mod:`rearview_spark.sources.layout`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class Tables:
    """Lazy handle on one scale-factor directory of parquet tables.

    ``Tables(spark, sf_dir).lineitem`` returns the DataFrame; each is read
    once and cached as an attribute (the *plan* is cached, not the data —
    no ``.cache()`` here; callers decide what to persist).
    """

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self._spark = spark
        self._dir = sf_dir.rstrip("/")
        self._dfs: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TABLE_NAMES:
            raise AttributeError(f"unknown table {name!r}; known: {TABLE_NAMES}")
        if name not in self._dfs:
            self._dfs[name] = load_table(self._spark, self._dir, name)
        return self._dfs[name]

    def register_views(self) -> None:
        """Register every table as a temp view for the SQL API."""
        for name in TABLE_NAMES:
            getattr(self, name).createOrReplaceTempView(name)


# Footer-sniff results, keyed by resolved path. The sniff (pyarrow import
# + rglob + read_schema) used to run on EVERY load_table/load_events_stream
# call for events — per-query driver-side overhead and a measured
# contributor to stream_hourly_stats' bench drift (VERDICT r04 "What's
# wrong" #2). Testdata files are immutable within a session, so one sniff
# per resolved path is correct; reset_sniff_cache() exists for tests that
# rewrite a file in place.
_SNIFF_CACHE: dict[str, bool] = {}

#: inferred parquet schema per abspath, with the path's st_mtime_ns at
#: inference (see _parquet_schema)
_SCHEMA_CACHE: dict[str, tuple[int, object]] = {}

# Epoch magnitude floor for the bare-int64 branch: 10^16 ns = 1970-04-26.
# Any nanos timestamp from this century is ~1.7e18; the same instant in
# micros is ~1.7e15 and in millis ~1.7e12 — three-plus orders below the
# floor — so a file shipping int64 epoch-micros/millis fails loudly here
# instead of being silently misread 1000x off (ADVICE r04 #3).
_NANOS_EPOCH_FLOOR = 10**16


def reset_sniff_cache() -> None:
    _SNIFF_CACHE.clear()
    _SCHEMA_CACHE.clear()


def _int64_ts_looks_like_nanos(pf) -> bool:
    """Magnitude check for a bare-int64 ts column, footer-first: use the
    row-group statistics max when present (no data scan); otherwise read
    one ts value from the first row group."""
    col_idx = pf.schema_arrow.get_field_index("ts")
    if pf.metadata.num_row_groups:
        stats = pf.metadata.row_group(0).column(col_idx).statistics
        if stats is not None and stats.has_min_max:
            return stats.max >= _NANOS_EPOCH_FLOOR
        sample = pf.read_row_group(0, columns=["ts"]).column("ts")
        if len(sample):
            return sample[0].as_py() >= _NANOS_EPOCH_FLOOR
    return True  # empty file: either branch reads zero rows


def events_ts_is_nanos(path: str) -> bool:
    """True when events.ts is physically TIMESTAMP(NANOS) (or a bare int64
    whose magnitude is epoch-nanos) in the parquet footer. Footer-only
    metadata read via pyarrow — no data scan, no Spark conf side effects.
    The driver's testdata has shipped BOTH encodings across rounds, so the
    loader must branch on the file, never assume. Memoized per resolved
    path (immutable testdata; see _SNIFF_CACHE)."""
    import pathlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = pathlib.Path(path)
    key = str(p.resolve())
    if key in _SNIFF_CACHE:
        return _SNIFF_CACHE[key]
    if p.is_dir():
        parts = sorted(p.rglob("*.parquet"))
        if not parts:
            raise FileNotFoundError(
                f"events source {path!r} is a directory with no *.parquet part files"
            )
        p = parts[0]
    t = pq.read_schema(str(p)).field("ts").type
    if pa.types.is_timestamp(t):
        result = t.unit == "ns"
    elif pa.types.is_int64(t):
        if not _int64_ts_looks_like_nanos(pq.ParquetFile(str(p))):
            raise ValueError(
                f"events.ts in {p} is bare int64 but its magnitude is below the "
                f"epoch-nanos range (< {_NANOS_EPOCH_FLOOR}); refusing to guess the "
                "unit — re-encode as TIMESTAMP(...) or epoch-nanos"
            )
        result = True
    else:
        result = False
    _SNIFF_CACHE[key] = result
    return result


def _parquet_schema(spark: SparkSession, path: str):
    """The schema Spark infers for ``path``, inferred once per
    modification: schema inference is a one-task Spark job per read, and
    a table is read by many queries. Keyed on the path's mtime, so a
    table rewritten in place (a new file, or a directory whose entries
    changed) is inferred again."""
    try:
        key, mtime = os.path.abspath(path), os.stat(path).st_mtime_ns
    except OSError:  # missing or non-local: not memoized
        return spark.read.parquet(path).schema
    hit = _SCHEMA_CACHE.get(key)
    if hit is not None and hit[0] == mtime:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMA_CACHE[key] = (mtime, schema)
    return schema


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(_parquet_schema(spark, path)).parquet(path)


def resolve_table_schemas(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Fill the schema memo for every table under ``sf_dir`` that
    :func:`load_table` reads through it, so that no later read of them
    infers. Once filled, this costs one ``stat`` per table."""
    for name in TABLE_NAMES:
        path = f"{sf_dir.rstrip('/')}/{name}.parquet"
        if os.path.exists(path) and not (name == "events" and events_ts_is_nanos(path)):
            _parquet_schema(spark, path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        if events_ts_is_nanos(path):
            # Parquet TIMESTAMP(NANOS), which Spark's reader rejects
            # natively. Read nanos as long, then integer-divide to micros
            # (`div`, not `/` — ns epoch values exceed double's exact-int
            # range) and rebuild the timestamp. Matches DuckDB's ns -> us
            # truncation exactly. The conf stays set for the session: the
            # scan re-reads it at execution time, and it is a no-op for
            # non-NANOS columns, so restoring it here would break the
            # returned (lazy) plan for zero benefit.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # TIMESTAMP(MICROS/MILLIS): lands as timestamp or timestamp_ntz
        # (isAdjustedToUTC=0). Normalize NTZ -> session-tz timestamp so the
        # whole engine sees one ts type; wall-clock values are preserved
        # (cast + display both use the session tz), matching DuckDB's
        # naive-timestamp view of the same file.
        df = _read_parquet(spark, path)
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _read_parquet(spark, path)


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-adaptive streaming read of events.parquet — the streaming
    twin of :func:`load_table`'s events branch, shared by every standing
    query (plans/streaming_queries.py) so batch and stream can never
    disagree about the source encoding again (round-3 regression: a forced
    ``ts long`` reader schema against a MICROS file silently yielded zero
    usable rows).

    The streaming file source rejects a bare file path ("basePath must be
    a directory"); the glob form makes it derive basePath from the
    directory prefix while still matching exactly this file.

    Nanos branch sets ``spark.sql.legacy.parquet.nanosAsLong`` — callers
    that care should snapshot/restore it around the query run; for the
    MICROS encoding no conf is touched.
    """
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    glob = f"{sf_dir.rstrip('/')}/events.parque[t]"
    if events_ts_is_nanos(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, value double, props string"
        ).parquet(glob)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Reuse the batch-resolved schema (footer truth) as the reader schema so
    # the stream sees exactly what load_table sees, then the same cast.
    raw = spark.readStream.schema(_parquet_schema(spark, path)).parquet(glob)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


# --- Kafka events source (production message-bus ingest) --------------------
#
# The sandbox has no broker, so the kafka path is split into two
# independently unit-testable pieces (tests/test_loader_dtypes.py):
# option translation (pure dict) and the value-decode projection
# (applied to any DataFrame with Kafka's fixed output schema — a static
# fixture frame in tests, the real ``format("kafka").load()`` frame in
# production). The file-source gates (plans/streaming_queries.py) are
# the sandbox-equivalent end-to-end path: everything downstream of the
# projection is byte-identical between the two sources.

#: Kafka wire contract for an event record: the JSON value carries the
#: events-table columns with ``ts`` as epoch MICROSECONDS (matching the
#: parquet MICROS encoding; an ISO string would re-open the tz/format
#: ambiguity the footer sniffer exists to close).
KAFKA_EVENT_VALUE_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string,"
    " value double, props string"
)


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = False,
) -> dict:
    """Translate engine-level knobs to Kafka source options.

    ``failOnDataLoss=false`` by default: a retention-expired offset on
    one partition should degrade (gap + warning) rather than kill a
    standing query that aggregates 100k partitions' worth of metrics.
    ``maxOffsetsPerTrigger`` is the per-micro-batch backpressure bound —
    size it so a batch's shuffle fits executor memory at full fan-in.
    """
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "true" if fail_on_data_loss else "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(int(max_offsets_per_trigger))
    return opts


def parse_kafka_events(raw: DataFrame) -> DataFrame:
    """Project Kafka's fixed record shape (key/value binary, topic,
    partition, offset, timestamp, …) onto the events-table schema —
    the exact columns :func:`load_events_stream` yields from files, so
    every standing query runs unchanged on either source. Malformed
    JSON degrades to a null-columns row (from_json PERMISSIVE) rather
    than failing the stream; filter ``event_id IS NOT NULL`` downstream
    to drop poison-pill records."""
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), KAFKA_EVENT_VALUE_SCHEMA).alias("e")
    )
    return parsed.select(
        F.col("e.event_id").alias("event_id"),
        F.timestamp_micros(F.col("e.ts")).alias("ts"),
        F.col("e.user_id").alias("user_id"),
        F.col("e.event_type").alias("event_type"),
        F.col("e.value").alias("value"),
        F.col("e.props").alias("props"),
    )


def load_events_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """The production events source: ``readStream.format("kafka")`` with
    :func:`kafka_reader_options`, decoded by :func:`parse_kafka_events`.
    Requires the spark-sql-kafka connector on the classpath (not in this
    container — the file twin :func:`load_events_stream` is the sandbox
    path; both yield the same schema, so swapping sources is a one-line
    change in the standing-query entry point)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers,
        topic,
        starting_offsets,
        max_offsets_per_trigger,
        fail_on_data_loss,
    ).items():
        reader = reader.option(k, v)
    return parse_kafka_events(reader.load())


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> Tables:
    return Tables(spark, sf_dir)


def events_as_timeseries(events: DataFrame) -> DataFrame:
    """Map the `events` table onto the engine's canonical tall timeseries
    shape ``(metric string, ts timestamp, value double)``.

    ``event_type`` plays the role of the Graphite dot-path metric name
    (reference: jobs.metrics db/schema.rb:65). Pure projection — no shuffle.
    """
    return events.select(
        F.col("event_type").alias("metric"),
        F.col("ts"),
        F.col("value").cast("double").alias("value"),
    )


# ---------------------------------------------------------------------------
# CSV / JSON ingest parity (SURVEY.md §2.3 Prov-A: file-format sources)
# ---------------------------------------------------------------------------

# Default text-format timestamp pattern: the stock Spark pattern carries
# millisecond precision only, silently truncating parquet's micros on a
# csv/json round-trip — pin micros explicitly on BOTH sides.
TS_FORMAT_MICROS = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def read_csv(
    spark: SparkSession, path: str, schema, header: bool = True,
    ts_format: str = TS_FORMAT_MICROS,
) -> DataFrame:
    """Schema-pinned CSV reader (never inferSchema — an inference pass is
    a full extra scan and non-deterministic under data drift; at 100 TB a
    schema is a contract, not a guess)."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("timestampFormat", ts_format)
        .csv(path)
    )


def read_json_lines(spark: SparkSession, path: str, schema, ts_format: str = TS_FORMAT_MICROS) -> DataFrame:
    """Schema-pinned JSON-lines reader. Unknown keys are dropped by the
    schema (schema-on-write stance, SURVEY.md §1.3); corrupt records fail
    loudly (FAILFAST) rather than silently nulling a 100 TB ingest."""
    return (
        spark.read.schema(schema)
        .option("mode", "FAILFAST")
        .option("timestampFormat", ts_format)
        .json(path)
    )


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC reader (built into Spark, no extra package): columnar like
    parquet — predicate pushdown, column pruning, and min/max stats all
    apply, so every operator in this repo runs unchanged over ORC
    tables. Schema optional (ORC is self-describing; pass one to pin a
    contract the same way the text readers do)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)


def write_ingest_formats(df: DataFrame, base_dir: str) -> dict[str, str]:
    """Round-trip helper for ingest-parity tests: materialize a frame as
    csv + json-lines + orc next to each other (micros-precision
    timestamps for the text formats; orc keeps native micros)."""
    paths = {
        "csv": f"{base_dir}/csv",
        "json": f"{base_dir}/json",
        "orc": f"{base_dir}/orc",
    }
    (df.write.mode("overwrite").option("header", "true")
       .option("timestampFormat", TS_FORMAT_MICROS).csv(paths["csv"]))
    df.write.mode("overwrite").option("timestampFormat", TS_FORMAT_MICROS).json(paths["json"])
    df.write.mode("overwrite").orc(paths["orc"])
    return paths
