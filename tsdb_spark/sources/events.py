"""Adapter: the driver's `events` table → the engine's samples/series model.

events(event_id, ts TIMESTAMP(NANOS)→long, user_id, event_type, value,
props JSON-string) becomes float64 samples with a label set — exactly the
reference's scrape model (labels + (t ms, v float64), db.go:14):

    labels = { __name__: event_type,
               user:     str(user_id),
               k_bucket: "high"  iff json props.k >= 50 }   # conditional →
                                                            # exercises the
                                                            # missing-label
                                                            # semantics
    t = ts nanos // 1e6  (int64 ms, head.go:152-163)
    v = value

The conditional `k_bucket` label gives a label that exists on only part of
the series space, which is what the reference's matcher tests exercise
hard (querier_test.go:1830-2083: l="", l!="", negative matchers selecting
label-less series).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsdb_spark import labels as L
from tsdb_spark.session import configure, tree_fingerprint

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


# Canonical engine-side types per driver table. The testdata's physical
# types have drifted between driver rounds (events.ts shipped as raw
# int64 nanos in one round and TIMESTAMP in the next); integer width /
# float width drift on the other tables would silently break 30+ oracle
# comparisons the same way, so every known column is normalized at load.
_CANON: dict[str, dict[str, str]] = {
    "documents": {"doc_id": "long", "text": "string", "lang": "string",
                  "source": "string", "n_chars": "long"},
    "embeddings": {"vec_id": "long", "embedding": "array<float>", "label": "int"},
}


# Per-process memo of UNMATERIALIZED source DataFrames (r11): building
# one costs ~0.5s of file listing + schema read + cast analysis and
# every query entry pays it per construction (the bench re-builds each
# query 3x). A DataFrame is an immutable plan, so reusing the object is
# pure metadata reuse — no data, no results are cached (the plan still
# scans parquet on every action). Keyed by (session, path, file
# fingerprint — session.tree_fingerprint, every file at any depth): a
# rewritten file (mtime/size change) or a new session misses and
# re-lists, so tests writing their own tables stay correct.
_TABLE_CACHE: dict[tuple, DataFrame] = {}


def _table_memo(spark: SparkSession, path: str, tag: str, build):
    fp = tree_fingerprint(path)
    if fp is None:
        return build()
    key = (spark.sparkContext.applicationId, path, tag, fp)
    df = _TABLE_CACHE.get(key)
    if df is None:
        if len(_TABLE_CACHE) > 64:
            _TABLE_CACHE.clear()
        df = build()
        _TABLE_CACHE[key] = df
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure(spark)

    def build() -> DataFrame:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        canon = _CANON.get(name)
        if canon:
            dtypes = dict(df.dtypes)
            if any(c in dtypes and dtypes[c] != t for c, t in canon.items()):
                df = df.select(*[
                    F.col(c).cast(canon[c]).alias(c)
                    if c in canon and dtypes[c] != canon[c]
                    else F.col(c)
                    for c in df.columns
                ])
        return df

    return _table_memo(spark, f"{sf_dir}/{name}.parquet", "load", build)


def event_labels(ev: DataFrame | None = None) -> F.Column:
    """The label-set Column for one events row (empty values stripped,
    mirroring ingest semantics head.go:832-833).

    Schema-drift guard (the testdata layout has changed between driver
    rounds): `props` is JSON-as-string today, but a MAP or STRUCT
    variant decodes through the same expression shape.
    """
    props_dt = dict(ev.dtypes).get("props", "string") if ev is not None else "string"
    if props_dt.startswith("map"):
        k = F.element_at(F.col("props"), "k").cast("int")
    elif props_dt.startswith("struct"):
        k = F.col("props").getField("k").cast("int")
    else:
        k = F.regexp_extract(F.col("props").cast("string"), r'"k": ([0-9]+)', 1).cast("int")
    raw = F.create_map(
        F.lit("__name__"), F.col("event_type").cast("string"),
        F.lit("user"), F.col("user_id").cast("string"),
        F.lit("k_bucket"), F.when(k >= 50, F.lit("high")).otherwise(F.lit("")),
    )
    return L.strip_empty_labels(raw)


#: per-process cache of the inferred raw-integer ts divisor, keyed by a
#: stable identity of the loaded table (the one-row magnitude probe is a
#: Spark job; pay it once per dataset, not per query build)
_TS_DIVISOR: dict[str, int] = {}


def _raw_ts_divisor(ev: DataFrame) -> int:
    """Infer the epoch unit of a raw-integer `ts` column by magnitude:
    2024 epochs are ~1.7e9 s / 1.7e12 ms / 1.7e15 us / 1.7e18 ns — four
    decades apart, so one max() probe classifies unambiguously. The
    testdata's physical layout has changed between driver rounds; dtype
    alone cannot distinguish these (all `bigint`)."""
    key = ",".join(sorted(ev.inputFiles())) or str(id(ev))
    if key not in _TS_DIVISOR:
        row = ev.agg(F.max(F.abs(F.col("ts"))).alias("m")).collect()[0]
        m = row["m"] or 0
        if m >= 10**16:
            div = 1_000_000  # nanoseconds
        elif m >= 10**13:
            div = 1_000  # microseconds
        elif m >= 10**11:
            div = 1  # already milliseconds
        else:
            div = -1000  # seconds → multiply
        _TS_DIVISOR[key] = div
    return _TS_DIVISOR[key]


def event_time_ms(ev: DataFrame) -> F.Column:
    """`ts` → int64 epoch-ms, whatever the driver's parquet layout.

    The testdata has shipped `ts` both as TIMESTAMP(NANOS) (read as raw
    int64 nanos under legacy nanosAsLong) and as TIMESTAMP(MICROS)
    (read as timestamp_ntz); a string/date rendering or a raw epoch in
    ms/us/s would be the next drift. Normalize everything to the
    engine's int64 ms (reference keeps t as int64 ms end-to-end,
    db.go:14). Session tz is UTC (session.py), so NTZ→epoch matches
    DuckDB's epoch_ms(ts). Integer paths use integer division: double
    division would lose precision (1e18 ns exceeds a double's 53-bit
    mantissa)."""
    dt = dict(ev.dtypes).get("ts", "")
    if dt.startswith("timestamp") or dt in ("string", "date"):
        return F.expr("unix_micros(cast(ts as timestamp)) div 1000")
    div = _raw_ts_divisor(ev)
    if div == -1000:
        return F.expr("ts * 1000")
    if div == 1:
        return F.col("ts").cast("long")
    return F.expr(f"ts div {div}")


def events_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → (labels, labels_str, series_id, t, v, ingest_seq=1).

    Memoized like load_table (same fingerprint key): the label-map /
    time-normalization projection costs ~0.5s of expression building +
    analysis per construction and is a pure function of the source
    file."""

    def build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        out = ev.select(
            event_labels(ev).alias("labels"),
            event_time_ms(ev).alias("t"),
            F.col("value").cast("double").alias("v"),
        )
        out = out.withColumn("labels_str", L.labels_str_expr("labels"))
        return (
            out.withColumn("series_id", L.series_id_expr("labels"))
            .withColumn("ingest_seq", F.lit(1).cast("long"))
        )

    return _table_memo(spark, f"{sf_dir}/events.parquet", "samples", build)


def events_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The series dim implied by the events mapping."""
    return (
        events_samples(spark, sf_dir)
        .select("series_id", "labels", "labels_str")
        .dropDuplicates(["series_id"])
    )
