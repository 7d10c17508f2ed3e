"""events adapter: schema-drift tolerance.

The driver's testdata has shipped `events.ts` under different parquet
types across rounds (int64-nanos-as-long, TIMESTAMP micros); the adapter
must produce the same int64 epoch-ms samples from any of them.
"""

import datetime
import os

from pyspark.sql import functions as F

from tsdb_spark.sources.events import events_samples


BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def _write_events(spark, path, ts_col):
    df = spark.createDataFrame(
        [
            (1, ts_col(BASE_MS), 7, "click", 1.5, '{"k": 60}'),
            (2, ts_col(BASE_MS + 1000), 8, "view", 2.5, '{"k": 10}'),
        ],
        "event_id LONG, ts {}, user_id LONG, event_type STRING, value DOUBLE, props STRING".format(
            "LONG" if isinstance(ts_col(0), int) else "TIMESTAMP_NTZ"
        ),
    )
    df.write.parquet(f"{path}/events.parquet")


def _expect(spark, path):
    rows = {
        r["t"]: r
        for r in events_samples(spark, path).select("labels", "t", "v").collect()
    }
    assert set(rows) == {BASE_MS, BASE_MS + 1000}
    assert rows[BASE_MS]["labels"]["k_bucket"] == "high"
    assert "k_bucket" not in rows[BASE_MS + 1000]["labels"]
    assert rows[BASE_MS]["v"] == 1.5


def test_events_ts_as_int64_nanos(spark, tmp_path):
    _write_events(spark, str(tmp_path), lambda ms: ms * 1_000_000)
    _expect(spark, str(tmp_path))


def test_events_ts_as_timestamp(spark, tmp_path):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _write_events(
        spark,
        str(tmp_path),
        lambda ms: datetime.datetime.utcfromtimestamp(ms / 1000.0),
    )
    _expect(spark, str(tmp_path))


def test_load_table_normalizes_drifted_types(spark, tmp_path):
    # documents with int32 ids / counts, embeddings with double vectors:
    # load_table must cast them back to the canonical engine types.
    spark.createDataFrame(
        [(1, "hello world", "en", "web", 11)],
        "doc_id INT, text STRING, lang STRING, source STRING, n_chars INT",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    spark.createDataFrame(
        [(1, [0.5, 0.25], 3)],
        "vec_id INT, embedding ARRAY<DOUBLE>, label BIGINT",
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    from tsdb_spark.sources.events import load_table

    docs = load_table(spark, str(tmp_path), "documents")
    assert dict(docs.dtypes) == {
        "doc_id": "bigint", "text": "string", "lang": "string",
        "source": "string", "n_chars": "bigint",
    }
    assert docs.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    emb = load_table(spark, str(tmp_path), "embeddings")
    assert dict(emb.dtypes) == {
        "vec_id": "bigint", "embedding": "array<float>", "label": "int",
    }
    assert emb.collect()[0]["embedding"] == [0.5, 0.25]


def test_events_ts_as_raw_ms_us_s(spark, tmp_path):
    # raw-integer epochs in ms / us / s: the unit is inferred by
    # magnitude (dtype alone cannot distinguish them)
    for sub, factor in (("ms", 1), ("us", 1000), ("s", 0.001)):
        path = str(tmp_path / sub)
        _write_events(spark, path, lambda ms: int(ms * factor))
        _expect(spark, path)


def test_events_ts_as_string(spark, tmp_path):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = str(tmp_path / "str")
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 7, "click", 1.5, '{"k": 60}'),
            (2, "2024-01-01 00:00:01", 8, "view", 2.5, '{"k": 10}'),
        ],
        "event_id LONG, ts STRING, user_id LONG, event_type STRING, value DOUBLE, props STRING",
    )
    df.write.parquet(f"{path}/events.parquet")
    _expect(spark, path)


def test_table_memo_misses_on_nested_rewrite(spark, tmp_path):
    # a partitioned table keeps its data files one level down; rewriting
    # one of them in place must invalidate the memoized plan
    from tsdb_spark.sources.events import _table_memo

    part = tmp_path / "t.parquet" / "k=1"
    part.mkdir(parents=True)
    data = part / "part-0.parquet"
    data.write_bytes(b"a")
    builds = []

    def build():
        builds.append(object())
        return builds[-1]

    path = str(tmp_path / "t.parquet")
    first = _table_memo(spark, path, "t", build)
    assert _table_memo(spark, path, "t", build) is first  # unchanged: hit
    st = data.stat()
    data.write_bytes(b"bb")
    os.utime(data, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert _table_memo(spark, path, "t", build) is not first
    assert len(builds) == 2
