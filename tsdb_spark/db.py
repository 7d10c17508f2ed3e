"""The DB: a time-partitioned Parquet store + query surface.

Layout (SURVEY.md §1.4) under a root directory:

    root/_meta.json                      # geometry + flags (BlockMeta analog, block.go:152-200)
    root/samples/t_bucket=<lo>/*.parquet # clustered (series_id, t) within files
    root/series/*.parquet                # label index (series dim)
    root/tombstones/*.parquet            # optional

Capabilities mirror the reference's public surface (db.go:93-112 Appender,
querier.go:32-48 Querier, db.go:1150-1196 block-pruned querier,
head.go:1261-1290 label enumeration, db.go:1226-1259 CleanTombstones,
compact.go LeveledCompactor, db.go:839-906 retention).

Scale notes (100TB design):
- samples are only ever scanned with partition pruning on t_bucket and,
  via Parquet min/max stats on the (series_id, t)-sorted files, row-group
  pruning on both series and time.
- the series dim and tombstones broadcast; a select never shuffles the
  samples side unless vertical dedup is required (tracked by the
  `overlapping` flag; compaction clears it).
- filesystem ops here use local os/shutil — on a real cluster the same
  protocol (write temp dir, atomic swap) runs against an object store via
  a manifest; the reference uses the identical trick (compact.go:634-638
  temp dir + rename).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsdb_spark import compaction
from tsdb_spark import labels as L
from tsdb_spark.operators.intervals import coalesce_intervals, subtract_intervals
from tsdb_spark.operators.merge import dedup_vertical
from tsdb_spark.schema import (
    DEFAULT_BLOCK_WIDTH_MS,
    SAMPLES_SCHEMA,
    SERIES_SCHEMA,
    TOMBSTONES_SCHEMA,
)
from tsdb_spark.session import configure, tree_fingerprint


@dataclass
class AppendReport:
    """Batch-mode rendering of the reference's per-Add errors
    (ErrOutOfBounds/ErrOutOfOrderSample/ErrAmendSample head.go:43-53,
    appendable head.go:1681-1699)."""

    appended: int = 0
    new_series: int = 0
    duplicates_dropped: int = 0   # same (series, t, v) — accepted no-op (head.go:1694-1696)
    amends_rejected: int = 0      # same (series, t), different v (head.go:1697-1698)
    out_of_order_rejected: int = 0  # t <= existing max t of series (head.go:1690-1692)
    out_of_bounds_rejected: int = 0  # t < min valid time (head.go:773-783)


def _locked(fn):
    """Serialize store mutations within this driver process. Two
    concurrent Spark write jobs into the same table directory share the
    Hadoop committer's `_temporary/0` staging dir and corrupt each
    other's commit (found live: the serve process's scrape thread and
    rule-manager thread appending together). The reference's head is
    single-writer for the same reason (db.go's mtx around Appender
    commit); an RLock keeps nested mutators (record → append) safe.

    The APPEND paths no longer use this decorator: they follow the
    staged two-phase protocol (reserve/stage/publish — see the staged
    append commit section) so the heavy Spark job runs unlocked and
    only the rename-and-meta publish takes the mutex. Maintenance
    mutators (compact/vacuum/delete/retention) stay fully locked: they
    rewrite live dirs in place and are rare."""
    import functools

    @functools.wraps(fn)
    def inner(self, *a, **k):
        with self._mutex:
            return fn(self, *a, **k)

    return inner


@dataclass
class DB:
    spark: SparkSession
    path: str
    meta: dict = field(default_factory=dict)
    _mutex: "threading.RLock" = field(
        default_factory=lambda: __import__("threading").RLock(),
        repr=False,
        compare=False,
    )
    # ingest_seq values reserved by in-flight staged appends (reserved
    # under the mutex, removed at publish/abort). durable_head() stops
    # short of the lowest in-flight seq so tailing consumers never
    # advance past a batch that has not landed yet.
    _inflight: set = field(default_factory=set, repr=False, compare=False)

    # ---------------- lifecycle ----------------

    @classmethod
    def create(
        cls, spark: SparkSession, path: str, block_width_ms: int = DEFAULT_BLOCK_WIDTH_MS
    ) -> "DB":
        configure(spark)
        os.makedirs(path, exist_ok=True)
        db = cls(
            spark,
            path,
            {
                "version": 2,
                "block_width_ms": block_width_ms,
                "next_ingest_seq": 1,
                # buckets with vertically-overlapping appends, needing
                # read-time dedup until compacted (OverlappingBlocks analog,
                # db.go:977-1042 — per-range, never a global flag)
                "overlapping_buckets": [],
                # leveled-compaction geometry (ExponentialBlockRanges,
                # compact.go:41-50): appends land at block_width_ms; the
                # planner merges filled parent ranges up these levels
                "block_ranges": compaction.exponential_ranges(block_width_ms),
                # buckets promoted to a coarser level: {lo: width_ms}; a
                # bucket absent here has base width
                "bucket_widths": {},
            },
        )
        db._write_meta()
        # no empty-frame writes: readers synthesize empty DataFrames for
        # missing dirs (saves 3 Spark jobs per create)
        return db

    @classmethod
    def open_readonly(cls, spark: SparkSession, path: str) -> "DB":
        """DBReadOnly (db.go:265-429): full query surface, every mutation
        refused — the safe handle for operating on a store another
        process owns (the reference uses it for CLI dump/ls against a
        running server's data dir)."""
        db = cls.open(spark, path, _gc_staging=False)
        db._read_only = True
        return db

    def _check_writable(self) -> None:
        if getattr(self, "_read_only", False):
            raise PermissionError(
                f"store at {self.path} was opened read-only (DBReadOnly analog)"
            )

    @classmethod
    def open(cls, spark: SparkSession, path: str, _gc_staging: bool = True) -> "DB":
        configure(spark)
        with open(os.path.join(path, "_meta.json")) as f:
            meta = json.load(f)
        ver = meta.get("version", 1)
        if ver > 2:
            raise ValueError(
                f"store at {path} has meta version {ver}; this build reads <= 2"
            )
        db = cls(spark, path, meta)
        if ver < 2:
            # v1 metas carried one global `overlapping` bool; silently
            # reading it as "no overlapping buckets" would skip vertical
            # dedup on reads. Migrate: the conservative per-bucket form
            # marks every live bucket (exactly what the global flag meant).
            if meta.pop("overlapping", False):
                meta["overlapping_buckets"] = sorted(
                    int(d.split("=")[1]) for d in db._bucket_dirs()
                )
            meta["version"] = 2
            db._write_meta()
        if _gc_staging:
            # abandon staged-but-unpublished appends a crashed writer
            # left behind: their seq range was reserved (and burned —
            # gaps in ingest_seq are meaningless to readers), but none
            # of their files ever reached a live table dir, so dropping
            # the staging tree is exactly the failed-job rollback.
            # open_readonly skips this: a read-only handle may attach to
            # a store another LIVE process is appending to.
            db._gc_stale_staging()
        return db

    # ------------- staged append commit (two-phase, short lock) -------------
    #
    # The store mutex exists to keep two Spark write jobs out of the
    # same table directory (they would share the Hadoop committer's
    # `_temporary/0` staging dir and corrupt each other's commit) and to
    # serialize meta updates. Holding it across the WHOLE append job
    # serializes every mutator behind multi-second Spark jobs — the r9
    # serve-mode soak measured 110s of a 190s run spent WAITING on this
    # lock. The reference holds its head lock for in-memory appends, not
    # disk I/O (head.go Appender.Commit); the Spark-side analog:
    #
    #   1. RESERVE (lock, ms): take the next ingest_seq range, persist
    #      the bump so a crash can never re-issue it.
    #   2. STAGE (no lock, the Spark job): write the batch into a
    #      private per-append staging directory — no shared committer
    #      state, so any number of appends stage concurrently.
    #   3. PUBLISH (lock, ms): rename the staged part files into the
    #      live partition dirs and apply the meta updates (overlap
    #      tracking, dirty sets, publish counter) in one short section.
    #
    # On a single node the rename is os.replace; on a real cluster the
    # same protocol runs over the FileSystem API (HDFS rename is a
    # metadata op) or a table format's metadata commit — the invariant
    # is only that publish is cheap and serialized while stage is the
    # parallel heavy lifting. Failed stages abort: the reserved seq
    # stays a hole (readers order by seq, holes are meaningless) and
    # the staging dir is dropped.

    @property
    def _staging_root(self) -> str:
        return os.path.join(self.path, "_staging")

    def _new_staging_dir(self) -> str:
        d = os.path.join(self._staging_root, uuid.uuid4().hex)
        os.makedirs(d, exist_ok=True)
        return d

    def _gc_stale_staging(self) -> None:
        import shutil

        if os.path.isdir(self._staging_root):
            shutil.rmtree(self._staging_root, ignore_errors=True)

    def _reserve_seq(self, k: int = 1) -> int:
        """Reserve the next k ingest_seq values (durably — the bump is
        written before any data exists, so a crash mid-stage burns the
        range instead of letting a later append reuse it under
        different data)."""
        with self._mutex:
            seq = int(self.meta["next_ingest_seq"])
            self.meta["next_ingest_seq"] = seq + k
            self._inflight.update(range(seq, seq + k))
            self._write_meta()
            return seq

    def _abort_seq(self, seq: int, k: int = 1) -> None:
        with self._mutex:
            self._inflight.difference_update(range(seq, seq + k))

    def durable_head(self) -> int:
        """Highest ingest_seq S such that every append with seq <= S is
        either published (visible in the live tables) or permanently
        abandoned. Tailing consumers (RemoteWriteForwarder) bound their
        scan here: with concurrent staged appends, seq N+1 can publish
        before seq N, and a tail that advanced its watermark past an
        in-flight N would skip that batch forever once it lands."""
        with self._mutex:
            if self._inflight:
                return min(self._inflight) - 1
            return int(self.meta["next_ingest_seq"]) - 1

    def _publish_staged(self, stage_dir: str, dest_path: str) -> set:
        """Move a staged `partitionBy(t_bucket)` write into the live
        table; returns the set of bucket los touched. Caller holds the
        mutex. Part-file names carry the writing job's UUID, so moves
        never collide with live files."""
        import shutil

        buckets: set = set()
        if not os.path.isdir(stage_dir):
            return buckets
        for d in os.listdir(stage_dir):
            if not d.startswith("t_bucket="):
                continue
            src = os.path.join(stage_dir, d)
            moved = False
            dst = os.path.join(dest_path, d)
            os.makedirs(dst, exist_ok=True)
            for fn in os.listdir(src):
                if fn.startswith(("_", ".")):
                    continue
                os.replace(os.path.join(src, fn), os.path.join(dst, fn))
                moved = True
            if moved:
                buckets.add(int(d.split("=")[1]))
        shutil.rmtree(stage_dir, ignore_errors=True)
        return buckets

    def _drop_staging(self, *dirs: str) -> None:
        import shutil

        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)

    def _bump_publish_locked(self) -> None:
        """Mark published data visible: version-keyed readers (series
        cache, rollup freshness, postings) re-resolve. Caller holds the
        mutex and is responsible for _write_meta()."""
        self.meta["publish_count"] = self.meta.get("publish_count", 0) + 1

    def _write_meta(self) -> None:
        tmp = os.path.join(self.path, f"_meta.json.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(self.meta, f)
        os.replace(tmp, os.path.join(self.path, "_meta.json"))

    @property
    def block_width_ms(self) -> int:
        return self.meta["block_width_ms"]

    @property
    def _samples_path(self) -> str:
        return os.path.join(self.path, "samples")

    @property
    def _series_path(self) -> str:
        return os.path.join(self.path, "series")

    @property
    def _tombstones_path(self) -> str:
        return os.path.join(self.path, "tombstones")

    @property
    def overlapping_buckets(self) -> list[int]:
        return self.meta.get("overlapping_buckets", [])

    @property
    def block_ranges(self) -> list[int]:
        return self.meta.get(
            "block_ranges", compaction.exponential_ranges(self.block_width_ms)
        )

    @property
    def bucket_levels(self) -> dict[int, int]:
        """Compaction level per bucket (BlockMeta.Compaction.Level,
        block.go:171-186): fresh appends are level 1 (stored implicitly);
        a width-merge writes level = max(source levels) + 1."""
        return {int(k): v for k, v in self.meta.get("bucket_levels", {}).items()}

    @property
    def bucket_sources(self) -> dict[int, list[int]]:
        """Source buckets a merged bucket was compacted from
        (BlockMeta.Compaction.Sources/parents, block.go:178-200)."""
        return {int(k): v for k, v in self.meta.get("bucket_sources", {}).items()}

    @property
    def bucket_widths(self) -> dict[int, int]:
        """Widths of level-promoted buckets (JSON keys are strings)."""
        return {int(k): v for k, v in self.meta.get("bucket_widths", {}).items()}

    def width_of(self, lo: int) -> int:
        return self.bucket_widths.get(lo, self.block_width_ms)

    @property
    def max_bucket_width(self) -> int:
        """Upper bound on any partition's span — the safe pruning width."""
        return max([self.block_width_ms, *self.bucket_widths.values()])

    # ---------------- frames ----------------

    def _read_or_empty(self, path: str, schema) -> DataFrame:
        if os.path.isdir(path) and any(
            not e.startswith(("_", ".")) for e in os.listdir(path)
        ):
            return self.spark.read.schema(schema).parquet(path)
        df = self.spark.createDataFrame([], schema)
        return df

    def samples(self) -> DataFrame:
        """The samples fact relation. The DataFrame (with its resolved
        parquet file index) is reused while the on-disk file set is
        unchanged: re-listing the partition tree JVM-side costs ~0.25s
        per call at 124 buckets and grows with the store, while the
        os.walk fingerprint (tree_fingerprint) is milliseconds. Every
        rewrite path publishes new uuid-named files via _swap_dir, so
        any mutation — append, compact, vacuum, clean, retention —
        changes the fingerprint. Unlike series(), the data is NOT
        persisted — only the plan is reused."""
        schema = "series_id LONG, t LONG, v DOUBLE, ingest_seq LONG, t_bucket LONG"
        fp = tree_fingerprint(self._samples_path)
        cached = getattr(self, "_samples_cache", None)
        if cached is not None and fp is not None and cached[0] == fp:
            return cached[1]
        df = self._read_or_empty(self._samples_path, schema)
        self._samples_cache = (fp, df)
        return df

    def series(self) -> DataFrame:
        """The series dim, persisted and cached per data version.

        Every select/label query starts from this relation (the analog
        of the reference's always-mmapped index); re-reading its parquet
        per query is pure overhead. The cache key is `_data_version`, so
        any mutation that can change the dim (append bumps ingest seq;
        gc/retention/delete bump data seq) invalidates it. Executor
        storage is bounded by the dim itself — metadata-scale next to
        the samples."""
        ver = tuple(self._data_version())
        cached = getattr(self, "_series_cache", None)
        if cached is not None and cached[0] == ver:
            return cached[1]
        if cached is not None:
            try:
                cached[1].unpersist()
            except Exception:
                pass
        df = self._read_or_empty(self._series_path, SERIES_SCHEMA).persist()
        self._series_cache = (ver, df)
        return df

    def series_count(self) -> int:
        """Series cardinality, memoized per data version — the broadcast
        guards consult it on EVERY select, so it must not cost a Spark
        job each time (the first call per version materializes the
        cached dim, which warm_index already does at ingest)."""
        ver = tuple(self._data_version())
        cached = getattr(self, "_series_count_cache", None)
        if cached is not None and cached[0] == ver:
            return cached[1]
        n = self.series().count()
        self._series_count_cache = (ver, n)
        return n

    def tombstones(self) -> DataFrame:
        return self._read_or_empty(self._tombstones_path, TOMBSTONES_SCHEMA)

    # ---------------- ingest (S7/J12/T2 as batch rules) ----------------

    def append(
        self,
        rows: DataFrame,
        min_valid_time: int | None = None,
        strict_order: bool = False,
        validate: bool = True,
        report: bool = False,
        order_col: str | None = None,
        seq_col: str | None = None,
        warm_index: bool = True,
    ) -> AppendReport:
        """Transactional batch ingest of rows(labels MAP<STRING,STRING>, t LONG, v DOUBLE).

        Appender.Add/Commit (head.go:818-952) as one job:
        1. derive series_id (strip-invariant entries hash; empty labels
           dropped per head.go:832-833 — the dim's labels/labels_str are
           stripped+rendered post-dedup, never per sample)
        2. upsert new series into the dim (getOrCreate head.go:1371-1415)
        3. validate: bounds (T1), in-batch duplicate/amend policy (T2);
           optional strict out-of-order check vs stored per-series max t
        4. append to t_bucket partitions, sorted (series_id, t) in-file

        Commits are STAGED (see the staged-append-commit section above):
        the Spark job writes into a private staging dir with no lock
        held, and the store mutex is taken only to reserve the ingest
        seq and to rename the finished part files into the live
        partitions — concurrent appenders (scrape threads, rule ticks,
        the write buffer) overlap their heavy phases instead of
        serializing behind each other's jobs. A failed job aborts: the
        staging dir is dropped and the reserved seq stays a harmless
        hole (Rollback analog).

        Scale notes: the samples side shuffles only bare (series_id, t, v)
        triples — label maps ride the (small) series-dim path. `report=True`
        adds counting jobs (off by default); `validate=False` skips the
        dedup/amend shuffle entirely for bulk loads known to be clean.

        Amend policy: with `order_col` naming a column of `rows` that
        carries the batch's arrival order, a (series, t) conflict keeps
        the FIRST sample and rejects later amends — exact parity with the
        reference, which errors the new sample against the stored one
        (head.go:1697-1698; WAL order = arrival order). A Spark batch has
        no inherent row order, so without `order_col` the engine keeps
        the deterministic minimum v instead (documented deviation).

        Ordering note: samples commit first, the series dim last — a failed
        job can leave committed samples without dim entries for at most one
        batch (invisible to selects, which semi-join the dim), never
        phantom dim entries with no samples.

        Replay mode: `seq_col` names a column of small non-negative ints
        giving each row's LOGICAL batch index (0..k-1). One Spark job then
        commits k sequential appends — the WAL-replay analog (S9,
        head.go:497-561 replays many records in one pass): every logical
        batch gets its own ingest_seq (later-wins vs existing data per
        batch, exactly as if appended one at a time), a (series, t)
        collision ACROSS batches resolves later-batch-wins (the vertical
        rule k separate appends would yield at read time, J6), and the
        file layout splits by ingest_seq inside each bucket so the
        physical result mirrors k separate appends. Replaying N
        micro-batches this way costs one job instead of N — the
        difference between minutes and hours on a 100 TB restore.
        Mutually exclusive with `order_col` (use order_col for
        first-wins WITHIN one logical append).
        """
        self._check_writable()
        if order_col is not None and seq_col is not None:
            raise ValueError("order_col and seq_col are mutually exclusive")
        rep = AppendReport(new_series=-1, appended=-1)
        width = self.block_width_ms
        seq: int | None = None
        seq_reserve = 1
        stage: str | None = None
        published = False
        dim_state: list = [None, None]  # [staged state, error]
        dim_thread: threading.Thread | None = None

        rows = rows.select(
            F.col("labels"),
            F.col("t").cast("long").alias("t"),
            F.col("v").cast("double").alias("v"),
            *([F.col(order_col)] if order_col is not None else []),
            *(
                [F.col(seq_col).cast("long").alias("_seq")]
                if seq_col is not None
                else []
            ),
        )
        if min_valid_time is not None:
            if report:
                total = rows.count()
            rows = rows.filter(F.col("t") >= F.lit(min_valid_time))
            if report:
                kept = rows.count()
                rep.out_of_bounds_rejected = total - kept
        # identity hashes the sorted entries directly — empty-label strip
        # rides inside the hash expression, and the labels_str RENDER
        # (per-entry escapes + concat, the measured CPU hog of decode at
        # ~320ns/row) is deferred to the deduped series dim below, where
        # it runs on |series| rows instead of |samples|.
        rows = rows.withColumn("series_id", L.series_id_expr("labels"))
        # Persist the decoded batch ONCE: the samples write and the series
        # upsert both consume it, and the per-row decode (entries sort +
        # xxhash64 identity) is a major CPU step of ingest — measured at
        # 30M rows/batch, sharing it via the cache
        # beats two source scans by ~22% wall (and the gap widens when the
        # source is a real parquet/stream read, not synthesized rows).
        # MEMORY_AND_DISK: a bulk-load batch larger than executor memory
        # spills instead of evicting mid-job; the footprint is bounded by
        # ONE append call's input, never the store.
        rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            samples = rows.select("series_id", "t", "v")
            if seq_col is not None:
                staged = rows.select("series_id", "t", "v", "_seq")
                if validate:
                    # LATER batch wins at a (series, t) collision — the
                    # identical outcome k separate appends produce, where
                    # each batch is its own block and read-time vertical
                    # dedup resolves by ingest_seq (J6, querier.go:1039-1043).
                    # Within ONE logical batch the engine default (min v)
                    # applies. Both rules in one map-side-combinable
                    # aggregate: lexicographic min of (-seq, v). Resolving
                    # at write (instead of leaving collided rows for the
                    # readers, as k appends would) keeps the batch's buckets
                    # out of the overlap ledger — reads stay dedup-free.
                    win = F.min(
                        F.struct((-F.col("_seq")).alias("ns"), F.col("v").alias("v"))
                    ).alias("w")
                    clean = (
                        staged.groupBy("series_id", "t")
                        .agg(win)
                        .select(
                            "series_id",
                            "t",
                            F.col("w.v").alias("v"),
                            (-F.col("w.ns")).alias("_seq"),
                        )
                    )
                    if report:
                        n_raw = staged.count()
                        n_dedup = staged.dropDuplicates(
                            ["series_id", "t", "v"]
                        ).count()
                        n_clean = clean.count()
                        rep.duplicates_dropped = n_raw - n_dedup
                        rep.amends_rejected = n_dedup - n_clean
                else:
                    clean = staged
            elif validate and order_col is not None:
                # first-wins (head.go:1697-1698): the earliest row by
                # arrival order defines v; later duplicates AND amends at
                # the same (series, t) are rejected. One map-side-
                # combinable min_by aggregate.
                ordered = rows.select("series_id", "t", "v", order_col)
                clean = ordered.groupBy("series_id", "t").agg(
                    F.min_by("v", order_col).alias("v")
                )
                if report:
                    n_raw = ordered.count()
                    n_dedup = ordered.dropDuplicates(["series_id", "t", "v"]).count()
                    n_clean = clean.count()
                    rep.duplicates_dropped = n_raw - n_dedup
                    rep.amends_rejected = n_dedup - n_clean
            elif validate:
                # in-batch duplicate/amend policy: same (series,t): identical
                # v → keep one (duplicate NaN ok: NaN==NaN here, matching the
                # bit-pattern rule head.go:1695); differing v → amend → keep
                # the deterministic min (Spark sorts NaN greatest). The
                # common path is ONE map-side-combinable shuffle; the
                # intermediate distinct-(s,t,v) pass exists only to split
                # the duplicate/amend counts in report mode.
                if report:
                    deduped = samples.dropDuplicates(["series_id", "t", "v"])
                    clean = deduped.groupBy("series_id", "t").agg(
                        F.min("v").alias("v")
                    )
                    n_raw = samples.count()
                    n_dedup = deduped.count()
                    n_clean = clean.count()
                    rep.duplicates_dropped = n_raw - n_dedup
                    rep.amends_rejected = n_dedup - n_clean
                else:
                    clean = samples.groupBy("series_id", "t").agg(
                        F.min("v").alias("v")
                    )
            else:
                clean = samples

            if strict_order:
                maxt = self.samples().groupBy("series_id").agg(F.max("t").alias("_maxt"))
                # dim-scale frame: broadcast only while the dim provably
                # fits (same guard as the select path — a 100M-series
                # store must not ship per-series maxima to every executor)
                if self.series_count() <= getattr(
                    self, "broadcast_series_limit", 5_000_000
                ):
                    maxt = F.broadcast(maxt)
                if report:
                    before = clean.count()
                clean = clean.join(maxt, "series_id", "left").filter(
                    F.col("_maxt").isNull() | (F.col("t") > F.col("_maxt"))
                ).drop("_maxt")
                if report:
                    clean = clean.cache()
                    rep.out_of_order_rejected = before - clean.count()

            # floored bucketing via pure int64 math (t - pmod floors for
            # negative t too; `div` truncates toward zero — a t=-1 sample
            # must land in bucket -width, not 0). One rule everywhere:
            # matches bucket_of / compact / pruning. Derived BEFORE the
            # seq reservation so the replay lineage job runs unlocked.
            out = clean.withColumn(
                "t_bucket", F.col("t") - F.pmod(F.col("t"), F.lit(width))
            )
            if report:
                rep.appended = out.count()
            lineage: list = []
            if seq_col is not None:
                # ONE metadata-sized pre-write job returns the touched
                # (bucket, logical-seq) lineage: how many seq values this
                # replay must reserve, and the group count that sizes the
                # range shuffle below.
                lineage = out.select("t_bucket", "_seq").distinct().collect()
                if lineage:
                    seq_reserve = max(r["_seq"] for r in lineage) + 1
            # RESERVE (lock, ms): the seq range is durable before any
            # data carries it — a crash mid-stage burns it, never reuses.
            seq = self._reserve_seq(seq_reserve)
            seq_expr = (
                (F.lit(seq) + F.col("_seq")).cast("long")
                if seq_col is not None
                else F.lit(seq).cast("long")
            )
            out = out.withColumn("ingest_seq", seq_expr).select(
                "series_id", "t", "v", "ingest_seq", "t_bucket"
            )
            # range partition: respects t_bucket grouping while splitting
            # hot buckets across tasks by series range → bounded task/file
            # sizes at 100TB; in-file (series_id, t) order gives Parquet
            # min/max row-group pruning on both dimensions. Replay mode
            # adds ingest_seq to the range keys with an EXPLICIT partition
            # count (one per (bucket, seq) group — AQE would coalesce the
            # implicit count and merge logical batches into shared files)
            # so each replayed batch keeps its own file(s) inside its
            # bucket, mirroring k separate appends.
            if seq_col is not None:
                parted = out.repartitionByRange(
                    max(1, len(lineage)), "t_bucket", "ingest_seq", "series_id"
                )
            else:
                parted = out.repartitionByRange("t_bucket", "series_id")

            # STAGE (no lock): the Spark job lands in a private staging
            # dir — concurrent appends never share committer state.
            stage = self._new_staging_dir()
            # r11 (guide §2.6, VERDICT r10 #4): the series upsert's
            # unlocked half (probe + candidate derivation + staged dim
            # write — dim-scale jobs) runs CONCURRENTLY with the samples
            # staging write below; its small jobs back-fill executor
            # threads idled by the write's task tail instead of running
            # serially after it. Publication ordering is unchanged: the
            # staged dim files become visible only in
            # _finish_series_upsert, after the samples publish ("samples
            # first, dim last"). report mode keeps the serial path (it
            # needs the counting jobs).
            def _dim_worker() -> None:
                try:
                    dim_state[0] = self._stage_series_upsert(rows)
                except Exception as e:  # fall back to the serial upsert
                    dim_state[1] = e

            if not report:
                dim_thread = threading.Thread(target=_dim_worker, daemon=True)
                dim_thread.start()
            (
                # hot appends write lz4_raw (the standardized LZ4_RAW,
                # not legacy lz4hadoop): cheapest-CPU codec at parity
                # read speed — the head-vs-block split the reference
                # itself uses (uncompressed head chunks, compressed
                # persisted blocks, head.go vs chunks/): compaction
                # rewrites recompress cold buckets with the session
                # default (zstd), so long-lived data stays dense.
                parted.sortWithinPartitions("t_bucket", "series_id", "t")
                .write.mode("append")
                .option("compression", "lz4_raw")
                .partitionBy("t_bucket")
                .parquet(stage)
            )

            # PUBLISH (lock, ms): renames + meta updates only. The
            # staged partition dirs ARE the touched-bucket set — no
            # observation or second batch scan needed.
            with self._mutex:
                existing_buckets = {
                    int(d.split("=")[1]) for d in self._bucket_dirs()
                }
                batch_buckets = self._publish_staged(stage, self._samples_path)
                stage = None
                if not strict_order and existing_buckets:
                    # which touched buckets already held data? Only those
                    # need read-time vertical dedup (per-range overlap
                    # tracking, OverlappingBlocks analog db.go:977-1042).
                    # Overlap is checked by RANGE, not dir name: a
                    # base-width batch bucket landing inside a level-
                    # promoted coarse bucket creates a new dir but still
                    # time-overlaps it — both sides must dedup at read
                    # until compacted. `existing` is listed at PUBLISH
                    # time, so a concurrent append that landed first
                    # counts as existing data.
                    widths = self.bucket_widths
                    newly_overlapping: set[int] = set()
                    for b in batch_buckets:
                        if b in existing_buckets:
                            newly_overlapping.add(b)
                        for lo, w in widths.items():
                            if lo != b and lo < b + width and b < lo + w:
                                newly_overlapping.update((b, lo))
                    if newly_overlapping:
                        self.meta["overlapping_buckets"] = sorted(
                            set(self.overlapping_buckets) | newly_overlapping
                        )
                if self.meta.get("ts_clean_buckets"):
                    # new data in a tombstone-clean bucket: no longer known
                    # clean — a re-touched bucket must be re-checked by the
                    # planner. Applies on EVERY append path (strict-order
                    # appends touch buckets too).
                    self.meta["ts_clean_buckets"] = sorted(
                        set(self.meta["ts_clean_buckets"]) - batch_buckets
                    )
                if self.meta.get("rollup_dirty"):
                    # accumulate per-width dirty buckets for incremental
                    # artifact refresh; only widths whose basis was set by
                    # materialize_rollup track (an untracked width falls
                    # back to a full rebuild in refresh_rollup)
                    dirty = self.meta["rollup_dirty"]
                    for wkey in dirty:
                        dirty[wkey] = sorted(set(dirty[wkey]) | batch_buckets)
                self._inflight.difference_update(range(seq, seq + seq_reserve))
                self._bump_publish_locked()
                self._write_meta()
            published = True

            # series upsert (J12) last: a failed samples job must not leave
            # phantom dim entries (commit-ordering note in the docstring).
            # Reads the CACHED batch — dedup + anti-join, no re-decode.
            if dim_thread is not None:
                dim_thread.join()
                if dim_state[1] is None and dim_state[0] is not None:
                    rep.new_series = self._finish_series_upsert(
                        dim_state[0], rows
                    )
                else:
                    rep.new_series = self._upsert_series(rows, report)
            else:
                rep.new_series = self._upsert_series(rows, report)
        finally:
            if dim_thread is not None and dim_thread.is_alive():
                dim_thread.join()
            if not published:
                # a staged-but-never-published dim write is just a
                # staging dir — dropped with the rest
                if (
                    dim_thread is not None
                    and dim_state[0] is not None
                    and dim_state[0][2] is not None
                ):
                    self._drop_staging(dim_state[0][2])
            rows.unpersist()
            if not published:
                if seq is not None:
                    self._abort_seq(seq, seq_reserve)
                if stage is not None:
                    self._drop_staging(stage)
        if warm_index:
            # refresh + materialize the persisted dim NOW, the way the
            # reference maintains head postings during append
            # (head.go:1371-1415) rather than on first read: the first
            # query after a batch load should not pay the index rebuild.
            # Metadata-scale (one small parquet read + persist). Off for
            # per-micro-batch streaming appends where ingest latency
            # dominates (StreamIngestor passes warm_index=False).
            self.series().count()
        return rep

    def _series_candidates(self, rows: DataFrame) -> DataFrame:
        """The batch's NEW series: dedup (series_id, labels), anti-join
        against the current dim, strip + canonical render on the
        surviving dim-scale rows — never per sample."""
        existing = self.series().select("series_id")
        if self.series_count() <= getattr(
            self, "broadcast_series_limit", 5_000_000
        ):
            # dim-scale guard (see select): past the limit the
            # anti-join shuffles batch-candidates vs dim ids — both
            # id-only relations — instead of shipping the dim around
            existing = F.broadcast(existing)
        stripped = L.strip_empty_labels("labels")
        return (
            rows.select("series_id", "labels")
            .dropDuplicates(["series_id"])
            .join(existing, "series_id", "left_anti")
            .select(
                "series_id",
                stripped.alias("labels"),
                L.labels_str_expr(stripped).alias("labels_str"),
            )
        )

    def _series_file_set(self) -> frozenset:
        """Data-file names of the series dim dir — the dim's identity
        for the staged-upsert freshness check (part files are
        append-only and uniquely named, so set equality ⟺ no
        concurrent upsert landed)."""
        p = self._series_path
        if not os.path.isdir(p):
            return frozenset()
        return frozenset(
            fn for fn in os.listdir(p) if not fn.startswith(("_", "."))
        )

    def _stage_series_upsert(self, rows: DataFrame):
        """UNLOCKED half of the series upsert — safe to run
        concurrently with the samples staging write (guide §2.6, r11):
        snapshot the dim file set, derive the candidate frame, and
        either conclude no-op or write the new entries into a private
        staging dir. Returns the state tuple _finish_series_upsert
        consumes after the samples publish. A crash leaves only a
        staging dir (GC'd on next open); the live dim is untouched."""
        snap = self._series_file_set()
        # fresh dim: every series is new by definition — skip the probe
        # so a bulk initial load pays exactly one dedup+anti-join job.
        if self.series_count() > 0 and self._series_candidates(rows).isEmpty():
            return ("noop", snap, None)
        stage = self._new_staging_dir()
        (
            # repartition, not coalesce: keeps the dedup+anti-join
            # parallel; only the (small) result lands on one writer
            self._series_candidates(rows)
            .repartition(1)
            .write.mode("append")
            .parquet(stage)
        )
        return ("staged", snap, stage)

    def _finish_series_upsert(self, state, rows: DataFrame) -> int:
        """LOCKED half: if the dim is exactly as the stage snapshot saw
        it (the uncontended case), renaming the staged part files in IS
        the upsert — milliseconds under the mutex instead of a Spark
        job. A concurrent upsert invalidates the snapshot → fall back
        to the serial re-derive (rare; keeps the dim duplicate-free)."""
        kind, snap, stage = state
        with self._mutex:
            if self._series_file_set() == snap:
                if kind == "noop":
                    return -1
                moved = False
                os.makedirs(self._series_path, exist_ok=True)
                for fn in os.listdir(stage):
                    if fn.startswith(("_", ".")):
                        continue
                    os.replace(
                        os.path.join(stage, fn),
                        os.path.join(self._series_path, fn),
                    )
                    moved = True
                self._drop_staging(stage)
                if moved:
                    self._bump_publish_locked()
                    self._write_meta()
                return -1
        if stage is not None:
            self._drop_staging(stage)
        return self._upsert_series(rows, report=False)

    def _upsert_series(self, rows: DataFrame, report: bool = False) -> int:
        """getOrCreate dim upsert (J12, head.go:1371-1415): dedup the
        batch's (series_id, labels), anti-join against the dim, write
        the new entries. Returns the new-series count when `report`,
        else -1 on the no-op path (no counting job beyond the probe).

        Two-phase like the samples path, cheaper: one UNLOCKED probe job
        decides whether the dim changes at all — the steady state (every
        series already known) never takes the store mutex and never
        writes (the dim file count stops growing per append). Only a
        batch that actually carries new series locks, re-derives the
        candidate set against the then-current dim (a concurrent append
        may have published some of the same series between the probe and
        the lock — the double-check keeps the dim duplicate-free), and
        writes. The dim write runs UNDER the mutex: it is dim-scale
        (small and rare), and holding the lock is what guarantees two
        writers never share the series dir's committer staging.
        (The report=False batch path instead overlaps the unlocked half
        with the samples write — _stage_series_upsert — and only falls
        back here when the staged snapshot went stale.)"""

        _candidates = lambda: self._series_candidates(rows)  # noqa: E731

        # fresh dim: every series is new by definition — skip the probe
        # so a bulk initial load pays exactly one dedup+anti-join job
        # (the locked write), not two.
        if self.series_count() > 0 and _candidates().isEmpty():
            return 0 if report else -1
        with self._mutex:
            new_series = _candidates()  # fresh dim under the lock
            n = -1
            if report:
                new_series = new_series.cache()
                n = new_series.count()
            (
                # repartition, not coalesce: coalesce(1) would collapse the
                # dedup+anti-join into one task; this keeps the compute
                # parallel and only the (small) result lands on one writer
                new_series.repartition(1)
                .write.mode("append")
                .parquet(self._series_path)
            )
            # the dim changed: version-keyed readers must re-resolve
            self._bump_publish_locked()
            self._write_meta()
        return n

    # -------- native histograms (batch path; nativehist.py model) -----

    @property
    def _hist_path(self) -> str:
        return os.path.join(self.path, "histograms")

    def append_histograms(self, rows: DataFrame) -> None:
        """Batch ingest of native-histogram samples rows(labels MAP,
        t LONG, h STRUCT<nativehist.HIST_TYPE>) into the store's
        `histograms` table — the prometheus 3.x sample type the
        reference's float64-only chunk model cannot hold
        (chunkenc/chunk.go:59-64; chunkenc/histogram.go upstream).

        Same disciplines as the float append: series identity hashed
        from sorted entries, dim upsert shared (_upsert_series), bucketed
        layout with range-partitioned sorted files. A (series, t)
        collision keeps the deterministic max-(count, sum) histogram —
        a re-scrape superseding a partial window. Streaming ingest runs
        through streaming.hist_ingest_stream (watermarked windowed agg,
        complete windows only); time retention drops
        histogram buckets on the same clock as samples; tombstone
        deletes mask at read (hist_frame) and clean_tombstones rewrites
        this table alongside samples. Compaction leaves it untouched by
        design — side buckets stay base-width (cross-append duplicates
        resolve at read), so there is nothing to merge. Commits follow
        the float path's staged protocol (reserve/stage/publish)."""
        self._check_writable()
        width = self.block_width_ms
        h_col = F.col("h")
        h_fields = rows.schema["h"].dataType.fieldNames()
        if "custom_values" not in h_fields:
            # normalize pre-NHCB producers (5-field structs) to the
            # 6-field HIST_TYPE so the stored table is uniform
            h_col = F.struct(
                h_col.getField("count").alias("count"),
                h_col.getField("sum").alias("sum"),
                h_col.getField("zero_count").alias("zero_count"),
                h_col.getField("schema").alias("schema"),
                h_col.getField("buckets").alias("buckets"),
                F.lit(None).cast("array<double>").alias("custom_values"),
            )
        rows = rows.select(
            "labels", F.col("t").cast("long").alias("t"), h_col.alias("h")
        ).withColumn("series_id", L.series_id_expr("labels"))
        rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
        seq: int | None = None
        stage: str | None = None
        published = False
        try:
            clean = (
                rows.select("series_id", "t", "h")
                .groupBy("series_id", "t")
                .agg(
                    F.max_by(
                        "h",
                        F.struct(
                            F.col("h.count").alias("c"),
                            F.col("h.sum").alias("s"),
                        ),
                    ).alias("h")
                )
            )
            seq = self._reserve_seq()
            out = (
                clean.withColumn("ingest_seq", F.lit(seq).cast("long"))
                .withColumn(
                    "t_bucket",
                    F.col("t") - F.pmod(F.col("t"), F.lit(width)),
                )
                .select("series_id", "t", "h", "ingest_seq", "t_bucket")
            )
            stage = self._new_staging_dir()
            (
                out.repartitionByRange("t_bucket", "series_id")
                .sortWithinPartitions("t_bucket", "series_id", "t")
                .write.mode("append")
                .option("compression", "lz4_raw")
                .partitionBy("t_bucket")
                .parquet(stage)
            )
            with self._mutex:
                self._publish_staged(stage, self._hist_path)
                stage = None
                self._inflight.discard(seq)
                self._bump_publish_locked()
                self._write_meta()
            published = True
            self._upsert_series(rows)
        finally:
            rows.unpersist()
            if not published:
                if seq is not None:
                    self._abort_seq(seq)
                if stage is not None:
                    self._drop_staging(stage)

    def hist_frame(
        self, mint: int, maxt: int, matchers: list | None = None
    ) -> DataFrame:
        """Pruned native-histogram read: (labels_str, labels, t, h) for
        [mint, maxt] — RangeQuery-ready (the `h` column routes
        histogram_* functions to the native path). Partition-pruned on
        t_bucket exactly like the samples querier; the matcher-filtered
        dim broadcasts under the same guard."""
        from tsdb_spark.nativehist import HIST_TYPE

        ddl = (
            f"series_id LONG, t LONG, h {HIST_TYPE}, "
            "ingest_seq LONG, t_bucket LONG"
        )
        h = self._read_or_empty(self._hist_path, ddl)
        width = self.max_bucket_width
        lo_bucket = (mint // width) * width
        h = h.filter(
            (F.col("t_bucket") >= F.lit(lo_bucket))
            & (F.col("t_bucket") <= F.lit(maxt))
            & (F.col("t") >= F.lit(mint))
            & (F.col("t") <= F.lit(maxt))
        )
        # vertical dedup (J6): a second append to the same bucket can
        # carry the same (series, t) — later ingest wins, count as the
        # deterministic tiebreak. One combinable groupBy over the
        # (histogram-table-sized) pruned scan; unlike the samples path
        # this is not overlap-scoped — histogram tables are orders of
        # magnitude smaller than their sample sources (one row per
        # series-window, not per observation)
        h = h.groupBy("series_id", "t").agg(
            F.max_by(
                "h",
                F.struct(
                    F.col("ingest_seq").alias("s"),
                    F.col("h.count").alias("c"),
                ),
            ).alias("h")
        )
        # tombstones mask histogram rows like samples (F12 deleted-
        # iterator semantics; clean_tombstones rewrites this table too)
        if os.path.isdir(self._tombstones_path):
            h = subtract_intervals(h, self.tombstones())
        dim = self.series()
        if matchers:
            dim = dim.filter(L.compile_matchers(matchers))
        if self.series_count() <= getattr(
            self, "broadcast_series_limit", 5_000_000
        ):
            dim = F.broadcast(dim)
        return h.join(dim, "series_id").select(
            "labels_str", "labels", "t", "h"
        )

    # -------- exemplars (upstream tsdb/exemplar.go; batch path) -------

    @property
    def _exemplar_path(self) -> str:
        return os.path.join(self.path, "exemplars")

    def append_exemplars(self, rows: DataFrame) -> None:
        """Batch ingest of exemplars rows(labels MAP series labels,
        t LONG, v DOUBLE, exemplar MAP<STRING,STRING> — e.g.
        {trace_id: ...}) into the store's `exemplars` table.

        Upstream keeps exemplars in a bounded in-memory circular buffer
        keyed by series (tsdb/exemplar.go CircularExemplarStorage,
        prometheus 2.26+ — a layer the reference repo predates); here
        they land in a t_bucket-partitioned side table like histograms,
        so retention and partition pruning ride the same clock as
        samples. Upstream's duplicate rule (AddExemplar drops an
        exemplar equal to the last seen one) maps to an exact-dup
        groupBy on (series, t, v, rendered exemplar labels); its
        out-of-order rejection doesn't apply — the table is sorted at
        rest, so arrival order is immaterial. Commits follow the float
        path's staged protocol (reserve/stage/publish)."""
        self._check_writable()
        width = self.block_width_ms
        rows = rows.select(
            "labels",
            F.col("t").cast("long").alias("t"),
            F.col("v").cast("double").alias("v"),
            "exemplar",
        ).withColumn("series_id", L.series_id_expr("labels"))
        rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
        seq: int | None = None
        stage: str | None = None
        published = False
        try:
            clean = (
                rows.select(
                    "series_id",
                    "t",
                    "v",
                    "exemplar",
                    L.labels_str_expr("exemplar").alias("_ex_str"),
                )
                .groupBy("series_id", "t", "v", "_ex_str")
                .agg(F.first("exemplar").alias("exemplar"))
            )
            seq = self._reserve_seq()
            out = (
                clean.withColumn("ingest_seq", F.lit(seq).cast("long"))
                .withColumn(
                    "t_bucket",
                    F.col("t") - F.pmod(F.col("t"), F.lit(width)),
                )
                .select(
                    "series_id", "t", "v", "exemplar", "_ex_str",
                    "ingest_seq", "t_bucket",
                )
            )
            stage = self._new_staging_dir()
            (
                out.repartitionByRange("t_bucket", "series_id")
                .sortWithinPartitions("t_bucket", "series_id", "t")
                .write.mode("append")
                .option("compression", "lz4_raw")
                .partitionBy("t_bucket")
                .parquet(stage)
            )
            with self._mutex:
                self._publish_staged(stage, self._exemplar_path)
                stage = None
                self._inflight.discard(seq)
                self._bump_publish_locked()
                self._write_meta()
            published = True
            self._upsert_series(rows)
        finally:
            rows.unpersist()
            if not published:
                if seq is not None:
                    self._abort_seq(seq)
                if stage is not None:
                    self._drop_staging(stage)

    def exemplars_frame(
        self, mint: int, maxt: int, matchers: list | None = None
    ) -> DataFrame:
        """Pruned exemplar read: (labels_str, labels, t, v, exemplar)
        for [mint, maxt] — the /api/v1/query_exemplars scan
        (web/api/v1/api.go queryExemplars → ExemplarQuerier.Select).
        Partition-pruned on t_bucket like the samples querier; cross-
        append exact duplicates collapse (upstream's duplicate rule
        applied at read so immutable appends stay append-only)."""
        ddl = (
            "series_id LONG, t LONG, v DOUBLE, "
            "exemplar MAP<STRING,STRING>, _ex_str STRING, "
            "ingest_seq LONG, t_bucket LONG"
        )
        ex = self._read_or_empty(self._exemplar_path, ddl)
        width = self.max_bucket_width
        lo_bucket = (mint // width) * width
        ex = ex.filter(
            (F.col("t_bucket") >= F.lit(lo_bucket))
            & (F.col("t_bucket") <= F.lit(maxt))
            & (F.col("t") >= F.lit(mint))
            & (F.col("t") <= F.lit(maxt))
        )
        ex = ex.groupBy("series_id", "t", "v", "_ex_str").agg(
            F.first("exemplar").alias("exemplar")
        )
        # delete_series drops a series' exemplars with its samples
        # (upstream's admin delete reaches exemplar storage the same way)
        if os.path.isdir(self._tombstones_path):
            ex = subtract_intervals(ex, self.tombstones())
        dim = self.series()
        if matchers:
            dim = dim.filter(L.compile_matchers(matchers))
        if self.series_count() <= getattr(
            self, "broadcast_series_limit", 5_000_000
        ):
            dim = F.broadcast(dim)
        return ex.join(dim, "series_id").select(
            "labels_str", "labels", "t", "v", "exemplar"
        )

    def _bucket_dirs(self) -> set:
        if not os.path.isdir(self._samples_path):
            return set()
        return {d for d in os.listdir(self._samples_path) if d.startswith("t_bucket=")}

    # ---------------- query surface ----------------

    def querier(self, mint: int, maxt: int) -> "Querier":
        """Closed query interval [mint, maxt] over pruned t_bucket partitions
        (DB.Querier db.go:1150-1196; per-sample clamp querier.go:1101-1160)."""
        return Querier(self, mint, maxt)

    def label_names(self, matchers: list[L.Matcher] | None = None) -> DataFrame:
        """Distinct sorted label names (querier.go:69-89, head.go:1277-1290)."""
        s = self.series()
        if matchers:
            s = s.filter(L.compile_matchers(matchers))
        return (
            s.select(F.explode(F.map_keys("labels")).alias("name"))
            .distinct()
            .orderBy("name")
        )

    def label_values(self, name: str, matchers: list[L.Matcher] | None = None) -> DataFrame:
        """Distinct sorted values of one label (querier.go:232-247,
        head.go:1261-1275; cross-block merge J10 is free via distinct)."""
        s = self.series()
        if matchers:
            s = s.filter(L.compile_matchers(matchers))
        return (
            s.select(F.col("labels").getItem(name).alias("value"))
            .filter(F.col("value").isNotNull())
            .distinct()
            .orderBy("value")
        )

    # ---------------- deletes (tombstones) ----------------

    @_locked
    def delete(self, mint: int, maxt: int, matchers: list[L.Matcher]) -> int:
        """Record delete intervals for matching series (head.Delete analog,
        head.go:954-1002): append (series_id, mint, maxt) tombstones,
        coalesced to canonical form (tombstones.go:259-304). Data is
        dropped lazily at read (subtract_intervals) until clean_tombstones.
        Returns number of series tombstoned."""
        self._check_writable()
        # cache the matched ids: the count and the tombstone write both
        # read them, and the matcher filter over the dim runs ONCE
        ids = self.series().filter(L.compile_matchers(matchers)).select("series_id").cache()
        try:
            n = ids.count()  # materializes the cache
            new = ids.withColumn("mint", F.lit(mint).cast("long")).withColumn(
                "maxt", F.lit(maxt).cast("long")
            )
            merged = coalesce_intervals(self.tombstones().unionByName(new))
            self._atomic_overwrite(merged.coalesce(1), self._tombstones_path)
        finally:
            ids.unpersist()
        # fresh intervals may hit previously tombstone-rewritten buckets
        self.meta.pop("ts_clean_buckets", None)
        self._bump_data_seq()  # rollup artifacts built pre-delete are stale
        return n

    @_locked
    def clean_tombstones(self) -> None:
        """Rewrite affected partitions dropping tombstoned samples, then
        clear tombstones (db.go:1226-1259 CleanTombstones). Only buckets
        overlapping some tombstone interval are rewritten — as ONE Spark
        job over all affected buckets (a serial per-bucket loop would
        serialize the cluster at 1000s of affected buckets); the driver
        then just swaps directories."""
        self._check_writable()
        tombs = self.tombstones()
        intervals = [(r["mint"], r["maxt"]) for r in tombs.select("mint", "maxt").collect()]
        if not intervals:
            return
        # affected buckets by RANGE intersection against each live dir's
        # true span — never a base-width grid walk: a level-promoted
        # coarse bucket's upper half lives at t values whose base-grid
        # bucket doesn't exist as a dir, and missing it here would delete
        # the tombstones below without rewriting, resurrecting masked rows
        widths, base = self.bucket_widths, self.block_width_ms
        targets = sorted(
            lo
            for lo in (int(d.split("=")[1]) for d in self._bucket_dirs())
            if any(m < lo + widths.get(lo, base) and x >= lo for m, x in intervals)
        )
        if targets:
            df = self.samples().filter(F.col("t_bucket").isin(targets))
            self._rewrite_buckets(subtract_intervals(df, tombs), targets, "clean")
        self._clean_side_tables(tombs, intervals)
        if os.path.isdir(self._tombstones_path):
            shutil.rmtree(self._tombstones_path)
        self.meta.pop("ts_clean_buckets", None)
        self._write_meta()

    def _clean_side_tables(self, tombs: DataFrame, intervals: list[tuple]) -> None:
        """The histograms/exemplars side tables drop tombstoned rows in
        the same clean pass: their reads (hist_frame / exemplars_frame)
        mask tombstones lazily, so clearing the tombstones file without
        rewriting them would resurrect masked rows — the exact hazard
        clean_tombstones guards against on the samples path. Same
        write-then-swap choreography, scoped to affected buckets (side
        buckets are always base-width; they never level-promote)."""
        base = self.block_width_ms
        for side in (self._hist_path, self._exemplar_path):
            if not os.path.isdir(side):
                continue
            dirs = {
                int(d.split("=")[1])
                for d in os.listdir(side)
                if d.startswith("t_bucket=")
            }
            affected = sorted(
                lo
                for lo in dirs
                if any(m < lo + base and x >= lo for m, x in intervals)
            )
            if not affected:
                continue
            kept = subtract_intervals(
                self.spark.read.parquet(side).filter(
                    F.col("t_bucket").isin(affected)
                ),
                tombs,
            )
            tmp = side + f".clean.{uuid.uuid4().hex}"
            (
                kept.repartitionByRange("t_bucket", "series_id")
                .sortWithinPartitions("t_bucket", "series_id", "t")
                .write.mode("overwrite")
                .partitionBy("t_bucket")
                .parquet(tmp)
            )
            for lo in affected:
                src = os.path.join(tmp, f"t_bucket={lo}")
                self._swap_dir(
                    src if os.path.isdir(src) else None,
                    os.path.join(side, f"t_bucket={lo}"),
                )
            shutil.rmtree(tmp, ignore_errors=True)

    def _rewrite_buckets(self, frame: DataFrame, targets: list[int], tag: str) -> set[int]:
        """Shared write-then-swap choreography for every partition
        rewrite (clean_tombstones / compact_selected / vacuum): ONE Spark
        job writes the rewritten partitions to a tmp dir; the driver then
        swaps each target dir (absent from the rewrite → all rows gone →
        removed). Refuses to clobber a live dir outside `targets` (the
        disjoint-range invariant) and never leaves the tmp dir behind.
        Returns the bucket los present in the rewrite."""
        tmp = self._samples_path + f".{tag}.{uuid.uuid4().hex}"
        (
            frame.select("series_id", "t", "v", "ingest_seq", "t_bucket")
            .repartitionByRange("t_bucket", "series_id")
            .sortWithinPartitions("t_bucket", "series_id", "t")
            .write.mode("overwrite")
            .partitionBy("t_bucket")
            .parquet(tmp)
        )
        new_dirs = {
            int(d.split("=")[1]) for d in os.listdir(tmp) if d.startswith("t_bucket=")
        }
        for lo in new_dirs - set(targets):
            if os.path.isdir(os.path.join(self._samples_path, f"t_bucket={lo}")):
                shutil.rmtree(tmp, ignore_errors=True)
                raise RuntimeError(f"bucket rewrite would clobber live bucket {lo}")
        for lo in sorted(set(targets) | new_dirs):
            src = os.path.join(tmp, f"t_bucket={lo}")
            dst = os.path.join(self._samples_path, f"t_bucket={lo}")
            self._swap_dir(src if os.path.isdir(src) else None, dst)
        shutil.rmtree(tmp, ignore_errors=True)
        return new_dirs

    # ---------------- compaction & retention ----------------

    @_locked
    def compact(self, target_width_ms: int | None = None) -> None:
        """Rewrite the store at a coarser block width: union partitions,
        apply tombstones, resolve vertical duplicates, re-partition sorted
        (LeveledCompactor.Write compact.go:466-640 + populateBlock
        :645-873 as one declarative job; atomic swap compact.go:634-638).
        """
        self._check_writable()
        width = target_width_ms or self.block_width_ms
        s = self.samples()
        tombs = self.tombstones()
        if tombs.limit(1).count() > 0:
            s = subtract_intervals(s, tombs)
        dirty = self.overlapping_buckets
        if dirty:
            # dedup only the overlapping buckets; clean buckets rewrite
            # without the groupBy shuffle (db.go:1185-1191 scoping)
            is_dirty = F.col("t_bucket").isin(dirty)
            s = s.filter(~is_dirty).drop("t_bucket").unionByName(
                dedup_vertical(s.filter(is_dirty).drop("t_bucket"))
            )
        else:
            s = s.drop("t_bucket")
        out = s.withColumn(
            "t_bucket", F.col("t") - F.pmod(F.col("t"), F.lit(width))
        ).select("series_id", "t", "v", "ingest_seq", "t_bucket")
        tmp = self._samples_path + f".tmp.{uuid.uuid4().hex}"
        (
            # range partition on (t_bucket, series_id): a hot bucket splits
            # across tasks by series range instead of becoming one
            # straggler task (plain repartition("t_bucket") = 1 task/bucket)
            out.repartitionByRange("t_bucket", "series_id")
            .sortWithinPartitions("t_bucket", "series_id", "t")
            .write.mode("overwrite")
            .partitionBy("t_bucket")
            .parquet(tmp)
        )
        self._swap_dir(tmp, self._samples_path)
        if os.path.isdir(self._tombstones_path):
            shutil.rmtree(self._tombstones_path)
        self.meta.update(
            {
                "block_width_ms": width,
                "overlapping_buckets": [],
                "bucket_widths": {},
                "bucket_levels": {},
                "bucket_sources": {},
                "ts_clean_buckets": [],
                "block_ranges": compaction.exponential_ranges(width),
                "last_compaction_ms": int(time.time() * 1000),
            }
        )
        self._write_meta()

    # ---------------- leveled (incremental) compaction ----------------

    def _block_metas(self, with_stats: bool = False) -> list[compaction.BlockMeta]:
        """Planner's view of the store: one BlockMeta per t_bucket dir
        (the reference reads per-block meta.json files, compact.go:176-188)."""
        dirty = set(self.overlapping_buckets)
        metas = []
        ts_counts: dict[int, int] = {}
        n_series: dict[int, int] = {}
        # parse the widths map once — width_of() re-parses meta per call
        widths = self.bucket_widths
        base = self.block_width_ms
        if with_stats and os.path.isdir(self._tombstones_path):
            # tombstones are metadata-sized (they broadcast at read);
            # count intervals intersecting each bucket driver-side
            intervals = [
                (r["mint"], r["maxt"])
                for r in self.tombstones().select("mint", "maxt").collect()
            ]
            if intervals:
                # buckets already tombstone-rewritten count as clean even
                # though the (global) tombstone file persists — prevents
                # the planner re-selecting the same bucket every round
                ts_clean = set(self.meta.get("ts_clean_buckets", []))
                los = sorted(int(d.split("=")[1]) for d in self._bucket_dirs())
                for lo in los:
                    if lo in ts_clean:
                        continue
                    hi = lo + widths.get(lo, base)
                    ts_counts[lo] = sum(1 for m, x in intervals if m < hi and x >= lo)
                # series counts only for buckets the tombstone rule could
                # select (large + tombstoned) — bounds the scan
                big = [
                    lo
                    for lo in los
                    if ts_counts.get(lo)
                    and widths.get(lo, base) >= self.block_ranges[len(self.block_ranges) // 2]
                ]
                if big:
                    rows = (
                        self.samples()
                        .filter(F.col("t_bucket").isin(big))
                        .groupBy("t_bucket")
                        .agg(F.countDistinct("series_id").alias("n"))
                        .collect()
                    )
                    n_series = {r["t_bucket"]: r["n"] for r in rows}
        for d in sorted(self._bucket_dirs()):
            lo = int(d.split("=")[1])
            metas.append(
                compaction.BlockMeta(
                    mint=lo,
                    maxt=lo + widths.get(lo, base),
                    dir=str(lo),
                    num_series=n_series.get(lo, 0),
                    num_tombstones=ts_counts.get(lo, 0),
                    dirty=lo in dirty,
                )
            )
        return metas

    def compact_plan(self) -> tuple[list[int], int | None]:
        """Next compaction step: (bucket los, target width) — ([], None)
        when nothing qualifies (Plan, compact.go:166-223). Target width is
        the smallest level whose aligned window holds the whole group;
        None means rewrite in place at current widths (vertical dedup /
        tombstone rewrite)."""
        group = compaction.plan(self._block_metas(with_stats=True), self.block_ranges)
        if not group:
            return [], None
        los = [int(b.dir) for b in group]
        if any(b.dirty for b in group) or len(group) == 1:
            return los, None
        mint, maxt = group[0].mint, group[-1].maxt
        group_set = set(los)
        live = {
            int(d.split("=")[1]): self.width_of(int(d.split("=")[1]))
            for d in self._bucket_dirs()
        }
        for r in self.block_ranges:
            t0 = (mint // r) * r
            if maxt > t0 + r or r < maxt - mint:
                continue
            if all(b.maxt - b.mint == r for b in group):
                continue  # every member already AT this width — no-op merge
            # never emit into a window occupied by a live bucket OUTSIDE
            # the group: seed-367's clobber — group [3000,4000,5000]
            # (base dirs contained in a promoted 3000-wide parent) must
            # re-merge at its own span r=3000, not get forced to r=9000
            # (the old `r > max member span` rule) whose [0,9000) window
            # swallows live dirs 0/1000/2000/6000... that the rewrite
            # would clobber. Window containment (maxt <= t0 + r) also
            # guarantees ONE output bucket per merge (ADVICE r3 #2).
            if any(
                lo not in group_set and lo < t0 + r and lo + w > t0
                for lo, w in live.items()
            ):
                continue
            return los, r
        return los, None

    def compact_selected(self, buckets: list[int], target_width_ms: int | None = None) -> None:
        """Rewrite ONLY the given t_bucket partitions: apply tombstones,
        vertical-dedup the dirty ones, optionally merge to a coarser level
        (LeveledCompactor.Compact scoped to Plan's selection,
        compact.go:440-520). At 100 TB this touches a handful of adjacent
        partitions — never the store.

        The global tombstone file is retained (other buckets may still
        need it); re-subtracting on already-clean data is a no-op."""
        self._check_writable()
        if not buckets:
            return
        los = sorted(buckets)
        s = self.samples().filter(F.col("t_bucket").isin(los))
        tombs = self.tombstones()
        if tombs.limit(1).count() > 0:
            s = subtract_intervals(s, tombs)
        dirty = sorted(set(self.overlapping_buckets) & set(los))
        if dirty:
            is_dirty = F.col("t_bucket").isin(dirty)
            s = s.filter(~is_dirty).unionByName(dedup_vertical(s.filter(is_dirty)))
        if target_width_ms is not None:
            s = s.withColumn(
                "t_bucket", F.col("t") - F.pmod(F.col("t"), F.lit(target_width_ms))
            )
        new_dirs = self._rewrite_buckets(s, los, "lvl")
        widths = {int(k): v for k, v in self.meta.get("bucket_widths", {}).items()}
        # lineage (BlockMeta.Compaction, block.go:171-200): a width-merge
        # produces level = max(source levels) + 1 and records its sources;
        # in-place rewrites keep the bucket's existing lineage
        if target_width_ms is not None and new_dirs:
            levels = self.bucket_levels
            sources = self.bucket_sources
            levels_before, sources_before = dict(levels), dict(sources)
            for lo in los:
                levels.pop(lo, None)
                sources.pop(lo, None)
            for out in sorted(new_dirs):
                # per-output attribution: only the source buckets whose
                # time range overlaps THIS coarse window contributed to
                # it (a merge spanning several target windows must not
                # claim every source for every output)
                grp = [
                    lo
                    for lo in los
                    if lo < out + target_width_ms
                    and lo + widths.get(lo, self.block_width_ms) > out
                ]
                levels[out] = max(levels_before.get(lo, 1) for lo in grp) + 1
                sources[out] = sorted(
                    {s for lo in grp for s in sources_before.get(lo, [lo])}
                )
            self.meta["bucket_levels"] = {str(k): v for k, v in levels.items()}
            self.meta["bucket_sources"] = {str(k): v for k, v in sources.items()}
        if target_width_ms is not None:
            # the group's dirs were replaced by coarse ones: re-key widths
            for lo in los:
                widths.pop(lo, None)
            if target_width_ms != self.block_width_ms:
                for lo in new_dirs:
                    widths[lo] = target_width_ms
        else:
            # in-place rewrite keeps each bucket's span — a previously
            # level-promoted bucket MUST keep its coarse width (dropping it
            # would mis-prune queries and let retention delete live data);
            # only buckets the rewrite emptied entirely lose their entry
            for lo in set(los) - new_dirs:
                widths.pop(lo, None)
        self.meta["bucket_widths"] = {str(k): v for k, v in widths.items()}
        self.meta["overlapping_buckets"] = [
            b for b in self.overlapping_buckets if b not in set(los)
        ]
        # every rewritten bucket had tombstones applied — mark clean
        self.meta["ts_clean_buckets"] = sorted(
            (set(self.meta.get("ts_clean_buckets", [])) - set(los)) | new_dirs
        )
        self.meta["last_compaction_ms"] = int(time.time() * 1000)
        # prune lineage/width/overlap tracking for buckets this rewrite
        # removed (fully-tombstoned groups, emptied in-place rewrites) —
        # a later fresh bucket at the same lo must not inherit stale meta
        self._forget_dropped_buckets()
        self._write_meta()

    @_locked
    def vacuum(self, max_files_per_bucket: int = 8) -> list[int]:
        """Rewrite partitions fragmented into more than
        `max_files_per_bucket` data files — the small-file maintenance
        pass a streaming warehouse needs (every micro-batch append adds
        files; thousands of tiny files per partition destroy scan
        throughput long before data size does).

        Rows are rewritten verbatim — no dedup, no tombstone apply — so
        vertical-overlap tracking and pending tombstones are untouched;
        this is purely physical layout (the reference's segment rewrite
        concern, chunks/chunks.go:106-108 — fixed-size segments exist
        for exactly this reason). All selected partitions rewrite in ONE
        Spark job; the driver only swaps directories. Returns the
        rewritten bucket los."""
        self._check_writable()
        frag = [
            lo
            for lo in sorted(
                int(d.split("=")[1]) for d in self._bucket_dirs()
            )
            if sum(
                1
                for f in os.listdir(
                    os.path.join(self._samples_path, f"t_bucket={lo}")
                )
                if not f.startswith(("_", "."))
            )
            > max_files_per_bucket
        ]
        if not frag:
            return []
        s = self.samples().filter(F.col("t_bucket").isin(frag))
        self._rewrite_buckets(s, frag, "vac")
        return frag

    @_locked
    def auto_compact(self, max_rounds: int = 32) -> list[list[int]]:
        """Run planning rounds until the planner is satisfied (the
        reference's db.compact loop, db.go:701-759). Returns the executed
        groups."""
        self._check_writable()
        done = []
        for _ in range(max_rounds):
            los, target = self.compact_plan()
            if not los:
                break
            self.compact_selected(los, target)
            done.append(los)
        return done

    # ---------------- snapshot & checkpoint ----------------

    def snapshot(self, dest: str) -> None:
        """Full-store snapshot into `dest` by hardlink (Snapshot
        db.go:1108-1146; per-block hardlink copy block.go:224-264):
        O(#files) metadata ops, zero data copied, and the result opens as
        a normal DB. On an object store the same protocol is a manifest
        copy."""
        if os.path.abspath(dest) == os.path.abspath(self.path):
            raise ValueError("cannot snapshot into base directory")
        os.makedirs(dest, exist_ok=False)
        # derived artifacts (postings, rollups) ride along — hardlinks
        # are free and their freshness meta stays valid in the copy
        for sub in ("samples", "series", "tombstones", "postings", "rollups"):
            root = os.path.join(self.path, sub)
            if not os.path.isdir(root):
                continue
            for dirpath, _, files in os.walk(root):
                tgt = os.path.join(dest, os.path.relpath(dirpath, self.path))
                os.makedirs(tgt, exist_ok=True)
                for fn in files:
                    os.link(os.path.join(dirpath, fn), os.path.join(tgt, fn))
        with open(os.path.join(dest, "_meta.json"), "w") as f:
            json.dump(self.meta, f)

    def gc_series(self) -> int:
        """Drop series-dim entries with no remaining samples — the keep
        function of the reference's checkpoint/head-GC (checkpoint.go:
        188-191 keeps only series still in the head; head.go gc()).
        Retention deletes sample partitions wholesale, so without this
        the dim accumulates label sets that LabelValues/LabelNames still
        report. Returns the number of series removed."""
        self._check_writable()
        live = self.samples().select("series_id").distinct()
        s = self.series()
        total = s.count()
        kept = s.join(live, "series_id", "left_semi")
        n_kept = kept.count()
        if n_kept < total:
            self._atomic_overwrite(kept.repartition(1), self._series_path)
            # the dim changed: invalidate version-keyed readers (the
            # series cache) and mark the postings index stale
            self._bump_data_seq()
            stale = self.meta.pop("postings_ingest_seq", None)
            stale = self.meta.pop("postings_version", None) or stale
            if stale is not None:
                self._write_meta()
        return total - n_kept

    def checkpoint(self, mint: int) -> dict:
        """Filtered rewrite of everything behind `mint` (Checkpoint,
        checkpoint.go:102-261: drops samples before mint, series no
        longer referenced, and spent delete records):
        whole partitions below mint are deleted, orphan series GC'd, and
        tombstone intervals clipped to [mint, ∞)."""
        self._check_writable()
        dropped = self.retain_after(mint)
        removed = self.gc_series()
        tombs_trimmed = 0
        if os.path.isdir(self._tombstones_path):
            tombs = self.tombstones()
            kept = tombs.filter(F.col("maxt") >= F.lit(mint)).withColumn(
                "mint", F.greatest(F.col("mint"), F.lit(mint).cast("long"))
            )
            # a rewrite is due if any interval is dropped OR clipped
            touched = tombs.filter(F.col("mint") < F.lit(mint)).count()
            tombs_trimmed = tombs.count() - kept.count()
            if kept.limit(1).count() == 0:
                shutil.rmtree(self._tombstones_path)
            elif touched:
                self._atomic_overwrite(kept.repartition(1), self._tombstones_path)
        return {
            "partitions_dropped": dropped,
            "series_removed": removed,
            "tombstones_dropped": tombs_trimmed,
        }

    @_locked
    def retain_after(self, cutoff_ms: int) -> int:
        """Drop whole partitions entirely below the cutoff —
        beyondTimeRetention (db.go:865-884) as partition deletes. A bucket
        is deletable iff its half-open range [lo, lo+width) ends at or
        before the cutoff. Returns number of dropped partitions."""
        self._check_writable()
        dropped = 0
        widths, base = self.bucket_widths, self.block_width_ms
        for d in sorted(self._bucket_dirs()):
            lo = int(d.split("=")[1])
            if lo + widths.get(lo, base) <= cutoff_ms:
                shutil.rmtree(os.path.join(self._samples_path, d))
                dropped += 1
        # the histograms and exemplars tables retain by the same clock
        # (their buckets are always base-width — side tables never
        # level-promote)
        for side in (self._hist_path, self._exemplar_path):
            if os.path.isdir(side):
                for d in sorted(os.listdir(side)):
                    if not d.startswith("t_bucket="):
                        continue
                    lo = int(d.split("=")[1])
                    if lo + base <= cutoff_ms:
                        shutil.rmtree(os.path.join(side, d))
        self._forget_dropped_buckets()
        if dropped:
            self._bump_data_seq()
        return dropped

    def block_bytes(self) -> dict[int, int]:
        """On-disk bytes per partition (block) — the size column of the
        reference's block meta (BlockStats.NumBytes) and the unit
        beyondSizeRetention accumulates. Metadata-scale: one listing per
        partition dir, never touches sample data."""
        out: dict[int, int] = {}
        for d in self._bucket_dirs():
            lo = int(d.split("=")[1])
            part = os.path.join(self._samples_path, d)
            out[lo] = sum(
                os.path.getsize(os.path.join(part, f))
                for f in os.listdir(part)
                if not f.startswith(("_", "."))
            )
        return out

    @_locked
    def retain_max_bytes(self, max_bytes: int) -> int:
        """Size-based retention — beyondSizeRetention (db.go:886-906):
        walk blocks newest-first accumulating on-disk size; once the
        budget is exceeded, that block and everything older is deletable.
        Returns number of dropped partitions."""
        self._check_writable()
        sizes = self.block_bytes()
        acc, dropped = 0, 0
        for lo in sorted(sizes, reverse=True):
            acc += sizes[lo]
            if acc > max_bytes:
                shutil.rmtree(os.path.join(self._samples_path, f"t_bucket={lo}"))
                dropped += 1
        self._forget_dropped_buckets()
        if dropped:
            self._bump_data_seq()
        return dropped

    def _forget_dropped_buckets(self) -> None:
        """Prune overlap/width tracking for partitions that no longer exist."""
        live = {int(d.split("=")[1]) for d in self._bucket_dirs()}
        kept = [b for b in self.overlapping_buckets if b in live]
        widths = {k: v for k, v in self.meta.get("bucket_widths", {}).items() if int(k) in live}
        ts_clean = [b for b in self.meta.get("ts_clean_buckets", []) if b in live]
        levels = {k: v for k, v in self.meta.get("bucket_levels", {}).items() if int(k) in live}
        sources = {k: v for k, v in self.meta.get("bucket_sources", {}).items() if int(k) in live}
        if (
            kept != self.overlapping_buckets
            or widths != self.meta.get("bucket_widths", {})
            or ts_clean != self.meta.get("ts_clean_buckets", [])
            or levels != self.meta.get("bucket_levels", {})
            or sources != self.meta.get("bucket_sources", {})
        ):
            self.meta["overlapping_buckets"] = kept
            self.meta["bucket_widths"] = widths
            if "ts_clean_buckets" in self.meta:
                self.meta["ts_clean_buckets"] = ts_clean
            if "bucket_levels" in self.meta:
                self.meta["bucket_levels"] = levels
            if "bucket_sources" in self.meta:
                self.meta["bucket_sources"] = sources
            self._write_meta()

    # ---------------- materialized postings index (S6/F5) ----------------

    @property
    def _postings_path(self) -> str:
        return os.path.join(self.path, "postings")

    def materialize_postings(self) -> None:
        """Write the inverted index as a (name, value, series_id) table
        partitioned by label name — the index.Writer postings stage
        (index/index.go:506-557) as a derived Parquet table.

        Partitioning by `name` makes every equality/set matcher a
        partition-pruned scan; files are value-sorted for row-group
        pruning on the value predicate. Freshness is recorded against
        the ingest seq — after new appends (or series GC) the reader
        falls back to deriving postings from the dim on the fly until
        the next materialize (the reference likewise rebuilds the index
        at compaction time, not per-append)."""
        self._check_writable()
        from tsdb_spark.operators.postings import build_postings

        p = build_postings(self.series())
        tmp = self._postings_path + f".tmp.{uuid.uuid4().hex}"
        (
            p.repartition("name")
            .sortWithinPartitions("name", "value", "series_id")
            .write.mode("overwrite")
            .partitionBy("name")
            .parquet(tmp)
        )
        self._swap_dir(tmp, self._postings_path)
        self.meta["postings_version"] = self._data_version()
        self._write_meta()

    def postings(self) -> DataFrame:
        """(name, value, series_id): the materialized index when fresh,
        else derived from the series dim (one explode, no shuffle)."""
        from tsdb_spark.operators.postings import build_postings

        if self.meta.get(
            "postings_version"
        ) == self._data_version() and os.path.isdir(self._postings_path):
            return self.spark.read.schema(
                "value STRING, series_id LONG, name STRING"
            ).parquet(self._postings_path).select("name", "value", "series_id")
        return build_postings(self.series())

    # ---------------- materialized rollups (recording rules) ----------------

    @property
    def _rollups_path(self) -> str:
        return os.path.join(self.path, "rollups")

    def _rollup_dir(self, width_ms: int) -> str:
        return os.path.join(self._rollups_path, f"w={width_ms}")

    def _data_version(self) -> list:
        # three counters: seq RESERVATION (bumped before a staged append
        # lands — conservative invalidation), semantic data changes
        # (delete/retention), and PUBLISH (bumped when staged files
        # become visible). Without the third, a reader that cached at a
        # post-reserve version would stay "fresh" after the publish and
        # never see the new data.
        return [
            self.meta["next_ingest_seq"],
            self.meta.get("data_seq", 0),
            self.meta.get("publish_count", 0),
        ]

    def _bump_data_seq(self) -> None:
        """Mark a semantic data change that is invisible to the ingest
        seq (delete / retention) so derived artifacts go stale."""
        self.meta["data_seq"] = self.meta.get("data_seq", 0) + 1
        self._write_meta()

    def _rollup_frame(
        self, width_ms: int, mint: int = -(2**62), maxt: int = 2**62
    ) -> DataFrame:
        # bounds flow into the querier so the samples scan is
        # partition-pruned (refresh_rollup passes the dirty span; the
        # full build keeps the open range). Callers must pass bounds
        # that cover every window they keep WHOLLY — a window straddling
        # mint/maxt aggregates partially.
        base = self.querier(mint, maxt).select([], with_labels=False)
        w = (F.col("t") - F.pmod(F.col("t"), F.lit(width_ms))).alias("w_start")
        grid = max(self.block_width_ms, width_ms)
        return (
            base.groupBy("series_id", w)
            .agg(
                F.count("*").alias("n"),
                F.min("v").alias("min_v"),
                F.max("v").alias("max_v"),
                F.sum("v").alias("sum_v"),
            )
            .withColumn(
                "t_bucket", F.col("w_start") - F.pmod(F.col("w_start"), F.lit(grid))
            )
        )

    @_locked
    def materialize_rollup(self, width_ms: int = 3_600_000) -> None:
        """Write the per-series tumbling rollup (n, min/max/sum) at
        `width_ms` as a derived partitioned Parquet table — the
        recording-rule / downsampling artifact a TSDB materializes so
        long ranges read aggregate rows instead of raw samples (a 1-year
        query over 1h rollups of 15s scrapes scans ~240x fewer rows).
        Beyond the reference surface (Prometheus defers downsampling to
        remote systems); first-class here per the north star.

        The build reads through the querier path, so tombstones and
        vertical overlaps are folded in: a fresh rollup equals
        aggregating a clean select. Freshness tracks (ingest seq,
        data seq) like the postings artifact; after an append, delete,
        or retention the reader recomputes on the fly until the next
        materialize."""
        self._check_writable()
        dest = self._rollup_dir(width_ms)
        tmp = dest + f".tmp.{uuid.uuid4().hex}"
        (
            self._rollup_frame(width_ms)
            .repartitionByRange("t_bucket", "series_id")
            .sortWithinPartitions("t_bucket", "series_id", "w_start")
            .write.mode("overwrite")
            .partitionBy("t_bucket")
            .parquet(tmp)
        )
        os.makedirs(self._rollups_path, exist_ok=True)
        self._swap_dir(tmp, dest)
        self.meta.setdefault("rollups", {})[str(width_ms)] = self._data_version()
        # dirty-tracking basis: from here on, appends record which
        # buckets each batch touches so refresh_rollup can be partial
        self.meta.setdefault("rollup_dirty", {})[str(width_ms)] = []
        self._write_meta()

    def refresh_rollup(self, width_ms: int = 3_600_000) -> list[int]:
        """Bring a stale rollup artifact current by rewriting ONLY the
        partitions appends have dirtied since its version — the
        incremental-materialized-view maintenance a 100 TB store needs
        (a full rebuild re-aggregates the whole history; this re-reads
        just the touched buckets). Falls back to a full rebuild when the
        data changed in ways appends don't track (delete/retention bump
        data_seq; an artifact predating dirty tracking has no basis).
        Returns the artifact partitions rewritten ([] if fresh)."""
        self._check_writable()
        wkey = str(width_ms)
        ver = self.meta.get("rollups", {}).get(wkey)
        cur = self._data_version()
        dest = self._rollup_dir(width_ms)
        if ver is None or not os.path.isdir(dest):
            self.materialize_rollup(width_ms)
            return []
        if list(ver) == list(cur):
            return []
        dirty_raw = self.meta.get("rollup_dirty", {}).get(wkey)
        if ver[1] != cur[1] or dirty_raw is None:
            # delete/retention (or no tracked basis): full rebuild
            self.materialize_rollup(width_ms)
            return []
        grid = max(self.block_width_ms, width_ms)
        bw = self.block_width_ms
        parts: set[int] = set()
        for b in dirty_raw:
            # a dirty block bucket [b, b+bw) touches every rollup window
            # from the one containing its low edge (w_lo = b - b%width,
            # which can start BELOW b — and land in the artifact
            # partition below b's — whenever width does not divide bw)
            # through the one containing its high edge; mark every grid
            # partition holding one of those window starts
            w_lo = b - b % width_ms
            hi = b + bw - 1
            w_hi = hi - hi % width_ms
            p = w_lo - w_lo % grid
            while p <= w_hi:
                parts.add(p)
                p += grid
        parts_l = sorted(parts)
        tmp = dest + f".inc.{uuid.uuid4().hex}"
        # bound the rebuild scan to the dirty span so samples-side
        # t_bucket partition pruning applies (the isin below is on the
        # DERIVED t_bucket, post-aggregation — it selects partitions of
        # the artifact but prunes nothing off the raw scan). Windows in
        # partition p start within [p, p+grid) and end before
        # p + grid + width, so this range covers every kept window
        # wholly; out-of-span partial windows are dropped by the isin.
        (
            self._rollup_frame(
                width_ms, parts_l[0], parts_l[-1] + grid + width_ms - 1
            )
            .filter(F.col("t_bucket").isin(parts_l))
            .repartitionByRange("t_bucket", "series_id")
            .sortWithinPartitions("t_bucket", "series_id", "w_start")
            .write.mode("overwrite")
            .partitionBy("t_bucket")
            .parquet(tmp)
        )
        for lo in parts_l:
            src = os.path.join(tmp, f"t_bucket={lo}")
            self._swap_dir(
                src if os.path.isdir(src) else None,
                os.path.join(dest, f"t_bucket={lo}"),
            )
        shutil.rmtree(tmp, ignore_errors=True)
        self.meta["rollups"][wkey] = cur
        self.meta["rollup_dirty"][wkey] = []
        self._write_meta()
        return parts_l

    def rollup(self, mint: int, maxt: int, width_ms: int = 3_600_000) -> DataFrame:
        """(series_id, w_start, n, min_v, max_v, sum_v) for rollup
        windows fully inside the closed [mint, maxt]: served from the
        materialized artifact when fresh (a partition-pruned scan of
        aggregate rows), else computed on the fly from the same
        expression — transparent, like `postings()`."""
        ver = self.meta.get("rollups", {}).get(str(width_ms))
        if ver == self._data_version() and os.path.isdir(self._rollup_dir(width_ms)):
            r = self.spark.read.parquet(self._rollup_dir(width_ms))
        else:
            r = self._rollup_frame(width_ms)
        return r.filter(
            (F.col("w_start") >= F.lit(mint))
            & (F.col("w_start") + width_ms - 1 <= F.lit(maxt))
        ).select("series_id", "w_start", "n", "min_v", "max_v", "sum_v")

    def fresh_rollup_widths(self) -> list[int]:
        """Widths with a materialized rollup artifact that is current at
        this (ingest seq, data seq) — the resolutions `rollup_at_step`
        may serve from without touching raw samples."""
        ver = self._data_version()
        return sorted(
            int(w)
            for w, v in self.meta.get("rollups", {}).items()
            if list(v) == list(ver) and os.path.isdir(self._rollup_dir(int(w)))
        )

    def rollup_at_step(self, mint: int, maxt: int, step_ms: int) -> DataFrame:
        """Serve (series_id, w_start, n, min_v, max_v, sum_v) at an
        arbitrary step by RE-AGGREGATING the coarsest fresh rollup whose
        width divides the step — the hierarchical-resolution read path
        (Thanos/M3-style multi-resolution downsampling, beyond the
        reference surface: Prometheus defers downsampling to remote
        systems). n/min/max/sum are associative, so w-rollup rows merge
        exactly into step windows; a 1-year step-1d query over a fresh
        1h artifact reads 24 aggregate rows per series-day instead of
        the raw scan — and the fallback (no usable artifact) computes
        the identical expression from samples, so callers never branch.
        """
        usable = [w for w in self.fresh_rollup_widths() if step_ms % w == 0]
        if not usable:
            return self.rollup(mint, maxt, step_ms)
        base = self.rollup(mint, maxt, max(usable))
        step = (
            F.col("w_start") - F.pmod(F.col("w_start"), F.lit(step_ms))
        ).alias("w_start")
        return (
            base.groupBy("series_id", step)
            .agg(
                F.sum("n").alias("n"),
                F.min("min_v").alias("min_v"),
                F.max("max_v").alias("max_v"),
                F.sum("sum_v").alias("sum_v"),
            )
            # same contract as rollup(): only step windows FULLY inside
            # the closed range — without this, an unaligned maxt would
            # emit a PARTIAL edge window the direct path excludes
            .filter(
                (F.col("w_start") >= F.lit(mint))
                & (F.col("w_start") + step_ms - 1 <= F.lit(maxt))
            )
        )

    def dump(self, mint: int = -(2**62), maxt: int = 2**62) -> DataFrame:
        """Full-store sample dump with labels, (labels_str, t)-ordered —
        the `tsdb dump` CLI (dumpSamples, cmd/tsdb/main.go:618-653)."""
        return self.querier(mint, maxt).select_sorted([])

    def ls(self) -> DataFrame:
        """Block listing: per-partition stats + geometry — the `tsdb ls`
        CLI (printBlocks, cmd/tsdb/main.go:437-455)."""
        widths = self.bucket_widths
        dirty = set(self.overlapping_buckets)
        stats = self.block_stats()
        width_expr = F.coalesce(
            *(
                [
                    F.create_map(
                        *[
                            x
                            for lo, w in widths.items()
                            for x in (F.lit(lo), F.lit(w))
                        ]
                    )[F.col("t_bucket")]
                ]
                if widths
                else []
            ),
            F.lit(self.block_width_ms),
        )
        levels = self.bucket_levels
        level_expr = F.coalesce(
            *(
                [
                    F.create_map(
                        *[x for lo, l in levels.items() for x in (F.lit(lo), F.lit(l))]
                    )[F.col("t_bucket")]
                ]
                if levels
                else []
            ),
            F.lit(1),
        )
        sources = self.bucket_sources
        sources_expr = F.coalesce(
            *(
                [
                    F.create_map(
                        *[
                            x
                            for lo, srcs in sources.items()
                            for x in (
                                F.lit(lo),
                                F.array(*[F.lit(s).cast("long") for s in srcs]),
                            )
                        ]
                    )[F.col("t_bucket")]
                ]
                if sources
                else []
            ),
            F.array().cast("array<long>"),
        )
        return stats.select(
            "t_bucket",
            width_expr.alias("width_ms"),
            level_expr.alias("level"),
            sources_expr.alias("sources"),
            "num_samples",
            "num_series",
            "min_t",
            "max_t",
            F.col("t_bucket").isin(sorted(dirty)).alias("overlapping")
            if dirty
            else F.lit(False).alias("overlapping"),
        )

    def tombstones_total(self) -> int:
        """Number of pending tombstone intervals (TombstoneReader.Total,
        tombstones.go:213-222)."""
        from tsdb_spark.operators.intervals import total_intervals

        return total_intervals(self.tombstones())

    def overlapping_block_report(self) -> dict[tuple[int, int], list[str]]:
        """Time ranges covered by two or more blocks, with the block dirs
        covering each (OverlappingBlocks, db.go:977-1042) — the sweep-line
        report over the partition listing plus our single-dir rendering of
        vertical overlap (a bucket that took a second append into a
        populated range lists as overlapping with itself).

        Metadata-only: never reads sample data."""
        metas = self._block_metas()
        out = {
            rng: [b.dir for b in grp]
            for rng, grp in compaction.overlapping_blocks(metas).items()
        }
        seen = {d for grp in out.values() for d in grp}
        for m in metas:
            # a dirty bucket whose overlap is purely internal (two appends
            # into one dir) is invisible to the dir-level sweep — render it
            # as overlapping with itself unless an inter-block group
            # already reports it
            if m.dirty and m.dir not in seen:
                out.setdefault((m.mint, m.maxt), []).extend([m.dir, m.dir])
        return out

    def block_stats(self) -> DataFrame:
        """Per-block stats: NumSamples/NumSeries + time span (BlockMeta
        stats block.go:171-177, head min/max head.go:301-320)."""
        return (
            self.samples()
            .groupBy("t_bucket")
            .agg(
                F.count("*").alias("num_samples"),
                F.countDistinct("series_id").alias("num_series"),
                F.min("t").alias("min_t"),
                F.max("t").alias("max_t"),
            )
            .orderBy("t_bucket")
        )

    def _atomic_overwrite(self, df: DataFrame, path: str) -> None:
        """Write-then-swap, the reference's crash-safe publish protocol
        (compact.go:634-638, block.go:224-264)."""
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        df.write.mode("overwrite").parquet(tmp)
        self._swap_dir(tmp, path)

    @staticmethod
    def _swap_dir(src: str | None, dst: str) -> None:
        """Publish src at dst (or just remove dst when src is None) with
        write-new-then-delete-old ordering: the old dir is renamed aside
        before deletion, so no crash window leaves the store with neither
        version on disk (the reference's rename protocol,
        compact.go:634-638 / block.go:224-264)."""
        old = dst + f".old.{uuid.uuid4().hex}"
        if os.path.isdir(dst):
            os.replace(dst, old)
        if src is not None:
            os.replace(src, dst)
        shutil.rmtree(old, ignore_errors=True)


@dataclass
class Querier:
    """One query window [mint, maxt] (closed, per-sample clamp
    querier.go:1101-1160; block pruning db.go:1156-1169)."""

    db: DB
    mint: int
    maxt: int

    def _pruned_samples(self) -> DataFrame:
        # prune with the widest live bucket span: a level-promoted bucket's
        # lo may sit up to max_bucket_width below mint and still hold
        # in-range samples (conservative by at most one coarse bucket)
        width = self.db.max_bucket_width
        lo_bucket = (self.mint // width) * width
        s = self.db.samples()
        return s.filter(
            (F.col("t_bucket") >= F.lit(lo_bucket))
            & (F.col("t_bucket") <= F.lit(self.maxt))
            & (F.col("t") >= F.lit(self.mint))
            & (F.col("t") <= F.lit(self.maxt))
        )

    def select(
        self,
        matchers: list[L.Matcher],
        with_labels: bool = True,
        apply_tombstones: bool = True,
        via_postings: bool = False,
    ) -> DataFrame:
        """Series selection: the whole read lifecycle (SURVEY.md §3.1) as
        one declarative plan:

        partition-pruned scan → matcher semi-join (postings analog) →
        vertical dedup (only the overlapping buckets) → tombstone
        anti-join → labels attach. Returns
        (labels_str, series_id, t, v)[, labels].

        The series dim filter broadcasts: the 100TB samples side is never
        shuffled unless dedup is needed — and dedup is scoped to the
        buckets that actually saw overlapping appends (the reference
        likewise runs the vertical querier only over the overlapping
        blocks, db.go:1185-1191); clean buckets union in untouched.

        via_postings routes matcher planning through the (materialized,
        name-partitioned) inverted index instead of the dim filter — the
        ultra-high-cardinality path where equality matchers become
        partition-pruned scans (PostingsForMatchers set algebra,
        querier.go:326-396).
        """
        if via_postings:
            from tsdb_spark.operators.postings import postings_for_matchers

            ids = postings_for_matchers(
                self.db.postings(), self.db.series(), matchers
            )
            matched = self.db.series().join(ids, "series_id", "left_semi")
        else:
            matched = self.db.series().filter(L.compile_matchers(matchers))
        matched = self._bounded_broadcast(matched)
        s = self._pruned_samples().join(
            matched.select("series_id"), "series_id", "left_semi"
        )
        widths, base = self.db.bucket_widths, self.db.block_width_ms
        dirty = [
            b
            for b in self.db.overlapping_buckets
            if b + widths.get(b, base) > self.mint and b <= self.maxt
        ]
        if dirty:
            is_dirty = F.col("t_bucket").isin(dirty)
            clean_part = s.filter(~is_dirty).drop("t_bucket")
            dirty_part = dedup_vertical(s.filter(is_dirty).drop("t_bucket"))
            s = clean_part.unionByName(dirty_part)
        if apply_tombstones:
            tombs = self.db.tombstones()
            s = subtract_intervals(s, tombs)
        cols = ["labels_str", "series_id", "t", "v"] + (["labels"] if with_labels else [])
        return s.join(matched, "series_id", "inner").select(*cols)

    def _bounded_broadcast(self, matched: DataFrame) -> DataFrame:
        """Broadcast the matched dim slice only while it provably fits.

        The broadcast is what keeps a select shuffle-free — but a
        matcher like {job=~".+"} on a 100M-series store would ship the
        whole dim to every executor and OOM the driver first. Guard:
        if the WHOLE dim is under the limit the slice trivially is
        (zero extra jobs — the dim is cached, its count is memoized by
        Spark); otherwise one cheap count over the cached dim decides.
        Past the limit the hint is omitted and AQE picks a shuffled
        join — at that selectivity the samples-side shuffle is the
        honest cost, not a planning failure."""
        limit = getattr(self.db, "broadcast_series_limit", 5_000_000)
        if self.db.series_count() <= limit or matched.count() <= limit:
            return F.broadcast(matched)
        return matched

    def select_sorted(self, matchers: list[L.Matcher]) -> DataFrame:
        """select() ordered by (labels, t) — the reference's output order
        (series label-sorted querier.go:214-230/SortedPostings, samples
        time-ordered within series)."""
        return self.select(matchers).orderBy("labels_str", "t")


def federated_select(
    dbs: list["DB"],
    matchers: list[L.Matcher],
    mint: int,
    maxt: int,
    with_labels: bool = False,
) -> DataFrame:
    """Merged read across SEVERAL stores — mergedSeriesSet generalized
    from blocks to databases (querier.go:536-618: the reference merges
    per-block queriers exactly like this; a store is just a bigger
    block).

    Each store answers with its own partition-pruned, matcher-filtered,
    tombstone-subtracted plan; the union resolves (series, t) collisions
    by store position — the LATER store in `dbs` wins, the cross-store
    rendering of verticalMergeSeriesIterator's "b wins"
    (querier.go:1039-1043). No store's samples shuffle except the final
    per-key dedup, whose input is already matcher- and time-pruned.
    """
    parts = [
        db.querier(mint, maxt)
        .select(matchers, with_labels=with_labels)
        .withColumn("_src", F.lit(i))
        for i, db in enumerate(dbs)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return dedup_vertical(u, precedence_col="_src").drop("_src")
