"""SparkSession construction / configuration for the engine.

The engine is pure-DataFrame: any session works, but these settings make
plans correct (UTC, nanos timestamps) and fast (AQE, broadcast).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: session-level (runtime-settable) confs the engine relies on.
RUNTIME_CONFS = {
    # driver testdata stores TIMESTAMP(NANOS) which vanilla Spark rejects;
    # read as raw int64 nanos — the engine core works on int64 time anyway
    # (reference keeps t as int64 ms end-to-end, db.go:14).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # adaptive execution: runtime shuffle-partition coalescing + skew-join
    # handling — the scale path for 100TB joins/aggs.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # zstd over default snappy: meaningfully smaller files at comparable
    # decode speed — at 100TB the scan is IO-bound and the ratio wins
    # (the reference similarly trades CPU for bytes with XOR chunks)
    "spark.sql.parquet.compression.codec": "zstd",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session.

    Called defensively from every public entry point so the engine works
    inside a session we did not build (e.g. the verification driver's).
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this session; plans still work, maybe slower
    return spark


def get_spark(app_name: str = "tsdb_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a local session sized from $SPARK_GRAFT_CPUS."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus in ("*", "") else max(int(cpus), 4)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # local-mode = one JVM doing driver AND all executor threads.
        # 8g measured FASTEST for the 30M-row macro write on this class
        # of VM (8g: 28-36s; 12g: 69s; 28g: 79s; 32g: 116s — monotonic,
        # likely thin-provisioned guest memory faulting fresh pages
        # slower than spilling to page-cached disk). Override via
        # SPARK_DRIVER_MEMORY for workloads that need headroom (e.g.
        # many large appends in one session can exhaust 8g).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # observed failure mode on thin-provisioned guests: allocation
        # aborts with "Retried waiting for GCLocker too often" while
        # parquet/zstd JNI critical sections pin the GC (JDK default
        # retry count is 2) — raise the retry budget so a paused GC is
        # a stall, not an OutOfMemoryError
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64",
        )
    )
    if master.startswith("local"):
        # parquet writer row-group buffers are UNMANAGED heap (outside
        # Spark's memory manager): `cores` concurrent write tasks ×
        # 128 MB default blocks ≈ 4 GB unaccounted at 32 threads — the
        # one-JVM local mode's OOM cliff on big sorted writes. Scale the
        # row-group target to the heap ÷ concurrent writers (clamped to
        # [16 MB, 128 MB]); a real cluster (one executor JVM per few
        # cores) keeps the 128 MB scan-optimal default.
        heap = os.environ.get("SPARK_DRIVER_MEMORY", "8g").lower()
        # suffixless values are MiB to Spark (byteStringAsMb), not bytes
        mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}.get(heap[-1], 1 << 20)
        heap_b = int(float(heap[:-1] if heap[-1] in "kmg" else heap)) * mult
        n_cores = os.cpu_count() or 4
        if cpus not in ("*", ""):
            n_cores = int(cpus)
        block = min(128 << 20, max(16 << 20, heap_b // (n_cores * 4)))
        builder = builder.config("spark.hadoop.parquet.block.size", str(block))
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())


def tree_fingerprint(path: str) -> tuple | None:
    """Cheap identity of an on-disk table (os.walk, no Spark job), for
    reusing its DataFrame plan while its files are unchanged: the
    sorted (relpath, name, size, mtime_ns) of every data file at any
    depth under `path` (files named `_*` / `.*` are metadata and
    skipped); a plain file is its own one entry. Adding, removing or rewriting a data file —
    nested partition files included — changes it. () when no data file
    is there; None when a file vanished mid-walk (do not reuse)."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return ((".", os.path.basename(path), st.st_size, st.st_mtime_ns),)
        out = []
        for root, _dirs, files in os.walk(path):
            rel = os.path.relpath(root, path)
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(root, f))
                out.append((rel, f, st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(out))
