"""Small shared I/O helpers: the one builder of driver-built frames,
the schema-reusing parquet file reader, and the probes for
incrementally maintained on-disk assets (indexes, label stores,
health logs) whose directories legitimately may not exist yet.

Every frame the driver builds from its own rows (descent parameters,
per-group totals and offsets, quantile cuts, index meta, upload
payload sheets) goes through :func:`local_frame`, the only package
caller of ``createDataFrame``: the rows travel to the JVM as one Arrow
table, which Spark plans as a ``LocalRelation``. A list of tuples
handed to ``createDataFrame`` is instead pickled into a Python RDD,
whose every action waits on Python workers: building and collecting
a 20-row frame took 160-210 ms and one job that way, against 15-20 ms
and no job as Arrow (local[4] on a 4-vCPU host)."""

from __future__ import annotations

import datetime
import os

# the session confs that shape the schema Spark infers from a parquet
# footer: the same file read under other values yields other types
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# path -> ((file identity, schema conf values), Spark's inferred schema);
# two threads opening a new file at once only both infer it
_SCHEMAS: dict = {}


def local_frame(spark, rows, schema):
    """The frame of driver-built ``rows`` typed by ``schema`` (a
    ``StructType`` or a DDL string), handed to the JVM as one Arrow
    table: a ``LocalRelation`` (above
    ``spark.sql.execution.arrow.localRelationThreshold``, 48 MiB, an
    RDD of Arrow batches), never a Python RDD, so no action on it
    starts a Python worker. ``rows`` is a list of tuples (or lists) in
    field order, or a ``pyarrow.Table`` already typed as ``schema``.
    NULLs are ``None``; a naive ``datetime`` in a ``timestamp`` field
    reads as local time, as ``createDataFrame(list)`` reads it. A
    value that does not fit its field raises here (Arrow's conversion
    error); there is no fallback off Arrow."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, TimestampType

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        arrow = to_arrow_schema(struct)
        cols = list(zip(*rows)) if rows else [()] * len(struct)
        arrays = []
        for f, a, vals in zip(struct.fields, arrow, cols):
            if isinstance(f.dataType, TimestampType):
                vals = [_as_utc(v) for v in vals]
            arrays.append(pa.array(vals, type=a.type))
        rows = pa.Table.from_arrays(arrays, schema=arrow)
    return spark.createDataFrame(rows, struct)


def _as_utc(v):
    if isinstance(v, datetime.datetime) and v.tzinfo is None:
        return v.astimezone(datetime.timezone.utc)  # naive = local time
    return v


def _local_path(spark, path: str) -> str | None:
    """Return the driver-local filesystem path for ``path`` when a
    driver-side stat is AUTHORITATIVE for it, else None.

    Authoritative means: the master is ``local*`` (on a multi-node
    cluster even a ``file:`` URI can name a shared mount that is
    present on the executors but absent on the driver, so a driver
    stat is never trusted there), AND the path carries an explicit
    ``file:`` scheme (any slash count — ``file:/x``, ``file:///x``)
    or is scheme-less with the Hadoop ``fs.defaultFS`` on the local
    filesystem. A scheme-less path on a cluster whose defaultFS is
    HDFS/S3 resolves REMOTELY inside Spark, so a local stat there
    would misreport an existing asset as absent — the silent-rebuild
    hazard the IVF-PQ index gate documents. Non-authoritative paths
    return None and take the Spark probe."""
    try:
        if not spark.sparkContext.master.startswith("local"):
            return None
    except Exception:
        return None
    if path.startswith("file:"):
        p = path[len("file:"):]
        return "/" + p.lstrip("/") if p.startswith("/") else p
    if "://" in path or ":" in path.split("/", 1)[0]:
        return None  # explicit non-file scheme → remote
    try:
        default_fs = (
            spark.sparkContext._jsc.hadoopConfiguration().get(
                "fs.defaultFS", "file:///"
            )
        )
    except Exception:
        return None
    return path if str(default_fs).startswith("file:") else None


def read_parquet(spark, path: str):
    """``spark.read.parquet(path)`` that infers a local file's schema
    once. Inference is a Spark job per call (footer read by a task,
    ~70-90 ms at local[4]) against ~10 ms for a read given its
    schema, and a warm query re-opens the same table files on every
    run. The first open of a file infers as usual and remembers
    Spark's own schema together with the file's identity
    ``(st_ino, st_size, st_mtime_ns)`` and the session's
    :data:`_SCHEMA_CONFS` values; a later open with all three equal
    reads with ``spark.read.schema(cached)``. A directory, a path
    whose driver-side stat is not authoritative (see
    :func:`_local_path`) or a changed identity or conf infers exactly
    as ``spark.read.parquet`` does. The file is stat'ed before it is
    inferred, so a rewrite racing the first open leaves an identity
    the next open does not match."""
    local = _local_path(spark, path)
    if local is None or not os.path.isfile(local):
        return spark.read.parquet(path)
    st = os.stat(local)
    key = (
        (st.st_ino, st.st_size, st.st_mtime_ns),
        tuple(spark.conf.get(k) for k in _SCHEMA_CONFS),
    )
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def maybe_read_parquet(spark, path: str):
    """Read a parquet dir that may not exist yet (the first batch of
    an incrementally maintained index), returning None when absent.

    A bare ``spark.read.parquet`` on a missing path logs the
    FileStreamSink metadata probe's FileNotFoundException stack trace
    at WARN *before* raising the AnalysisException the caller would
    catch — ~10 lines of Java noise per first-touch that buries real
    errors in sweep logs. When a driver-side stat is authoritative
    (see :func:`_local_path`) a missing dir short-circuits without
    the probe; remote URIs and scheme-less paths under a remote
    defaultFS always go through Spark, so an existing remote asset is
    never misreported as absent."""
    from pyspark.errors import AnalysisException

    # os.path.exists, not isdir: a single parquet FILE is a perfectly
    # readable spark.read.parquet target, and misreporting it as
    # absent would feed the build-once gates the exact silent-rebuild
    # hazard this module exists to avoid (round-11 advisor finding).
    local = _local_path(spark, path)
    if local is not None and not os.path.exists(local):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def parquet_exists(spark, path: str) -> bool:
    """True when ``path`` is a readable parquet dir (same probe-free
    local fast path as :func:`maybe_read_parquet`)."""
    return maybe_read_parquet(spark, path) is not None
