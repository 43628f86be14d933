"""Parquet star-schema table loader.

The reference's notion of a table is "an HDFS directory of text files"
staged per job (`lab2/WordCount.sh:137-143`). Here a table is a parquet
path read declaratively, so Catalyst gets column pruning, predicate
pushdown, and row-group skipping for free — the scan reads only the
columns and row groups a query references, which is the difference
between touching 100 TB and touching 2 TB of it.

Reading parquet without a schema makes Spark infer one, and inference
is a Spark job that reads file footers. Every load here goes through
:func:`parquet_schema` instead, which infers once per version of the
files and hands the reader a declared schema afterwards. The schema is
still the reader's own inference, never a hand-written one: driver data
differs in physical types between generations (``events.ts`` is
TIMESTAMP(NANOS) in some, TIMESTAMP(MICROS) in others), and
``_normalize`` keys off what the reader reports.
"""

from __future__ import annotations

import hashlib
import os
import stat
import struct
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
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

# Dimension tables small enough to broadcast at any realistic scale
# (region=5 rows, nation=25 rows regardless of SF; supplier grows slowly).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Session confs that change what parquet schema inference returns for
#: the same files; each one's value is part of the cache key.
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
#: Inferred schemas kept per process, least recently used dropped first.
_SCHEMA_CACHE_SIZE = 256
_schema_cache: OrderedDict[tuple, T.StructType] = OrderedDict()
_schema_lock = threading.Lock()


def _footer_digest(path: str, size: int) -> bytes:
    """The parquet footer (schema and row-group metadata) plus its
    length and magic; the last 8 bytes alone for a file too short or
    not ending in ``PAR1``."""
    with open(path, "rb") as f:
        if size < 8:
            return f.read()
        f.seek(size - 8)
        tail = f.read(8)
        (footer_len,) = struct.unpack("<i", tail[:4])
        if tail[4:] != b"PAR1" or not 0 < footer_len <= size - 12:
            return tail
        f.seek(size - 8 - footer_len)
        return f.read(footer_len) + tail


def _fingerprint(path: str) -> str | None:
    """Digest of every file under ``path``: relative name, size,
    mtime_ns, inode and parquet footer, so a rewrite that keeps the size
    and restores the mtime still changes it. ``None`` when the driver
    cannot see the files itself (a remote URI, a glob, a missing path)
    or a subdirectory is a symlink."""
    h = hashlib.blake2b(digest_size=20)
    try:
        st = os.stat(path)
        if stat.S_ISREG(st.st_mode):
            entries = [("", path, st)]
        else:
            entries = []
            for root, dirs, files in os.walk(path, onerror=_raise):
                if any(os.path.islink(os.path.join(root, d)) for d in dirs):
                    return None
                for fn in files:
                    full = os.path.join(root, fn)
                    entries.append((os.path.relpath(full, path), full, os.stat(full)))
            entries.sort(key=lambda e: e[0])
        for rel, full, fst in entries:
            h.update(f"{rel}\0{fst.st_size}\0{fst.st_mtime_ns}\0{fst.st_ino}\0".encode())
            h.update(_footer_digest(full, fst.st_size))
    except OSError:
        return None
    return h.hexdigest()


def _raise(err: OSError) -> None:
    raise err


def _local_default_fs(spark: SparkSession) -> bool:
    """True when a path without a scheme names a driver-local file: a
    relative or absolute path resolves against ``fs.defaultFS``."""
    try:
        fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    except Exception:  # Spark Connect, or no JVM-side context to ask
        return False
    return fs.startswith("file:")


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    version of the files under ``path``.

    The cache key is the absolute path, a fingerprint of its files
    (:func:`_fingerprint`) and the values of :data:`SCHEMA_CONFS`. A
    miss infers exactly as an undeclared read does, and the result is
    kept only if the files did not change during inference. A failed
    inference (an empty directory) raises and is not kept, and a path
    the driver cannot stat itself is inferred on every call. Every
    caller gets the same ``StructType`` object: pass it on, never
    mutate it.
    """
    if not _local_default_fs(spark):
        return spark.read.parquet(path).schema
    abspath = os.path.abspath(path)
    before = _fingerprint(abspath)
    if before is None:
        return spark.read.parquet(path).schema
    # None for a conf left unset: a second entry for the default value,
    # never a wrong one.
    key = (abspath, before, tuple(spark.conf.get(k, None) for k in SCHEMA_CONFS))
    with _schema_lock:
        schema = _schema_cache.get(key)
        if schema is not None:
            _schema_cache.move_to_end(key)
            return schema
    schema = spark.read.parquet(path).schema
    if _fingerprint(abspath) == before:
        with _schema_lock:
            _schema_cache[key] = schema
            while len(_schema_cache) > _SCHEMA_CACHE_SIZE:
                _schema_cache.popitem(last=False)
    return schema


def _normalize(df: DataFrame) -> DataFrame:
    """Convert raw int64-nanosecond timestamp columns to TIMESTAMP.

    The events table stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark's reader only surfaces as a raw long (nanosAsLong conf, set in
    session.py). Integer division — never float — preserves precision:
    ns since epoch exceed the 53-bit double mantissa. DuckDB truncates
    ns→µs the same way, so the oracle sees identical instants.
    """
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table as a DataFrame."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = table_path(sf_dir, name)
    return _normalize(spark.read.schema(parquet_schema(spark, path)).parquet(path))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Read several tables at once; all of them when no names given."""
    picked = names or TABLES
    return {name: load_table(spark, sf_dir, name) for name in picked}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every table as a temp view so ``spark.sql`` queries work."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
