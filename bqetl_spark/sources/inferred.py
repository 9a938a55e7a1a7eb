"""Session-scoped memo of inferred source schemas.

Every schemaless ``spark.read`` fires one eager Spark job to infer the
schema — a footer job for parquet, a full scan for NDJSON — before the
query is even planned. A long-lived session re-reads the same unchanged
tables query after query, so it pays that job again on every read.
:func:`inferred_schema` infers once per (session, source, confs) and
returns the stored schema while the files are unchanged; the loaders then
read with ``.schema(s)``, which fires no job.

The memo returns exactly what inference would return for the same bytes
and confs:

- **Key:** format, path, reader options and the session confs that change
  the inferred types (``_TYPE_CONFS``). ``load_events`` flips
  ``nanosAsLong`` session-wide, so a read after the flip is a new key.
- **Validity:** each entry stores a signature of every file under the
  path — sorted (relative path, size, mtime_ns). Any difference means
  infer again and replace the entry. A rewrite that keeps every file's
  name, size and mtime (to the filesystem's timestamp resolution) is not
  seen.
- **Scope:** one dict per SparkSession object, held weakly, so a new
  session starts empty and a collected one drops its entries.

Only plain local paths are memoized. URIs (``gs://``, ``hdfs://``, also
``file:``) and glob paths infer on every read as before: signing a remote
path would need a listing through the Hadoop FileSystem API (tens of ms
over Py4J), which costs as much as a footer read. At 100 TB the answer
is a declared schema (see ``parquet_source.load_evolved``), not
inference.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import SparkSession
from pyspark.sql import types as T

_TYPE_CONFS = {
    "parquet": (
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.parquet.binaryAsString",
        "spark.sql.parquet.int96AsTimestamp",
        "spark.sql.parquet.mergeSchema",
        "spark.sql.caseSensitive",
    ),
    "json": (
        "spark.sql.timestampType",
        "spark.sql.columnNameOfCorruptRecord",
        "spark.sql.caseSensitive",
    ),
}

_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_LOCK = threading.Lock()


def _is_local(path: str) -> bool:
    """Whether ``path`` is a plain local path that ``os.stat`` can sign:
    not a URI (any scheme), not a glob, and present."""
    return (":" not in path and not any(c in path for c in "*?[{")
            and os.path.exists(path))


def file_signature(root: str) -> tuple:
    """Sorted (relative path, size, mtime_ns) of every file under ``root``
    (or of ``root`` itself when it is a file)."""
    if os.path.isfile(root):
        st = os.stat(root)
        return (("", st.st_size, st.st_mtime_ns),)
    sig = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            sig.append((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
    return tuple(sorted(sig))


def inferred_schema(spark: SparkSession, fmt: str, path: str,
                    options: dict[str, str] | None = None) -> T.StructType:
    """The schema ``spark.read.format(fmt).options(**options).load(path)``
    infers, computed at most once per session while the files under
    ``path`` are unchanged."""
    options = options or {}

    def infer() -> T.StructType:
        return spark.read.format(fmt).options(**options).load(path).schema

    if not _is_local(path):
        return infer()
    key = (fmt, os.path.abspath(path), tuple(sorted(options.items())),
           tuple(spark.conf.get(c) for c in _TYPE_CONFS[fmt]))
    sig = file_signature(path)
    with _LOCK:
        hit = _MEMO.get(spark, {}).get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    schema = infer()
    with _LOCK:
        _MEMO.setdefault(spark, {})[key] = (sig, schema)
    return schema
