"""Shared persisted-state replacement for the foreachBatch sinks.

Every streaming-maintenance sink in this package folds a bounded sketch /
index table and replaces the persisted parquet dir with the merged result.
The merged plan lazily READS the current ``target_path`` files, so the new
rows must be materialized elsewhere before the dir can be replaced.

:class:`ParquetState` is the per-sink handle: it reads the current state
and swaps in the next one, and remembers the schema it last wrote so the
next batch's read needs no schema-inference job. The session-wide memo
(``sources.inferred``) cannot serve here: every micro-batch hands the sink
a new Python SparkSession wrapper, so a per-session memo always misses.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bqetl_spark.sources.inferred import file_signature


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable: the schema a
    parquet read reports for data written with schema ``dt``."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _as_nullable(f.dataType),
                                           True, f.metadata)
                             for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType),
                         _as_nullable(dt.valueType), True)
    return dt


class ParquetState:
    """One sink's persisted parquet state at ``target_path``.

    ``write`` swaps in the next state and remembers (file signature,
    schema written); ``read`` returns the current state, reading with the
    remembered schema while the files still carry that signature and
    inferring as a plain ``read.parquet`` otherwise (first batch of a run,
    or a dir some other writer replaced).
    """

    def __init__(self, target_path: str):
        self.target_path = target_path
        self.last_written: tuple[tuple, T.StructType] | None = None

    def read(self, spark: SparkSession) -> DataFrame | None:
        """The current state, or None when nothing is stored yet.

        An explicit existence check, NOT try/except-Exception: a corrupt
        or transiently unreadable state must FAIL the batch, not silently
        restart accumulation from scratch — a reset sketch produces a
        plausible-but-wrong estimate nothing downstream would notice
        (code-review r6 finding)."""
        if not os.path.isdir(self.target_path):
            return None
        if (self.last_written is not None
                and self.last_written[0] == file_signature(self.target_path)):
            return spark.read.schema(self.last_written[1]) \
                .parquet(self.target_path)
        return spark.read.parquet(self.target_path)

    def write(self, out: DataFrame, batch_id: int) -> None:
        """Materialize ``out`` beside ``target_path`` and swap it in.

        r12 optimization (guide §6/§1.2): the r6–r11 sinks wrote the merge
        to a tmp dir and then ran a SECOND Spark job copying tmp → target
        (read.parquet(tmp).write(target)) plus an rmtree — two full write
        jobs per micro-batch for a bounded-size state table. The copy job
        only existed to move bytes back under the canonical path, which a
        filesystem rename does as a metadata operation: write tmp (the one
        unavoidable job — it consumes the old target files), rmtree
        target, rename tmp → target. Final state is byte-identical;
        per-batch Spark jobs halve. The non-atomic rmtree+rename window is
        no worse than the prior copy's overwrite window (which truncated
        target before rewriting it); real restart tolerance comes from
        foreachBatch's checkpointed batch ids either way, as documented on
        each sink.
        """
        tmp = self.target_path + f".batch{batch_id}"
        out.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(self.target_path):
            shutil.rmtree(self.target_path)
        os.rename(tmp, self.target_path)
        self.last_written = (file_signature(self.target_path),
                             _as_nullable(out.schema))
