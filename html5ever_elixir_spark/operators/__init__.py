"""Spark operators: the reference's parse surface re-expressed as
Arrow-vectorized DataFrame transforms, plus the training-data-pipeline
operators (dedup, similarity, text analysis) the 100 TB corpus needs."""

from __future__ import annotations

from typing import Callable, Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructField, StructType


def release_checkpoint(df) -> None:
    """Drop the blocks of ``df``, a frame returned by
    ``localCheckpoint(eager=True)``. Reading ``df`` afterwards fails
    (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``), so call it only after the
    last reader has run — for an iterative barrier, once the next
    round's checkpoint is materialized."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def map_rows(
    df: DataFrame,
    keys: list[str | Column],
    values: list[str | Column],
    emit: Callable[..., int],
    schema: pa.Schema,
) -> DataFrame:
    """The row kernel: every row-local Python stage is one ``emit`` over
    this single ``mapInArrow`` stage on ``df.select(*keys, *values)``,
    one Python call per Arrow batch.

    Per input row, ``emit(out, *vals) -> n`` gets the ``values`` as
    Python objects, appends ``n`` rows (any number, 0 included) to the
    lists in ``out`` (``schema`` column name → list) and returns ``n``.
    Output columns: ``keys`` (each keeps its input name and type), then
    ``schema``. The keys never become Python objects: each is the input
    column ``take``-n by every output row's input index. A ``schema``
    column that ``emit`` did not append to in a batch is all null. The
    values are aliased by position, so a column can be both a key and a
    value. ``emit`` catches what it means to turn into row values; an
    exception it lets through fails the task."""
    n_keys = len(keys)

    pruned = df.select(
        *keys,
        *[
            (F.col(v) if isinstance(v, str) else v).alias(f"_v{i}")
            for i, v in enumerate(values)
        ],
    )
    key_fields = pruned.schema.fields[:n_keys]
    key_names = [f.name for f in key_fields]
    names = schema.names
    out_type = StructType(
        [StructField(f.name, f.dataType) for f in key_fields]
        + from_arrow_schema(schema).fields
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out: dict[str, list] = {k: [] for k in names}
            idx: list[int] = []
            vals = [c.to_pylist() for c in batch.columns[n_keys:]]
            for i, row in enumerate(zip(*vals)):
                idx.extend([i] * emit(out, *row))
            if not idx:
                continue
            take = pa.array(idx, pa.int32())
            cols = [batch.column(j).take(take) for j in range(n_keys)]
            for f in schema:
                col = out[f.name]
                cols.append(
                    pa.array(col, f.type) if col
                    else pa.nulls(len(idx), f.type)
                )
            yield pa.RecordBatch.from_arrays(cols, names=key_names + names)

    return pruned.mapInArrow(fn, out_type)
