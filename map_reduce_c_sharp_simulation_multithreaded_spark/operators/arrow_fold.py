"""One harness for the engine's Python-side folds across the Arrow boundary.

Every fold reads a frame whose column 0 is the row key and emits rows
keyed by it. The harness owns everything but the fold itself: the
columns reach the fold as Python lists, the key is gathered once per
batch with ``pyarrow.Array.take``, and the output types come from one
``[(name, spark DataType)]`` list — the Spark schema and the Arrow
types are both derived from it.

A fold is ``fold(*columns) -> (idx, out_columns)``: ``idx`` names each
output row's source row, ``out_columns`` holds one sequence per field.
Folds that vectorize across a whole batch are written directly;
per-document folds are lifted with :func:`per_doc`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType


def fold_batches(batches, key: str, fields, fold):
    """The executor-side loop of :func:`arrow_fold` over pyarrow batches;
    batches with no output rows yield nothing."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    names = [key] + [name for name, _ in fields]
    types = [to_arrow_type(dt) for _, dt in fields]
    for batch in batches:
        if batch.num_rows == 0:
            continue
        idx, cols = fold(*(c.to_pylist() for c in batch.columns[1:]))
        if len(idx) == 0:
            continue
        yield pa.RecordBatch.from_arrays(
            [batch.column(0).take(pa.array(idx))]
            + [pa.array(c, t) for c, t in zip(cols, types)],
            names=names,
        )


def arrow_fold(src: DataFrame, key: str, fields, fold) -> DataFrame:
    """``src``'s column 0 written out as ``key`` (same type) next to
    ``fields``, one row per entry of the fold's ``idx``."""
    schema = StructType(
        [StructField(key, src.schema.fields[0].dataType, True)]
        + [StructField(name, dt, True) for name, dt in fields]
    )
    return src.mapInArrow(
        lambda batches: fold_batches(batches, key, fields, fold), schema
    )


def per_doc(f, width: int):
    """Lift ``f(*values) -> tuple of width column sequences | None`` (one
    call per source row; ``None`` emits nothing) into a batch fold."""

    def fold(*cols):
        idx: list[int] = []
        out: list[list] = [[] for _ in range(width)]
        for i, values in enumerate(zip(*cols)):
            r = f(*values)
            if r is None:
                continue
            idx.extend([i] * len(r[0]))
            for o, c in zip(out, r):
                o.extend(c)
        return idx, out

    return fold
