"""The Arrow-boundary fold harness, driven on plain pyarrow batches.

``fold_batches`` is the executor-side loop behind ``arrow_fold``; no
Spark session is needed to pin its contract: the key column is
gathered once per output row (in ``idx`` order, NULL keys kept),
batches with no output rows yield nothing, and the Arrow types are
derived from the one ``[(name, spark DataType)]`` list.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from map_reduce_c_sharp_simulation_multithreaded_spark.operators.arrow_fold import (
    fold_batches,
    per_doc,
)

FIELDS = [("term", StringType()), ("tf", LongType())]


def _batch(ids, texts):
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.int64()), pa.array(texts, pa.string())],
        names=["_id", "_text"],
    )


def _word_counts(t):
    if not t:
        return None
    words = sorted(set(t.split()))
    return words, [t.split().count(w) for w in words]


def test_zero_one_and_n_rows_keep_key_order_and_null_key():
    batch = _batch([7, None, 9, 4], ["b a b", "solo", None, "x"])
    fold = per_doc(_word_counts, 2)
    out = list(fold_batches([batch], "doc_id", FIELDS, fold))
    assert len(out) == 1
    assert out[0].schema.names == ["doc_id", "term", "tf"]
    assert out[0].to_pylist() == [
        {"doc_id": 7, "term": "a", "tf": 1},
        {"doc_id": 7, "term": "b", "tf": 2},
        {"doc_id": None, "term": "solo", "tf": 1},
        {"doc_id": 4, "term": "x", "tf": 1},
    ]
    # the key keeps the source column's own type
    assert out[0].schema.field("doc_id").type == pa.int64()


def test_batch_without_output_rows_yields_nothing():
    fold = per_doc(_word_counts, 2)
    nothing = _batch([1, 2], [None, ""])
    assert list(fold_batches([nothing], "k", FIELDS, fold)) == []
    empty = _batch([], [])
    assert list(fold_batches([empty], "k", FIELDS, fold)) == []


def test_output_types_derive_from_spark_fields():
    top2 = StructType(
        [
            StructField("bestg", StringType(), True),
            StructField("best", IntegerType(), True),
        ]
    )
    fields = [("n", IntegerType()), ("tf", LongType()), ("top2", top2)]

    def f(t):
        return [len(t)], [len(t) * 10], [(t, len(t))]

    batch = _batch([1, 2], ["ab", "c"])
    out = list(fold_batches([batch], "k", fields, per_doc(f, 3)))
    schema = out[0].schema
    for name, dt in fields:
        assert schema.field(name).type == to_arrow_type(dt)
    assert schema.field("n").type == pa.int32()
    assert out[0].column(3).to_pylist() == [
        {"bestg": "ab", "best": 2},
        {"bestg": "c", "best": 1},
    ]


def test_per_doc_equals_batch_fold():
    def batch_fold(texts):
        idx, terms, tfs = [], [], []
        for i, t in enumerate(texts):
            r = _word_counts(t)
            if r is None:
                continue
            idx += [i] * len(r[0])
            terms += r[0]
            tfs += r[1]
        return idx, [terms, tfs]

    batches = [
        _batch([1, 2, 3], ["a b a", None, "c"]),
        _batch([4, 5], ["", "d d e"]),
    ]
    lifted = list(
        fold_batches(batches, "k", FIELDS, per_doc(_word_counts, 2))
    )
    direct = list(fold_batches(batches, "k", FIELDS, batch_fold))
    assert len(lifted) == len(direct) == 2
    assert all(a.equals(b) for a, b in zip(lifted, direct))
