"""One row-map kernel for the Python-worker stages.

Every operator that runs Python code on each row (the multimodal
decoders, the BPE tokenizer, the registry's payload synthesizers) is a
caller of :func:`map_rows`. The kernel owns the boundary those stages
share: the Arrow batch loop, the walk over the input columns, ``bytes``
for binary inputs, and an output frame in schema order.

``sources.http.fetch_per_key`` keeps its own ``mapInPandas`` closure.
``sources/`` sits below ``operators/`` and must not import it, and its
rows are fetched payload dicts filled by name, not tuples in schema
order.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def map_rows(
    df: DataFrame,
    schema: T.StructType,
    make_row: Callable[[], Callable[..., tuple | None]],
) -> DataFrame:
    """Map each row of ``df`` through ``make_row()`` in a Python worker.

    ``make_row()`` runs once per partition, in the worker, so setup that
    one partition shares (windows, caches, encoded templates) goes there.
    The function it returns is called with each row's values in ``df``'s
    column order, ``BinaryType`` values as ``bytes``, and returns a tuple
    in ``schema`` order, or ``None`` to drop the row.

    The plan gains one ``MapInPandas`` node named after ``make_row`` and
    nothing else: no projection, exchange or sort. Callers select their
    input columns themselves.
    """
    names = schema.fieldNames()
    binary = [isinstance(f.dataType, T.BinaryType) for f in df.schema.fields]

    def batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        row = make_row()
        for pdf in batches:
            cols = [
                [None if v is None else bytes(v) for v in pdf.iloc[:, i]]
                if is_bin
                else pdf.iloc[:, i]
                for i, is_bin in enumerate(binary)
            ]
            out = [r for r in map(row, *cols) if r is not None]
            # object columns carry each value as the row built it: a
            # LONG column holding a NULL would otherwise be inferred as
            # float64 and lose the low bits of 64-bit hashes
            yield pd.DataFrame(out, columns=names, dtype=object)

    batch.__name__ = batch.__qualname__ = make_row.__name__
    return df.mapInPandas(batch, schema)


def long_schema(*names: str) -> T.StructType:
    """A schema of nullable ``LONG`` columns with the given names."""
    return T.StructType([T.StructField(n, T.LongType()) for n in names])
