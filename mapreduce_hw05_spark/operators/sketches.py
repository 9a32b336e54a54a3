"""The one Spark path for the mergeable sketches: theta (distinct + set
algebra), KLL (quantiles), count-min (point frequencies) and
space-saving (frequent items).

All four are instances of one design, *Mergeable Summaries* (Agarwal
et al., PODS 2012): a bounded summary built from any slice of the data,
and an associative merge, so partials built anywhere fold into the
summary of the whole. The sketch classes keep only their algorithm:

- ``add(values: pd.Series)`` folds one column slice in (NULLs follow
  each sketch's SQL counterpart: theta and KLL skip them, count-min and
  space-saving count them as the NULL group);
- ``merge(other)`` returns the merged sketch;
- ``serialize()`` / ``deserialize(blob)`` are the wire format.

``new`` below is any zero-argument factory of an empty sketch (the
class itself, or ``functools.partial(Cls, k)``). The Spark plumbing is
here, once:

- :func:`sketch_partials` — one map-only pass builds ``(key…, sketch)``
  per partition × key; only bounded blobs leave a partition.
- :func:`merge_by_key` — one keyed shuffle of blobs and a merge per key.
- :func:`fold` — the driver-side merge of collected blobs.

The streaming state sink over the same three is
``streaming.ops.stream_sketch_foreachbatch``.
"""

from __future__ import annotations

from typing import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def sketch_partials(
    df: DataFrame, key_cols: list[str], value_col: str, new: Callable
) -> DataFrame:
    """``(key…, sketch binary)`` — one sketch per (partition × key),
    built in a single ``mapInPandas`` pass with no shuffle.
    ``key_cols=[]`` builds one unkeyed sketch per partition.

    SQL GROUP BY keeps the NULL key group, so pandas' groupby runs with
    ``dropna=False`` and a NaN key goes back to None. Integral value
    columns reach pandas as float64 when they carry NULLs; they are
    handed to ``add`` as nullable ``Int64`` so a value hashes and
    compares as the integer it is.
    """
    integral = isinstance(df.schema[value_col].dataType, T.IntegralType)
    schema = T.StructType(
        [df.schema[c] for c in key_cols]
        + [T.StructField("sketch", T.BinaryType())]
    )

    def build(batches):
        acc: dict[tuple, object] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            if integral:
                pdf[value_col] = pdf[value_col].astype("Int64")
            groups = (
                pdf.groupby(key_cols, sort=False, dropna=False)
                if key_cols
                else [((), pdf)]
            )
            for key, grp in groups:
                key = tuple(None if pd.isna(c) else c for c in key)
                if key not in acc:
                    acc[key] = new()
                acc[key].add(grp[value_col])
        if acc:
            yield pd.DataFrame(
                [(*key, sk.serialize()) for key, sk in acc.items()],
                columns=[*key_cols, "sketch"],
            )

    return df.select(*key_cols, value_col).mapInPandas(build, schema=schema)


def merge_by_key(
    partials: DataFrame, key_cols: list[str], new: Callable
) -> DataFrame:
    """Merge a ``(key…, sketch)`` table to ONE sketch per key: one
    shuffle on the key, only blobs cross it, and :func:`fold` per group
    in ``applyInPandas``. Same schema in and out."""

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[key_cols].iloc[:1].assign(
            sketch=[fold(pdf["sketch"], new).serialize()]
        )

    return partials.groupBy(*key_cols).applyInPandas(
        merge_group, schema=partials.schema
    )


def fold(blobs: Iterable, new: Callable):
    """Merge serialized sketches into one, starting from ``new()`` (an
    empty list gives the empty sketch)."""
    acc = new()
    for blob in blobs:
        acc = acc.merge(type(acc).deserialize(bytes(blob)))
    return acc
