"""The one Arrow batch loop for per-row Python hops.

Every operator that turns one input row into one output row through
Python (the media feature operators, the OCR / transcript
post-processors, the PDF image statistics) runs through
:func:`map_rows`: the operator writes a row function returning a dict
and declares its output once, as a ``StructType``.  Output columns
are built from that schema, so a field the row function leaves out is
NULL and a key the schema does not declare fails the task instead of
being dropped.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

if TYPE_CHECKING:
    import pandas as pd


def map_rows(df: DataFrame, in_cols: Sequence[str], schema: StructType,
             fn: Callable[..., dict]) -> DataFrame:
    """``df.select(*in_cols)`` → ``fn(*values)`` once per row →
    ``schema``-typed rows, over Arrow batches in one ``mapInPandas``."""
    names = schema.fieldNames()
    declared = frozenset(names)

    def _batches(batches: Iterator["pd.DataFrame"]) \
            -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = [fn(*vals) for vals in zip(*(batch[c] for c in in_cols))]
            for row in rows:
                if not declared.issuperset(row):
                    raise KeyError(f"map_rows: {sorted(set(row) - declared)}"
                                   f" not in the declared schema {names}")
            yield pd.DataFrame({k: [row.get(k) for row in rows]
                                for k in names})

    return df.select(*in_cols).mapInPandas(_batches, schema)
