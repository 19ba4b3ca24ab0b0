"""The one adapter between Spark and every per-document Python lane.

    map_docs(df, in_cols, fn, schema)

selects `in_cols`, runs ONE `mapInArrow` layer, and inside each Arrow
batch calls `fn(*values)` once per input row, the values being plain
Python objects (`to_pylist`: bytes, str, int, lists of dicts for arrays
of structs, None for null). `fn` returns an iterable of zero or more
output rows, each a dict keyed by output field name; a missing key is
null and keys that are not fields are ignored, also inside structs. Each
output column is built with `pa.array(..., from_pandas=True)`, so a
float NaN lands as null (Spark's pandas conversion does the same). One
`RecordBatch` comes out per input batch.

The batch loop, the input conversion and the output assembly live here
and nowhere else: a lane is a row function plus a schema. There is no
shuffle and no per-row Spark UDF; the JVM<->Python Arrow IPC is the only
process boundary.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

RowFn = Callable[..., Iterable[dict]]


def map_docs(
    df: DataFrame,
    in_cols: Sequence[Any],
    fn: RowFn,
    schema: Union[StructType, str],
) -> DataFrame:
    """Run the row function `fn` over `df[in_cols]` in one mapInArrow
    layer; `schema` (a StructType or a DDL string) is the output."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)  # once, on the driver

    def run(batches):
        import pyarrow as pa

        for rb in batches:
            rows = [
                row
                for values in zip(*(c.to_pylist() for c in rb.columns))
                for row in fn(*values)
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        [r.get(f.name) for r in rows],
                        type=f.type,
                        from_pandas=True,
                    )
                    for f in arrow_schema
                ],
                schema=arrow_schema,
            )

    return df.select(*in_cols).mapInArrow(run, schema=schema)
