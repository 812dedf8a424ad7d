"""Schema reconciliation — the engine's schema-evolution glue.

Reference precedent: ``DatabaseInformationModel.extendTablesAsNecessary``
issues ``ALTER TABLE … ADD COLUMN`` when unseen attributes arrive at ingest
(``DatabaseInformationModel.java:672-698``). Here, event batches of different
``schema_ver`` (e.g. v1 files physically lack the late-added ``tool`` column)
are reconciled to the superset schema before the merge apply:

``conform_to_schema`` adds missing columns as typed nulls and casts safe
widenings — plain ``select`` expressions, fully codegen'd; stacking mixed
batches uses ``unionByName(allowMissingColumns=True)``. ``evolve_schema``
computes the superset. The Arrow form of the same normalization, for reads
that never reach Spark, is :func:`~nifi_dicom_spark.operators.dedup.
arrow_conform`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: widenings that are EXACT (value-preserving for every input). Integer
#: chains widen freely among themselves; int fits double's 53-bit mantissa
#: but NOT float's 24; bigint fits neither float nor double — allowing
#: bigint→double would silently collapse distinct LWW version numbers
#: (op_seq/offset) above 2^53, flipping merge winners.
_EXACT_WIDENINGS = {
    "byte": {"short", "int", "bigint", "float", "double"},
    "short": {"int", "bigint", "float", "double"},
    "int": {"bigint", "double"},
    "bigint": set(),
    "float": {"double"},
    "double": set(),
}


def _can_widen(src: T.DataType, dst: T.DataType) -> bool:
    s, d = src.simpleString(), dst.simpleString()
    if s == d:
        return True
    if d in _EXACT_WIDENINGS.get(s, ()):
        return True
    # ntz → instant is exact under the engine's UTC session time zone
    if s == "timestamp_ntz" and d == "timestamp":
        return True
    return False


def conform_to_schema(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project ``df`` onto ``target``: missing columns become typed nulls,
    present columns are cast when the cast is a safe widening. Extra columns
    are dropped. Raises on narrowing/type conflicts."""
    have = {f.name: f for f in df.schema.fields}
    cols = []
    for f in target.fields:
        g = have.get(f.name)
        if g is None:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        elif g.dataType == f.dataType:
            cols.append(F.col(f.name))
        elif _can_widen(g.dataType, f.dataType):
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            raise ValueError(
                f"cannot reconcile column {f.name}: "
                f"{g.dataType.simpleString()} → {f.dataType.simpleString()}"
            )
    return df.select(*cols)


def evolve_schema(current: T.StructType, incoming: T.StructType) -> T.StructType:
    """Union of schemas: current columns (widened if incoming is wider) +
    incoming-only columns appended — the ADD COLUMN analog."""
    out = []
    cur = {f.name: f for f in current.fields}
    inc = {f.name: f for f in incoming.fields}
    for f in current.fields:
        g = inc.get(f.name)
        if g is not None and g.dataType != f.dataType:
            if _can_widen(f.dataType, g.dataType):
                out.append(T.StructField(f.name, g.dataType, True))
                continue
            if not _can_widen(g.dataType, f.dataType):
                raise ValueError(f"incompatible evolution for column {f.name}")
        out.append(f)
    for f in incoming.fields:
        if f.name not in cur:
            out.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(out)
