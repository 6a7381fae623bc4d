"""KVC path / aggregate mini-language — jesse's embedded query surface
(`/root/reference/src/jesse_json_path.erl`, Bob Ippolito's kvc),
re-expressed as Catalyst expressions.

``path(df, "a.b.c")`` walks dot-separated keys through nested structs
(`jesse_json_path.erl:31-46`); stepping *through* an array of objects
fans out over the elements and drops missing entries
(`get_nested_values`, `:169-177`). A trailing ``@aggregate`` segment
applies one of the kvc collection operators (`:141-177`):

| kvc op | Spark expression |
|---|---|
| ``@max`` / ``@min`` | ``array_max`` / ``array_min`` |
| ``@sum`` | left-fold ``aggregate`` add (doubles) |
| ``@count`` | ``size`` |
| ``@avg`` | sum/size (empty ⇒ null, matching kvc default) |
| ``@distinctUnionOfArrays`` | ``array_distinct(flatten(...))`` |
| ``@unionOfArrays`` | ``flatten`` |
| ``@distinctUnionOfObjects`` | ``array_distinct`` |
| ``@unionOfObjects`` | identity |

Resolution is schema-aware (the DataFrame's StructType decides struct
access vs array fan-out) so the emitted expression is fully typed and
codegen-friendly — the driver-checked ``kvc_agg`` query plus
``get_json_object`` covers the JSON-string form of ``path/2``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, StructType


class KvcPathError(ValueError):
    pass


def _agg(op: str, col: Column) -> Column:
    if op == "@max":
        return F.array_max(col)
    if op == "@min":
        return F.array_min(col)
    if op == "@count":
        return F.size(col)
    if op == "@sum":
        return F.aggregate(col, F.lit(0.0),
                           lambda a, x: a + x.cast("double"))
    if op == "@avg":
        return F.when(F.size(col) > 0,
                      F.aggregate(col, F.lit(0.0),
                                  lambda a, x: a + x.cast("double"))
                      / F.size(col))
    if op == "@distinctUnionOfArrays":
        return F.array_distinct(F.flatten(col))
    if op == "@unionOfArrays":
        return F.flatten(col)
    if op == "@distinctUnionOfObjects":
        return F.array_distinct(col)
    if op == "@unionOfObjects":
        return col
    raise KvcPathError(f"unknown kvc aggregate {op!r}")


def _step(col: Column, dtype: DataType, key: str) -> tuple[Column, DataType]:
    if isinstance(dtype, StructType):
        by_name = {f.name: f for f in dtype.fields}
        if key not in by_name:
            raise KvcPathError(f"no field {key!r} in struct")
        return col.getField(key), by_name[key].dataType
    if isinstance(dtype, ArrayType) and isinstance(dtype.elementType,
                                                   StructType):
        elem = dtype.elementType
        by_name = {f.name: f for f in elem.fields}
        if key not in by_name:
            raise KvcPathError(f"no field {key!r} in array element struct")
        out = F.array_compact(
            F.transform(col, lambda x: x.getField(key)))
        return out, ArrayType(by_name[key].dataType)
    raise KvcPathError(f"cannot step through {dtype.simpleString()} "
                       f"with key {key!r}")


def path(df: DataFrame, dotted: str) -> Column:
    """Resolve a kvc dot-path (optionally ending in an ``@aggregate``)
    against ``df``'s schema, returning a Column."""
    segments = dotted.split(".")
    if not segments or not segments[0]:
        raise KvcPathError("empty path")
    root = segments[0]
    if root not in df.columns:
        raise KvcPathError(f"no column {root!r}")
    col: Column = F.col(root)
    dtype: DataType = df.schema[root].dataType
    for seg in segments[1:]:
        if seg.startswith("@"):
            if not isinstance(dtype, ArrayType):
                raise KvcPathError(
                    f"aggregate {seg!r} needs a collection, got "
                    f"{dtype.simpleString()}")
            return _agg(seg, col)
        col, dtype = _step(col, dtype, seg)
    return col
