"""Additive schema evolution (north_rule).

The reference gets schema evolution "for free" by being schemaless
(``map[string]interface{}``, reference mongoreplay/message.go:11). Our
contract: events may carry a *superset* of the table's payload columns;
new columns are added as nullable, missing ones fill null, and
same-name numeric columns widen along Iceberg's safe promotion set
(int family → long, float → double). Any other type change is a
non-additive conflict and raises. ``align_to_schema`` reconciles a
DataFrame with a target schema in pure Column expressions (null-pad +
cast + reorder), zero-cost under Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T


# Safe numeric promotions (≙ Iceberg's allowed type promotions:
# int → long, float → double). Widening is order-insensitive — an old
# reader/batch on the narrow side promotes the column, never the data.
_INT_RANK = [T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType()]
_FLOAT_RANK = [T.FloatType(), T.DoubleType()]


def _promote(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """Widened common type of a and b, or None if not safely widenable."""
    for rank in (_INT_RANK, _FLOAT_RANK):
        if a in rank and b in rank:
            return rank[max(rank.index(a), rank.index(b))]
    return None


def union_schema(base: T.StructType, incoming: T.StructType) -> T.StructType:
    """base + (incoming - base); same-name columns widen along the safe
    numeric lattice (int→long, float→double — the Iceberg promotion
    set). Any other type change is non-additive and raises."""
    by_name = {f.name: f for f in base.fields}
    out = list(base.fields)
    for f in incoming.fields:
        if f.name in by_name:
            cur = by_name[f.name]
            if cur.dataType != f.dataType:
                widened = _promote(cur.dataType, f.dataType)
                if widened is None:
                    raise TypeError(
                        f"non-additive schema change on {f.name!r}: "
                        f"{cur.dataType} → {f.dataType}"
                    )
                out[out.index(cur)] = T.StructField(
                    cur.name, widened, nullable=cur.nullable
                )
        else:
            out.append(T.StructField(f.name, f.dataType, nullable=True))
    return T.StructType(out)


def align_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Null-pad missing columns, cast, and order columns per schema."""
    have = {f.name: f for f in df.schema.fields}
    cols = []
    for f in schema.fields:
        if f.name in have:
            c = F.col(f.name)
            if have[f.name].dataType != f.dataType:
                c = c.cast(f.dataType)
            cols.append(c.alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
