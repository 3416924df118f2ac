"""Last-writer-wins conflict resolution — the semantic core.

≙ the reference's implicit ordering contract: the oplog is consumed in
``ts`` order single-threaded per collection, so the last event per key
wins (reference mongoreplay/tailer.go:77-89 ordered fetch +
query_generator.go:78-85 sequential apply). We make that explicit and
distributed: one shuffle, ``groupBy(key).agg(max(struct(order..., op,
payload...)))``. max-over-struct is lexicographic on the struct fields,
and the order tuple (ts_t, ts_i, seq) is unique per event, so the
reduction is deterministic and associative (a semilattice) — which is
exactly what makes the salted two-phase variant and Spark's map-side
partial aggregation correct.

Scale notes (100 TB / 10^10 events):
- Spark's hash aggregate always does a map-side partial pass, so a hot
  key (monorepo) is first reduced to ≤1 row *per input partition*
  before the shuffle — the shuffle carries O(keys × partitions), not
  O(events). Explicit salting (``salt_partitions``) adds a second
  reduce tier for the pathological case where even per-key partials
  skew the reducer (billions of distinct keys hashing into one
  reducer partition is handled by AQE + this salt).
- No Python in this path: pure Column expressions ⇒ whole-stage
  codegen end to end.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from go_cdc_spark import schemas

_WINNER = "_w"


def checked_op(col: Column | str = "op") -> Column:
    """op column that raises JVM-side on op ∉ {i,u,d}.

    ≙ query_generator.go:39-48: routing an unknown op is an error.
    Implemented as the *used* op value (not a side assertion) so
    Catalyst cannot prune the check away.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isin(*schemas.VALID_OPS), c).otherwise(
        F.raise_error(F.concat(F.lit("go_cdc_spark: unknown op: "), F.coalesce(c, F.lit("<null>"))))
    )


def split_bad_records(df: DataFrame, op_col: str = "op") -> tuple[DataFrame, DataFrame]:
    """Dead-letter routing — the production alternative to
    :func:`checked_op`'s fail-fast: rows with a valid op continue, rows
    with an unknown or null op are diverted to a quarantine stream
    instead of poisoning the whole replay (one malformed event in a
    10^10-event feed should not fail the job; ≙ the reference's
    query_generator.go:39-48 error path, upgraded to routing).

    Returns ``(good, bad)``. Both are plain filters over the same
    source — no shuffle; when the source is a parquet scan the
    predicates push down, and null ops land in ``bad`` (never silently
    dropped: good ∪ bad == input, good ∩ bad == ∅)."""
    is_valid = F.col(op_col).isin(*schemas.VALID_OPS)
    # good side: raw isin (null evaluates null ⇒ row dropped, and the
    # bare In() predicate pushes into a parquet scan); bad side needs
    # the null-coalesce so null ops land there instead of vanishing
    return df.filter(is_valid), df.filter(~F.coalesce(is_valid, F.lit(False)))


def lww_resolve(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    payload_cols: Sequence[str],
    salt_partitions: int | None = None,
    validate: bool = True,
    count_col: str | None = None,
) -> DataFrame:
    """Reduce a change-event stream to the last event per key.

    Returns one row per key: key_cols + op + payload_cols, where op is
    the winning event's op ('d' ⇒ the key should be absent downstream).
    ``count_col`` adds a per-key raw-event count column so callers get
    lineage counts from the same single shuffle (no second scan).
    """
    op = checked_op("op") if validate else F.col("op")
    winner = F.max(
        F.struct(
            *[F.col(c) for c in order_cols],
            op.alias("op"),
            *[F.col(c) for c in payload_cols],
        )
    ).alias(_WINNER)

    if salt_partitions and salt_partitions > 1:
        # Two-phase salted reduce for pathological hot keys: phase 1
        # reduces each (key, salt) cell, phase 2 merges cells. Correct
        # because max-struct is associative+commutative (semilattice).
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(salt_partitions))
        aggs = [winner] + ([F.count("*").alias(count_col)] if count_col else [])
        partial = df.groupBy(*key_cols, salt.alias("_salt")).agg(*aggs)
        aggs2 = [F.max(_WINNER).alias(_WINNER)] + (
            [F.sum(count_col).alias(count_col)] if count_col else []
        )
        reduced = partial.groupBy(*key_cols).agg(*aggs2)
    else:
        aggs = [winner] + ([F.count("*").alias(count_col)] if count_col else [])
        reduced = df.groupBy(*key_cols).agg(*aggs)

    w = F.col(_WINNER)
    return reduced.select(
        *key_cols,
        *[w[c].alias(c) for c in order_cols],
        w["op"].alias("op"),
        *[w[c].alias(c) for c in payload_cols],
        *([count_col] if count_col else []),
    )


def apply_filters(df: DataFrame, filters: Sequence[tuple[str, str, object]]) -> DataFrame:
    """Config-driven row filters pushed into the scan.

    ≙ OplogCollection.AddCollectionFilter (collection.go:37-50): the
    reference passes Mongo comparison ops through verbatim; we map the
    same surface onto Column ops. Catalyst pushes these into the
    parquet scan (PushedFilters), matching the reference's server-side
    ``Find(filters)``.
    """
    ops = {
        "=": lambda c, v: c == v,
        "$eq": lambda c, v: c == v,
        "!=": lambda c, v: c != v,
        "$ne": lambda c, v: c != v,
        ">": lambda c, v: c > v,
        "$gt": lambda c, v: c > v,
        ">=": lambda c, v: c >= v,
        "$gte": lambda c, v: c >= v,
        "<": lambda c, v: c < v,
        "$lt": lambda c, v: c < v,
        "<=": lambda c, v: c <= v,
        "$lte": lambda c, v: c <= v,
    }
    for col, op, val in filters:
        if op not in ops:
            raise ValueError(f"unsupported filter op: {op!r}")
        df = df.filter(ops[op](F.col(col), F.lit(val)))
    return df


def from_token(df: DataFrame, token: tuple[int, int, int]) -> DataFrame:
    """Range predicate on log position: events strictly after the token.

    The reference uses ``ts >= token`` (collection.go:57-60) and relies
    on duplicate tolerance; we resume *after* (ts_t, ts_i, seq) —
    exactly-once — but the LWW reduce still dedupes any overlap, so a
    ``>=`` re-read is also safe.
    """
    t, i, s = token
    exact = F.struct(F.col("ts_t"), F.col("ts_i"), F.col("seq")) > F.struct(
        F.lit(t).cast("long"), F.lit(i).cast("long"), F.lit(s).cast("long")
    )
    # Struct comparisons don't push into parquet scans; conjoin the
    # redundant coarse bound `ts_t >= t` (implied by the tuple compare)
    # so Catalyst pushes it down and row groups before the token are
    # skipped via column statistics — the scale lever for resuming deep
    # into a 10^10-event log.
    coarse = F.col("ts_t") >= F.lit(t).cast("long")
    return df.filter(coarse & exact)
