"""Change-event-log (oplog) source: segment discovery + chunked reads.

≙ OplogTailer.FetchFromOplog (reference mongoreplay/tailer.go:52-91):
poll for events past the resume token, capped per poll
(FetchCountThreshold=1000, tailer.go:35). Our log is a directory of
parquet ``segment=K`` dirs (one segment ≙ one poll batch); a *chunk*
groups ``chunk_segments`` consecutive segments into one micro-batch
epoch. Segment numbering is monotone with (ts_t, ts_i, seq), so
"events past the token" is a segment-level prune (whole directories
skipped — the Spark analogue of the server-side ``ts >= token`` index
scan) plus a residual row filter at the boundary.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, types as T

from go_cdc_spark.evolve import union_schema
from go_cdc_spark.operators.resolve import apply_filters, from_token

_SEG_RE = re.compile(r"^segment=(\d+)$")


def list_segments(log_dir: str) -> list[int]:
    if not os.path.isdir(log_dir):
        return []
    out = []
    for name in os.listdir(log_dir):
        m = _SEG_RE.match(name)
        if m and os.path.isdir(os.path.join(log_dir, name)):
            out.append(int(m.group(1)))
    return sorted(out)


@dataclass
class Chunk:
    epoch: int
    segments: list[int]


def plan_chunks(segments: list[int], chunk_segments: int = 1) -> list[Chunk]:
    """Deterministic chunking: epoch = first segment id of the group.
    Deterministic across resume — a re-run plans identical epochs."""
    chunks = []
    for i in range(0, len(segments), max(chunk_segments, 1)):
        group = segments[i : i + chunk_segments]
        chunks.append(Chunk(epoch=group[0], segments=group))
    return chunks


def _footer_schema(dirs: list[str]) -> T.StructType:
    """Union of the parquet footer schemas of the data files in
    ``dirs``, in dir then file-name order: driver-side pyarrow footer
    reads, no Spark job. Skips the files Spark's reader skips (names
    starting with ``_`` or ``.``: ``_SUCCESS``, checksums)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = T.StructType([])
    for d in dirs:
        for name in sorted(os.listdir(d)):
            path = os.path.join(d, name)
            if name.startswith(("_", ".")) or not os.path.isfile(path):
                continue
            schema = union_schema(schema, from_arrow_schema(pq.read_schema(path)))
    return schema


def read_chunk(
    spark: SparkSession,
    log_dir: str,
    chunk: Chunk,
    token: tuple[int, int, int] | None = None,
    filters=(),
    fmt: str = "parquet",
    schema=None,
) -> DataFrame:
    """Read one chunk with its own on-disk schema: segments may have
    evolved columns, and the read schema is the union
    (:func:`~go_cdc_spark.evolve.union_schema`) of the chunk's parquet
    footer schemas, read driver-side by :func:`_footer_schema` — no
    schema-inference Spark job per epoch, unlike ``mergeSchema``.
    Columns a segment lacks read as null.

    ``fmt="json"`` reads JSON-lines segments — the shape a MongoDB
    change-stream export / Debezium-style feed lands in. JSON is not
    self-describing at scale, so an explicit ``schema`` (StructType) is
    REQUIRED: schema inference would be an extra full pass over 100 TB
    and can mistype sparse columns. Token/row filters still apply;
    segment-level pruning (whole directories skipped) carries the
    scalability — JSON has no row-group stats to push into, so the
    residual boundary filter runs post-parse, same as any engine.
    """
    paths = [os.path.join(log_dir, f"segment={k}") for k in chunk.segments]
    if fmt == "parquet":
        df = spark.read.schema(_footer_schema(paths)).parquet(*paths)
    elif fmt == "json":
        if schema is None:
            raise ValueError(
                "fmt='json' requires an explicit schema (no inference at scale)"
            )
        # list, not varargs: reader.json()'s 2nd positional is a schema
        df = spark.read.schema(schema).json(list(paths))
    elif fmt == "csv":
        # CSV feeds (header-less segment exports): same explicit-schema
        # rule as JSON — inference is a second full pass at 100 TB and
        # mistypes sparse columns. Nulls as empty fields.
        if schema is None:
            raise ValueError(
                "fmt='csv' requires an explicit schema (no inference at scale)"
            )
        df = spark.read.schema(schema).option("header", "false").csv(list(paths))
    else:
        raise ValueError(f"unknown oplog format: {fmt!r}")
    if token is not None:
        df = from_token(df, token)
    if filters:
        df = apply_filters(df, filters)
    return df
