"""Point-set sources and sinks.

The reference's one input shape is an N x D float32 matrix stored as a
binary file with an ``(int32 N, int32 D)`` header followed by N*D
little-endian float32 values (reference ``clusters.cpp:128-224``,
``README:49-52``, writer spec ``createBinaryFile.py:3-9``). Parquet is
this engine's native format; the ``.bin`` reader exists for
compatibility with the reference's shipped datasets.

Canonical point frame: ``(id BIGINT, xs ARRAY<DOUBLE>)``. The sink
mirrors the reference's netCDF column naming — one column per
coordinate named ``position_col_X{j}`` plus int ``cluster_id``
(reference ``dbscan.cpp:546-569``) — but writes Parquet, whose
partitioned parallel columnar write is the Spark-native equivalent of
the reference's collective ``ncmpi_put_vara_*_all`` (``dbscan.cpp:581-622``).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def as_points(
    df: DataFrame,
    id_col: str | None = None,
    feature_cols: Sequence[str] | None = None,
    array_col: str | None = None,
) -> DataFrame:
    """Normalize any point-shaped DataFrame to ``(id BIGINT, xs ARRAY<DOUBLE>)``.

    Accepts either flat coordinate columns (``x0..x{D-1}`` style) or a
    single array column. With no ``id_col`` a stable id is minted with
    ``monotonically_increasing_id`` (partition-stable, not dense — the
    engine never relies on density).
    """
    if array_col is None and feature_cols is None:
        feature_cols = [c for c, t in df.dtypes if c != id_col and t in ("double", "float", "int", "bigint")]
        if not feature_cols:
            raise ValueError("no numeric feature columns found; pass feature_cols or array_col")
    if array_col is not None:
        xs = F.transform(F.col(array_col), lambda v: v.cast("double"))
    else:
        xs = F.array(*[F.col(c).cast("double") for c in feature_cols])
    id_expr = F.col(id_col).cast("long") if id_col else F.monotonically_increasing_id()
    return df.select(id_expr.alias("id"), xs.alias("xs"))


def read_points_parquet(spark: SparkSession, path: str, **kwargs) -> DataFrame:
    """Native source: Parquet -> canonical point frame (SURVEY §2 op 1)."""
    return as_points(spark.read.parquet(path), **kwargs)


def _bin_header(content: bytes | pa.Buffer) -> tuple[int, int]:
    n, d = struct.unpack("<ii", content[:8])
    if n <= 0 or d <= 0 or len(content) < 8 + 4 * n * d:
        raise ValueError(f"not a valid reference .bin file: header N={n} D={d}, size={len(content)}")
    return n, d


def read_points_bin(spark: SparkSession, path: str, batch_rows: int = 65536) -> DataFrame:
    """Compatibility source for the reference's ``.bin`` format.

    Reads via the ``binaryFile`` DataSource (one row per file, files
    processed in parallel across executors) and unpacks the
    ``(int32 N, int32 D)`` header + N*D float32 payload
    (reference ``clusters.cpp:148-150``) inside ``mapInArrow`` so the
    bytes never pass through the driver; each ``batch_rows`` block
    leaves as one flat float64 buffer with list offsets. Point ids are
    the row index within the file, matching the reference's
    ``start_pos + idx`` global ordering (``dbscan.cpp:950-977``); when
    the path matches several files, each file's ids are salted with its
    path-ordinal (``ordinal << 40``) so ids stay globally unique —
    without this, every downstream id join (labels, flags, borders)
    silently corrupts on multi-file loads.

    Scale note: ``binaryFile`` holds one whole file per row (2 GB
    cap); the production path for big data is a one-time
    ``bin_to_parquet`` conversion — Parquet scans are splittable,
    column-pruned, and predicate-pushed.
    """
    files = spark.read.format("binaryFile").load(path).select("path", "content")
    # per-file id salt: ordinal (by sorted path) << 40 — a metadata-only
    # driver pass; 2^40 rows per file is far above the format's int32 N
    paths = sorted(r["path"] for r in files.select("path").collect())
    base = {p: i << 40 for i, p in enumerate(paths)}
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("xs", T.ArrayType(T.DoubleType())),
        ]
    )

    def unpack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for fpath, content in zip(batch.column("path").to_pylist(), batch.column("content")):
                buf = content.as_buffer()
                n, d = _bin_header(buf)
                lo0 = base[fpath]
                mat = np.frombuffer(buf, dtype="<f4", offset=8, count=n * d).reshape(n, d)
                for lo in range(0, n, batch_rows):
                    hi = min(lo + batch_rows, n)
                    offsets = pa.array(np.arange(0, (hi - lo) * d + 1, d, dtype=np.int32))
                    values = pa.array(mat[lo:hi].astype(np.float64).ravel())
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(np.arange(lo0 + lo, lo0 + hi, dtype=np.int64)),
                            pa.ListArray.from_arrays(offsets, values),
                        ],
                        names=["id", "xs"],
                    )

    pts = files.mapInArrow(unpack, schema=out_schema)
    # one .bin file = one binaryFile row = one partition; downstream
    # per-point work (ghost expansion, cell kernels) needs the rows
    # spread before it runs. At real scale the native path is Parquet
    # (splittable scan), so this shuffle only ever moves small files.
    target = spark.sparkContext.defaultParallelism
    if pts.rdd.getNumPartitions() < target:
        pts = pts.repartition(target)
    return pts


def bin_to_parquet(spark: SparkSession, bin_path: str, parquet_path: str, repartition: int | None = None) -> None:
    """One-time format migration ``.bin`` -> Parquet (SURVEY §2 op 17)."""
    df = read_points_bin(spark, bin_path)
    if repartition:
        df = df.repartition(repartition)
    df.write.mode("overwrite").parquet(parquet_path)


def text_to_parquet(spark: SparkSession, text_path: str, parquet_path: str) -> None:
    """Whitespace text points -> Parquet.

    Replaces the reference's ``createBinaryFile.py`` text->binary
    converter (its ``:3-9`` format: a whitespace token stream — first
    two tokens are ``N D``, then N*D coordinate values, not
    necessarily line-aligned). Parsed per-file inside ``mapInPandas``
    (file-level parallelism); like the reference's converter this is a
    one-time migration utility, not a scan path.
    """
    files = spark.read.format("binaryFile").load(text_path).select("content")
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("xs", T.ArrayType(T.DoubleType())),
        ]
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content in pdf["content"]:
                toks = bytes(content).decode("utf-8").split()
                n, d = int(toks[0]), int(toks[1])
                vals = np.asarray(toks[2 : 2 + n * d], dtype=np.float64).reshape(n, d)
                yield pd.DataFrame({"id": np.arange(n, dtype=np.int64), "xs": list(vals)})

    files.mapInPandas(parse, schema=out_schema).write.mode("overwrite").parquet(parquet_path)


def write_clusters(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Columnar sink (SURVEY §2 op 14).

    Expects the canonical labeled frame ``(id, xs, cluster_id)`` and
    writes one ``position_col_X{j}`` column per coordinate plus
    ``cluster_id`` — the reference's netCDF layout
    (``dbscan.cpp:546-569``) expressed as a parallel Parquet write.
    """
    d = len(df.select("xs").head()["xs"])
    cols = [F.col("xs")[j].cast("float").alias(f"position_col_X{j}") for j in range(d)] + [
        F.col("cluster_id").cast("int").alias("cluster_id")
    ]
    df.select(*cols).write.mode(mode).parquet(path)
