"""netCDF-3 (classic) sink/source for labeled point frames.

The reference writes its clustering output as a real netCDF file with
one ``position_col_X{j}`` float variable per coordinate plus an int
``cluster_id`` variable over a single ``num_particles`` dimension
(``dbscan.cpp:510-632``, dim defined at ``dbscan.cpp:520-545``).  The container has no netCDF library, so this
module implements the classic file format directly from its public
specification (NetCDF User's Guide, Appendix B: "File Format
Specification") in pure NumPy: magic ``CDF\\x01``, big-endian header
(dim list / empty attribute lists / var list with per-var begin
offsets), then each non-record variable's data stored contiguously and
padded to a 4-byte boundary.

Scale design: a 100 TB result is never one ``.nc`` file.  The
distributed sink writes one self-contained classic file per Spark
partition (``part-NNNNN.nc``) into a directory — the same many-part
layout every Spark sink uses — via ``mapInPandas`` on the executors, so
no row passes through the driver.  ``single_file=True`` reproduces the
reference's exact one-file artifact for replay at small scale, gated by
a driver row cap.  Files are written with plain ``open()``: the sink
targets POSIX paths (local disk / NFS / fuse mounts), which is how
netCDF outputs are consumed in practice.
"""
from __future__ import annotations

import os
import struct
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

NC_DIMENSION = 0x0A
NC_VARIABLE = 0x0B
NC_ATTRIBUTE = 0x0C

# nc_type -> (numpy big-endian dtype, size in bytes)
_NC_TYPES = {
    1: (">i1", 1),  # NC_BYTE
    2: ("S1", 1),  # NC_CHAR
    3: (">i2", 2),  # NC_SHORT
    4: (">i4", 4),  # NC_INT
    5: (">f4", 4),  # NC_FLOAT
    6: (">f8", 8),  # NC_DOUBLE
}
_KIND_TO_NC = {("f", 4): 5, ("f", 8): 6, ("i", 4): 4, ("i", 2): 3, ("i", 1): 1}


def _pad4(n: int) -> int:
    return (n + 3) & ~3


def _commit_bytes(buf: bytes, path: str) -> None:
    """Write-then-rename commit: a reader never observes a torn file,
    and a failed/respeculated task leaves only a ``.tmp`` orphan
    instead of a half-written ``.nc`` (the same publish protocol as
    Spark's file output committers)."""
    tmp = f"{path}.tmp-{os.getpid()}-{id(buf) & 0xFFFF:x}"
    with open(tmp, "wb") as f:
        f.write(buf)
    os.replace(tmp, path)


def _name_bytes(name: str) -> bytes:
    raw = name.encode("utf-8")
    return struct.pack(">i", len(raw)) + raw + b"\x00" * (_pad4(len(raw)) - len(raw))


def netcdf3_encode(
    columns: list[tuple[str, np.ndarray]],
    dim_name: str = "num_particles",
    force_wide: bool = False,
) -> bytes:
    """Serialize equal-length 1-D arrays as one classic netCDF file.

    Default dim name matches the reference's output exactly
    (``num_particles``, ``dbscan.cpp:520-545``). Files whose variable
    data would push a begin offset past the CDF-1 signed-32-bit limit
    are written as CDF-2 (magic ``CDF\\x02``, 64-bit begin offsets) —
    the spec's own large-file escape hatch; a single variable larger
    than the 32-bit vsize field is an error."""
    if not columns:
        raise ValueError("netcdf3_encode: need at least one variable")
    n = len(columns[0][1])
    specs = []  # (name, nc_type, data_be_bytes, vsize)
    for name, arr in columns:
        arr = np.ascontiguousarray(arr)
        if arr.ndim != 1 or len(arr) != n:
            raise ValueError(f"variable {name}: all variables must be 1-D of length {n}")
        nc_type = _KIND_TO_NC.get((arr.dtype.kind, arr.dtype.itemsize))
        if nc_type is None:
            raise ValueError(f"variable {name}: unsupported dtype {arr.dtype}")
        raw = arr.astype(_NC_TYPES[nc_type][0]).tobytes()
        vsize = _pad4(len(raw))
        if vsize > 2**31 - 1:
            raise ValueError(
                f"variable {name}: {vsize} bytes overflows the classic format's "
                "32-bit vsize field — split the frame across more partitions"
            )
        specs.append((name, nc_type, raw, vsize))

    def header(begins: list[int], wide: bool) -> bytes:
        h = [b"CDF\x02" if wide else b"CDF\x01", struct.pack(">i", 0)]  # magic, numrecs
        h.append(struct.pack(">ii", NC_DIMENSION, 1))
        h.append(_name_bytes(dim_name) + struct.pack(">i", n))
        h.append(struct.pack(">ii", 0, 0))  # ABSENT global atts
        h.append(struct.pack(">ii", NC_VARIABLE, len(specs)))
        for (name, nc_type, _raw, vsize), begin in zip(specs, begins):
            h.append(_name_bytes(name))
            h.append(struct.pack(">ii", 1, 0))  # ndims=1, dimid=0
            h.append(struct.pack(">ii", 0, 0))  # ABSENT var atts
            h.append(struct.pack(">ii", nc_type, vsize))
            h.append(struct.pack(">q" if wide else ">i", begin))
        return b"".join(h)

    for wide in ((True,) if force_wide else (False, True)):
        hlen = len(header([0] * len(specs), wide))  # begin values don't change header size
        begins, off = [], hlen
        for _name, _t, _raw, vsize in specs:
            begins.append(off)
            off += vsize
        if not wide and begins and begins[-1] > 2**31 - 1:
            continue  # CDF-1 begin offset overflow -> retry as CDF-2
        out = [header(begins, wide)]
        for _name, _t, raw, vsize in specs:
            out.append(raw + b"\x00" * (vsize - len(raw)))
        return b"".join(out)
    raise AssertionError("unreachable")


def netcdf3_decode(buf: bytes) -> dict[str, np.ndarray]:
    """Parse a classic netCDF-3 file (non-record variables) -> name -> array."""
    if buf[:3] != b"CDF" or buf[3] not in (1, 2):
        raise ValueError("not a classic netCDF file")
    wide = buf[3] == 2  # CDF-2: 64-bit begin offsets
    pos = 4

    def i4() -> int:
        nonlocal pos
        (v,) = struct.unpack_from(">i", buf, pos)
        pos += 4
        return v

    def name() -> str:
        nonlocal pos
        ln = i4()
        s = buf[pos : pos + ln].decode("utf-8")
        pos += _pad4(ln)
        return s

    def skip_atts() -> None:
        nonlocal pos
        tag, natts = i4(), i4()
        if tag == 0:
            return
        for _ in range(natts):
            name()
            nc_type, nelems = i4(), i4()
            pos += _pad4(nelems * _NC_TYPES[nc_type][1])

    numrecs = i4()
    if numrecs != 0:
        # record variables interleave along the unlimited dimension;
        # the fixed-variable reader below would silently mis-slice them
        raise ValueError(
            f"netcdf3_decode: file has {numrecs} records along an unlimited "
            "dimension — only fixed-dimension classic files are supported"
        )
    tag, ndims = i4(), i4()
    dims = []
    if tag == NC_DIMENSION:
        for _ in range(ndims):
            dims.append((name(), i4()))
    skip_atts()
    tag, nvars = i4(), i4()
    out: dict[str, np.ndarray] = {}
    if tag != NC_VARIABLE:
        return out
    for _ in range(nvars):
        vname = name()
        nd = i4()
        shape = [dims[i4()][1] for i in range(nd)]
        skip_atts()
        nc_type = i4()
        i4()  # vsize
        if wide:
            (begin,) = struct.unpack_from(">q", buf, pos)
            pos += 8
        else:
            begin = i4()
        dt, isz = _NC_TYPES[nc_type]
        count = int(np.prod(shape)) if shape else 1
        out[vname] = np.frombuffer(buf, dtype=dt, count=count, offset=begin).reshape(shape)
    return out


def write_clusters_netcdf(
    df: DataFrame,
    path: str,
    single_file: bool = False,
    driver_row_cap: int = 5_000_000,
) -> list[str]:
    """netCDF sink for the canonical labeled frame ``(id, xs, cluster_id)``.

    Reference parity: ``dbscan.cpp:546-569`` writes ``position_col_X{j}``
    (float) + ``cluster_id`` (int) over the ``num_particles`` dimension
    (``dbscan.cpp:540``; ``netcdf3_encode``'s default).  Distributed mode
    writes ``part-NNNNN.nc`` per partition (rows never touch the driver);
    ``single_file=True`` writes the reference's exact one-file shape,
    refusing above ``driver_row_cap``.  Returns the written file paths.
    """
    flat = df.select("xs", F.col("cluster_id").cast("int").alias("cluster_id"))

    if single_file:
        total = flat.count()
        if total > driver_row_cap:
            raise ValueError(
                f"single_file netCDF write of {total} rows exceeds driver_row_cap="
                f"{driver_row_cap}; use the partitioned sink (single_file=False)"
            )
        if total == 0:
            raise ValueError(
                "single_file netCDF write of an empty frame: a classic file needs one "
                "position_col_X{j} variable per coordinate, and no row gives the count"
            )
        _commit_bytes(netcdf3_encode(_netcdf_columns(flat.toArrow())), path)
        return [path]

    os.makedirs(path, exist_ok=True)

    def write_part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        parts = [b for b in batches if b.num_rows]
        if not parts:
            return
        table = pa.Table.from_batches(parts)
        pid = TaskContext.get().partitionId()
        fpath = os.path.join(path, f"part-{pid:05d}.nc")
        _commit_bytes(netcdf3_encode(_netcdf_columns(table)), fpath)
        yield pa.RecordBatch.from_pydict(
            {"path": [fpath], "rows": [table.num_rows]},
            schema=pa.schema([("path", pa.string()), ("rows", pa.int64())]),
        )

    summary = flat.mapInArrow(write_part, schema="path string, rows long")
    return sorted(r["path"] for r in summary.collect())


def _netcdf_columns(table: pa.Table) -> list[tuple[str, np.ndarray]]:
    """``(xs, cluster_id)`` rows -> the reference's variables: one
    float32 ``position_col_X{j}`` per coordinate plus int32
    ``cluster_id``. The coordinate count comes from the Arrow list
    lengths of these rows; rows of unequal length raise."""
    xs = table.column("xs").combine_chunks()
    lengths = pc.list_value_length(xs)
    lo, hi = pc.min_max(lengths).values()
    if lengths.null_count or lo != hi:
        raise ValueError(
            "netCDF sink: every xs must have the same length; got lengths "
            f"{lo.as_py()}..{hi.as_py()} with {lengths.null_count} null rows"
        )
    d = lo.as_py()
    mat = xs.flatten().to_numpy(zero_copy_only=False).reshape(len(xs), d).astype(np.float32)
    cid = table.column("cluster_id").to_numpy().astype(np.int32)
    return [(f"position_col_X{j}", mat[:, j]) for j in range(d)] + [("cluster_id", cid)]


def read_clusters_netcdf(spark: SparkSession, path: str, batch_rows: int = 65536) -> DataFrame:
    """Source twin: ``.nc`` file(s) -> canonical ``(id, xs, cluster_id)``.

    Parses via ``binaryFile`` + ``mapInPandas`` (bytes stay on the
    executors).  Ids are the row index within each file, salted with a
    per-file path ordinal (``ordinal << 40``) exactly like
    ``read_points_bin`` so multi-file loads keep globally unique ids.
    """
    files = spark.read.format("binaryFile").load(path).select("path", "content")
    paths = sorted(r["path"] for r in files.select("path").collect())
    base = {p: i << 40 for i, p in enumerate(paths)}
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("xs", T.ArrayType(T.DoubleType())),
            T.StructField("cluster_id", T.LongType()),
        ]
    )

    def unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath, content in zip(pdf["path"], pdf["content"]):
                vars = netcdf3_decode(bytes(content))
                pos_names = sorted(
                    (k for k in vars if k.startswith("position_col_X")),
                    key=lambda k: int(k[len("position_col_X") :]),
                )
                mat = np.stack([vars[k].astype(np.float64) for k in pos_names], axis=1)
                cid = vars.get("cluster_id")
                cid = (
                    cid.astype(np.int64)
                    if cid is not None
                    else np.zeros(len(mat), dtype=np.int64)
                )
                lo0 = base[fpath]
                for lo in range(0, len(mat), batch_rows):
                    hi = min(lo + batch_rows, len(mat))
                    yield pd.DataFrame(
                        {
                            "id": np.arange(lo0 + lo, lo0 + hi, dtype=np.int64),
                            "xs": list(mat[lo:hi]),
                            "cluster_id": cid[lo:hi],
                        }
                    )

    return files.mapInPandas(unpack, schema=out_schema)
