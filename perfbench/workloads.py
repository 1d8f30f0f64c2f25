"""The benchmark's workloads: inputs, shape guards, oracles, ops and
output checks.

Every input is generated with NumPy from the workload seed before the
Spark session starts. Every op goes through the engine's public
functions only. A workload object holds its generated inputs and its
oracle, computed once per seed.
"""

from __future__ import annotations

import os
import shutil
import struct
from itertools import product

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from grid_oracle import canonical, grid_dbscan

class ShapeError(RuntimeError):
    """A seed produced inputs that do not exercise the workload's layers."""


def gaussian_points(rng, n: int, d: int, k: int, span: float, sigma: float, noise: float) -> np.ndarray:
    """``n`` points in ``[0, span]^d``: ``k`` Gaussian clusters of width
    ``sigma`` around uniform centres, plus a ``noise`` share drawn
    uniformly; rows are shuffled."""
    n_noise = int(round(n * noise))
    centres = rng.uniform(0.0, span, size=(k, d))
    owner = rng.integers(0, k, size=n - n_noise)
    pts = centres[owner] + rng.normal(0.0, sigma, size=(n - n_noise, d))
    pts = np.vstack([pts, rng.uniform(0.0, span, size=(n_noise, d))])
    return pts[rng.permutation(n)]


def _ghost_cell_sizes(x: np.ndarray, spec) -> np.ndarray:
    """Rows per cell after ``cells.ghost_expand`` (home plus eps ghosts),
    recomputed in NumPy with the same clamped cell formula."""
    per_axis = []
    for i, j in enumerate(spec.dims):
        raw = np.floor((x[:, j] - spec.origin[i]) / spec.width[i])
        c = np.clip(raw, 0, spec.ncells[i] - 1).astype(np.int64)
        low = spec.origin[i] + c * spec.width[i]
        lo = (c > 0) & ((x[:, j] - low) <= spec.eps)
        hi = (c < spec.ncells[i] - 1) & ((low + spec.width[i] - x[:, j]) <= spec.eps)
        per_axis.append((c, lo, hi))
    sizes = np.zeros(spec.total_cells, dtype=np.int64)
    for delta in product((-1, 0, 1), repeat=len(spec.dims)):
        keep = np.ones(len(x), dtype=bool)
        cell = np.zeros(len(x), dtype=np.int64)
        for (c, lo, hi), dd, stride in zip(per_axis, delta, spec.strides):
            if dd == -1:
                keep &= lo
            elif dd == 1:
                keep &= hi
            cell += (c + dd) * stride
        np.add.at(sizes, cell[keep], 1)
    return sizes


def _aligned_labels(pos: np.ndarray, labels: np.ndarray) -> np.ndarray:
    """Canonical labels of rows sorted by position (then label)."""
    order = np.lexsort((labels,) + tuple(pos[:, j] for j in range(pos.shape[1] - 1, -1, -1)))
    return canonical(labels[order])


def _materialize(df):
    df = df.cache()
    df.count()
    return df


class Points3dIO:
    """The reference's own flow (``mpi_dbscan -b -i f.bin -o out.nc``):
    ``.bin`` in, DBSCAN, stats, partitioned netCDF out."""

    name = "points3d_io"
    n, d, k, span, sigma, noise = 80_000, 3, 400, 100.0, 0.5, 0.10
    eps, min_pts = 0.4, 10
    block_fallback_rows = 8192  # dbscan()'s default

    def __init__(self, seed: int, work: str):
        rng = np.random.default_rng(seed)
        self.x = gaussian_points(rng, self.n, self.d, self.k, self.span, self.sigma, self.noise).astype(np.float32)
        self.work = work
        self.bin_path = os.path.join(work, "points.bin")
        with open(self.bin_path, "wb") as f:
            f.write(struct.pack("<ii", self.n, self.d))
            f.write(self.x.astype("<f4").tobytes())
        self.writes = 0

    def prepare(self, cores: int) -> dict:
        """Shape guard, then the oracle. The guard demands the grid
        sort-sweep route only: the grid ``dbscan`` builds on ``cores``
        cores has three axes and no cell large enough for the block-pair
        fallback."""
        from cs533_big_data_data_mining_spark.operators.cells import grid_from_stats

        x = self.x.astype(np.float64)
        spec = grid_from_stats(self.n, x.min(axis=0).tolist(), x.max(axis=0).tolist(), self.eps, cores)
        if len(spec.dims) != 3:
            raise ShapeError(f"{self.name}: grid axes {spec.dims}")
        biggest = int(_ghost_cell_sizes(x, spec).max())
        if biggest > self.block_fallback_rows:
            raise ShapeError(f"{self.name}: largest cell {biggest} rows")
        labels = grid_dbscan(x, self.eps, self.min_pts)
        self.want = _aligned_labels(self.x, labels)
        self.want_stats = (self.n, int((labels == 0).sum()), int(labels.max()))
        return {"cells": spec.total_cells, "largest_cell": biggest, "clusters": self.want_stats[2]}

    def _read(self, spark):
        from cs533_big_data_data_mining_spark import read_points_bin

        return read_points_bin(spark, self.bin_path)

    def _write(self, labeled) -> str:
        from cs533_big_data_data_mining_spark.sources.netcdf import write_clusters_netcdf

        self.writes += 1
        out = os.path.join(self.work, f"out-{self.writes}")
        write_clusters_netcdf(labeled, out)
        labeled.unpersist()
        return out

    def run(self, spark):
        from cs533_big_data_data_mining_spark import dbscan, dbscan_stats

        labeled = dbscan(self._read(spark), self.eps, self.min_pts)
        stats = dbscan_stats(labeled).collect()[0]
        return stats, self._write(labeled)

    def run_traced(self, spark, tr):
        """The same op; the read is materialized under its own group so
        its decode is not counted inside ``dbscan``."""
        from cs533_big_data_data_mining_spark import dbscan, dbscan_stats

        pts = tr.call("sources.read", lambda: _materialize(self._read(spark)))
        labeled = tr.dbscan(lambda st: dbscan(pts, self.eps, self.min_pts, stage_times=st))
        stats = tr.call("stats.call", lambda: dbscan_stats(labeled).collect()[0])
        out = tr.call("sources.write", lambda: self._write(labeled))
        pts.unpersist()
        return stats, out

    def check(self, result) -> bool:
        """Read the written netCDF parts back and compare labels."""
        from cs533_big_data_data_mining_spark.sources.netcdf import netcdf3_decode

        stats, out = result
        pos, lab = [], []
        for fn in sorted(os.listdir(out)):
            if fn.endswith(".nc"):
                with open(os.path.join(out, fn), "rb") as f:
                    v = netcdf3_decode(f.read())
                pos.append(np.stack([v[f"position_col_X{j}"] for j in range(self.d)], axis=1))
                lab.append(v["cluster_id"].astype(np.int64))
        shutil.rmtree(out)
        if not pos:
            return False
        pos, lab = np.concatenate(pos), np.concatenate(lab)
        got_stats = tuple(int(stats[c]) for c in ("total_points", "noise_count", "n_clusters"))
        return len(lab) == self.n and got_stats == self.want_stats and np.array_equal(_aligned_labels(pos, lab), self.want)


_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_STOPWORDS = ("the", "a", "of", "and", "to", "is", "in", "it", "on", "for")


def make_documents(rng, n: int) -> pd.DataFrame:
    """Synthetic web text: a Zipf-distributed vocabulary (exponent 1
    over 20k words) with English stopwords, 30-90 words a document.
    One original in seven is low quality (digits and symbols); one
    document in ten is an exact copy and one in ten a near copy (one
    inner word replaced) of an earlier original."""
    vocab = np.array(
        ["".join(rng.choice(_LETTERS, size=int(rng.integers(3, 10)))) for _ in range(20_000)]
    )
    zipf = 1.0 / np.arange(1, len(vocab) + 1)
    zipf /= zipf.sum()
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        r = rng.random()
        if originals and r < 0.20:
            words = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            if r >= 0.10:
                pos = int(rng.integers(1, len(words) - 1))
                words[pos] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
            continue
        m = int(rng.integers(30, 91))
        if len(originals) % 7 == 3:
            words = [str(v) for v in rng.integers(0, 100, size=m)]
            words = [w if j % 3 else "#" + w for j, w in enumerate(words)]
        else:
            words = vocab[rng.choice(len(vocab), size=m, p=zipf)].tolist()
            for j in np.flatnonzero(rng.random(m) < 0.3):
                words[j] = _STOPWORDS[int(rng.integers(0, len(_STOPWORDS)))]
        originals.append(i)
        texts.append(" ".join(words))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


class DocsCurate:
    """Curation pipeline: scoring, exact dedup, shingle join, components."""

    name = "docs_curate"
    n = 1_000

    def __init__(self, seed: int, work: str):
        self.docs = make_documents(np.random.default_rng(seed), self.n)
        self.path = os.path.join(work, "documents.parquet")
        pq.write_table(pa.Table.from_pandas(self.docs, preserve_index=False), self.path)

    def _solve(self) -> tuple[int, int, int, list[int]]:
        """Row counts after scoring, quality filter and exact dedup, and
        the survivor ids, from the DuckDB twin of the pipeline."""
        import duckdb

        from __spark_entry__ import _CURATE_SQL

        cut = _CURATE_SQL.rindex("SELECT u.id")
        # MATERIALIZED only stops DuckDB from re-running the pair join in
        # every step of the recursive closure; the result is unchanged
        ctes = _CURATE_SQL[:cut].replace("jp AS (", "jp AS MATERIALIZED (")
        sql = (
            ctes.rstrip()
            + ",\nsurvivors AS (\n"
            + _CURATE_SQL[cut:]
            + "\n)\nSELECT (SELECT count(*) FROM scored), (SELECT count(*) FROM kept),"
            " (SELECT count(*) FROM uniq), (SELECT list(id ORDER BY id) FROM survivors)"
        )
        con = duckdb.connect()
        try:
            con.register("documents", self.docs)
            (scored, kept, uniq, ids), = con.execute(sql).fetchall()
        finally:
            con.close()
        return scored, kept, uniq, list(ids)

    def prepare(self, cores: int) -> dict:
        """Oracle and shape guard: the quality filter must drop documents,
        and exact and near-duplicate groups must both be non-empty."""
        scored, kept, uniq, self.want = self._solve()
        shape = {"low_quality": scored - kept, "exact_dups": kept - uniq, "near_dups": uniq - len(self.want)}
        if not all(shape.values()):
            raise ShapeError(f"{self.name}: {shape}")
        return {**shape, "survivors": len(self.want)}

    def run(self, spark):
        from cs533_big_data_data_mining_spark import curate_documents
        from __spark_entry__ import CURATE_JACCARD, CURATE_MINQ

        docs = spark.read.parquet(self.path)
        return curate_documents(docs, min_quality=CURATE_MINQ, jaccard_threshold=CURATE_JACCARD)

    def run_traced(self, spark, tr):
        """``curate_documents``'s composition, one public call at a time,
        each materialized under its own job group."""
        from pyspark.sql import functions as F

        from cs533_big_data_data_mining_spark.functions.text import lang_id, quality_score
        from cs533_big_data_data_mining_spark.operators.connected_components import connected_components
        from cs533_big_data_data_mining_spark.operators.dedup import exact_dedup, ngram_jaccard_pairs
        from __spark_entry__ import CURATE_JACCARD, CURATE_MINQ

        docs = spark.read.parquet(self.path)
        scored = docs.select(
            F.col("doc_id").alias("id"),
            "text",
            lang_id("text").alias("lang_guess"),
            quality_score("text").alias("quality"),
        )
        kept = tr.call("text.score", lambda: _materialize(scored.filter(F.col("quality") >= F.lit(CURATE_MINQ))))
        uniq = tr.call("dedup.exact", lambda: _materialize(exact_dedup(kept, "id", "text")))
        caches = [kept, uniq]

        def pairs():
            edges = _materialize(
                ngram_jaccard_pairs(uniq, "id", "text", n=3, threshold=CURATE_JACCARD, caches=caches)
                .select(F.col("a").alias("src"), F.col("b").alias("dst"))
            )
            return edges, edges.count()

        edges, n_edges = tr.call("dedup.jaccard_pairs", pairs)
        caches.append(edges)
        comp = tr.call(
            "connected_components.call",
            lambda: _materialize(connected_components(edges, edge_count_hint=n_edges)),
        )
        caches.append(comp)
        losers = comp.filter(F.col("node") != F.col("component")).select(F.col("node").alias("id"))
        survivors = _materialize(uniq.join(losers, "id", "left_anti").select("id", "lang_guess", "quality"))
        for frame in caches:
            frame.unpersist()
        return survivors

    def check(self, survivors) -> bool:
        got = sorted(r["id"] for r in survivors.select("id").collect())
        survivors.unpersist()
        return got == self.want


WORKLOADS = {w.name: w for w in (Points3dIO, DocsCurate)}
