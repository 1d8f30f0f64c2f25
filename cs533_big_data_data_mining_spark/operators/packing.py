"""Sequence-packing planner for LLM pretraining shards.

Training consumes fixed-length token sequences; the standard recipe
concatenates documents in a canonical order and chunks the stream
every ``seq_len`` tokens (document boundaries may fall mid-sequence).
This operator computes, per document, its **global token offset** and
the first/last sequence bin it lands in — the shard-planning metadata
a 100 TB tokenize-and-pack job needs before writing a single shard.

The core is a distributed prefix sum (the reference's
Allgather+prefix-sum shape, SURVEY §2 op 12) with a determinism
constraint Spark's own range partitioner cannot give: the
per-bucket totals job and the per-row numbering job must see THE SAME
row->bucket assignment. ``repartitionByRange`` re-samples per query
execution, so two jobs over it can disagree (measured at 3M rows:
identical totals, different per-partition splits — silently wrong
offsets). Instead the bucket id is **computed from the data**:
equi-depth range bounds from one Greenwald-Khanna pass are embedded
as literals, every job derives ``_pid`` by comparing the id against
those constants, and no job depends on physical partition identity.
Per-bucket running sums use a window keyed on ``_pid`` (parallel
across buckets — NO single-partition window); bucket totals
prefix-sum on the driver (#buckets rows) and broadcast back.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cs533_big_data_data_mining_spark.functions.text import subword_count
from cs533_big_data_data_mining_spark.session import local_df

#: Bounds used by the most recent :func:`pack_sequences` call — post-mortem
#: breadcrumb for cross-environment divergence hunts (the one external,
#: sketch-derived input; the RESULT is provably invariant to it, see
#: ``validate=True`` and ``tests/test_properties.py``).
LAST_BOUNDS: list | None = None


class PackingInvariantError(AssertionError):
    """Raised by ``pack_sequences(validate=True)`` when the computed
    offsets violate the prefix-sum invariants — a divergence that would
    otherwise ship silently corrupted shard offsets."""


def _range_bucket_expr(col: str, bounds: list) -> Column:
    """0-based equi-depth bucket of ``col`` given sorted distinct
    bound literals: ``sum(col > bound_j)`` — O(#buckets) codegen'd
    comparisons, a pure function of the VALUE (deterministic across
    jobs, unlike physical partition ids)."""
    pid = F.lit(0)
    for b in bounds:
        pid = pid + (F.col(col) > F.lit(b)).cast("int")
    return pid


def pack_sequences(
    df: DataFrame,
    id_col: str,
    seq_len: int,
    count_expr: Column | None = None,
    n_buckets: int | None = None,
    bounds: list | None = None,
    validate: bool = False,
    sep_tokens: int = 0,
) -> DataFrame:
    """``(id, n_tokens, start_offset, bin_start, bin_end)`` per doc:
    ``start_offset`` = total tokens of all ids before it (id order),
    ``bin_*`` = first/last ``seq_len``-sized sequence the doc touches
    (empty docs occupy zero bins; both fields point at the bin their
    offset falls in). ``id_col`` must be numeric (bucket bounds come
    from a quantile sketch) and UNIQUE — with duplicate ids the
    ordering among ties is ambiguous and offsets of the tied rows are
    not well-defined (``validate=True`` catches this).

    ``count_expr`` defaults to the BPE-ish ``subword_count`` over a
    ``text`` column; pass an expression for pre-tokenized inputs.

    ``sep_tokens`` adds that many separator tokens to EVERY document's
    count — the standard packed-stream convention appends a document
    separator (e.g. the ``<|doc|>``/``<|endoftext|>`` id from
    ``bpe_special_ids``) after each document, and offsets that ignore
    it misplace every downstream document by the cumulative separator
    count. With ``sep_tokens=k``, ``n_tokens`` is the doc's emitted
    length INCLUDING its trailing separators, ``start_offset`` is
    where the doc's first real token lands, and the prefix-sum
    invariants hold over the separator-inclusive stream.

    ``bounds`` overrides the sketch-derived bucket bounds (any sorted
    or unsorted list — they are literals, the result is invariant to
    them; exposed for adversarial property tests). ``validate=True``
    eagerly re-derives the offsets' defining invariants from the
    OUTPUT with one tiny extra aggregate per bucket and raises
    :class:`PackingInvariantError` on any divergence instead of
    letting corrupted shard offsets ship:

    * ids are unique;
    * ``min(start_offset) == 0``;
    * per id-range bucket ``k`` (recomputed from the same literal
      bounds): ``min(start_offset)`` equals the running sum of all
      earlier buckets' token totals, and
      ``max(start_offset + n_tokens)`` equals that running sum plus
      the bucket's own total (the last row of every bucket lands
      exactly at the bucket boundary — true for ALL rows since
      ``start + n <= bucket_end`` with equality at the final row).
    """
    global LAST_BOUNDS
    cnt = count_expr if count_expr is not None else subword_count("text")
    if int(sep_tokens) < 0:
        raise ValueError("sep_tokens must be >= 0")
    base = df.select(
        F.col(id_col).alias("id"),
        (F.coalesce(cnt.cast("long"), F.lit(0)) + F.lit(int(sep_tokens))).alias("n_tokens"),
    )
    nb = n_buckets or df.sparkSession.sparkContext.defaultParallelism
    # ONE quantile pass -> bounds as literals. Both downstream jobs
    # (totals, numbering) recompute the bucket from the value against
    # these constants — structurally immune to re-sampled exchanges.
    if bounds is None:
        qs = [i / nb for i in range(1, nb)]
        bounds = sorted(set(base.stat.approxQuantile("id", qs, 0.001))) if nb > 1 else []
    else:
        bounds = sorted(set(bounds))
    LAST_BOUNDS = list(bounds)
    withpid = base.withColumn("_pid", _range_bucket_expr("id", bounds))

    totals = {
        int(r["_pid"]): int(r["s"])
        for r in withpid.groupBy("_pid")
        .agg(F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("s"))
        .collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid]
    off = F.broadcast(
        local_df(withpid.sparkSession, offsets or [(0, 0)], "_pid int, _off long")
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    start = (local_before + F.col("_off")).alias("start_offset")
    out = withpid.join(off, "_pid").select("id", "n_tokens", start)
    if validate:
        _validate_offsets(out, bounds, dict(offsets), totals)
    # integer division: exact at any offset magnitude (a double-based
    # floor(x/len) loses ulps past 2^53 total tokens)
    sl = int(seq_len)
    return out.select(
        "id",
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset div {sl}").alias("bin_start"),
        F.expr(f"(start_offset + greatest(n_tokens - 1, 0L)) div {sl}").alias("bin_end"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int,
    stride: int | None = None,
) -> DataFrame:
    """``(id, chunk_idx, n_tokens, chunk)`` — overlapping token-window
    chunks per document, the embedding/RAG preprocessing twin of
    ``pack_sequences``. Window ``i`` covers tokens
    ``[i*stride, i*stride + chunk_tokens)``; the last window may be
    shorter; ``stride`` defaults to ``chunk_tokens`` (no overlap).
    Documents with null or empty text produce no chunks.

    Pure Column expression (tokenize -> slice -> posexplode): zero
    shuffle, zero Python — chunking composes into the scan stage at
    any scale. Chunk count uses integer math
    (``(n - chunk + stride - 1) div stride + 1``) so the boundary is
    bit-identical on every engine.
    """
    from cs533_big_data_data_mining_spark.functions.text import let, tokenize

    ck, sd = int(chunk_tokens), int(stride or chunk_tokens)
    if ck <= 0 or sd <= 0:
        raise ValueError("chunk_tokens and stride must be positive")

    def chunk_windows(toks):
        n = F.size(toks)
        # k = #chunks - 1; -1 = none. The
        # coverage bound ceil((n-ck)/sd) alone can start a window AT/past
        # the end when stride > chunk (an empty junk chunk) — cap it at
        # floor((n-1)/sd), the last non-empty start.
        k = F.when(
            n > 0,
            F.least(
                ((F.greatest(n - F.lit(ck), F.lit(0)) + F.lit(sd - 1)) / F.lit(sd)).cast("int"),
                ((n - F.lit(1)) / F.lit(sd)).cast("int"),
            ),
        ).otherwise(F.lit(-1)).cast("int")
        # the lambda reads the tokens through its argument (see let)
        return F.when(
            k >= 0,
            F.transform(
                F.array_repeat(toks, k + F.lit(1)),
                lambda w, i: F.slice(w, i * F.lit(sd) + F.lit(1), F.lit(ck)),
            ),
        ).otherwise(F.array().cast("array<array<string>>"))

    windows = let(tokenize(text_col), chunk_windows)
    return (
        df.select(F.col(id_col).alias("id"), windows.alias("__w"))
        .select("id", F.posexplode("__w").alias("chunk_idx", "__t"))
        .select(
            "id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.size("__t").cast("long").alias("n_tokens"),
            F.array_join("__t", " ").alias("chunk"),
        )
    )


def _validate_offsets(
    out: DataFrame, bounds: list, expected_off: dict[int, int], totals: dict[int, int]
) -> None:
    """Assert-don't-trust re-derivation of the prefix-sum invariants
    from the OUTPUT frame (one combinable groupBy over #buckets keys;
    bucket ids recomputed from the same literal bounds, so a job that
    somehow saw a different row->bucket mapping cannot agree with the
    expected chaining by accident)."""
    checked = (
        out.withColumn("_vpid", _range_bucket_expr("id", bounds))
        .groupBy("_vpid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("id").alias("n_ids"),
            F.min("start_offset").alias("lo"),
            F.max(F.col("start_offset") + F.col("n_tokens")).alias("hi"),
            F.sum("n_tokens").alias("s"),
        )
        .collect()
    )
    problems = []
    for r in checked:
        pid = int(r["_vpid"])
        if r["n"] != r["n_ids"]:
            problems.append(f"bucket {pid}: duplicate ids ({r['n']} rows, {r['n_ids']} ids)")
        exp_lo = expected_off.get(pid)
        exp_hi = None if exp_lo is None else exp_lo + totals.get(pid, 0)
        if exp_lo is None:
            problems.append(f"bucket {pid}: present in output, absent from totals job")
        else:
            if int(r["lo"]) != exp_lo:
                problems.append(f"bucket {pid}: min offset {r['lo']} != expected {exp_lo}")
            if int(r["hi"]) != exp_hi:
                problems.append(f"bucket {pid}: max(start+n) {r['hi']} != expected {exp_hi}")
            if int(r["s"]) != totals[pid]:
                problems.append(f"bucket {pid}: token sum {r['s']} != totals-job {totals[pid]}")
    if checked and min(int(r["lo"]) for r in checked) != 0:
        problems.append("global min(start_offset) != 0")
    if problems:
        raise PackingInvariantError(
            "pack_sequences offset invariants violated (bounds="
            + repr(bounds)
            + "): "
            + "; ".join(problems)
        )


def shard_rows(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    seed: int = 0,
) -> DataFrame:
    """Deterministic training-shard assignment + within-shard shuffle
    order: every row gains ``(shard, sort_key)`` from the cross-engine
    uniform hash of ``(seed, id)`` — the "global shuffle" a training
    run needs WITHOUT a global sort: u is iid-uniform per row, so
    ``shard = floor(u * n_shards)`` is a balanced random partition and
    ordering by ``sort_key = u`` within a shard is a uniform random
    permutation, reproducible across runs, engines, and partitionings
    (no RNG; re-sharding with a new seed is a fresh permutation).

    Scale shape: pure Column — composes into any scan, zero shuffle
    here; :func:`write_training_shards` adds the ONE shuffle
    (repartition on shard) plus in-partition sorts, which is the
    minimum any shuffled-shard layout costs. Rows with NULL id get a
    NULL shard (filter or fix upstream — a silent default bucket
    would hide key corruption).
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    from cs533_big_data_data_mining_spark.operators.quality import _uniform_unit_seeded

    # the seed enters as a per-seed scatter MULTIPLIER, not a string
    # fold: poly31 is affine in a folded prefix, so two string-folded
    # seeds give u-streams that differ by a CONSTANT (mod 1) — i.e.
    # the same permutation rotated, which both breaks the fresh-
    # permutation contract and skews any consumer that selects by one
    # seed and buckets by another. One definition in quality.py.
    u = _uniform_unit_seeded(id_col, seed)
    shard = F.floor(u * F.lit(int(n_shards))).cast("int")
    return df.withColumn("shard", shard).withColumn("sort_key", u)


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int,
    seed: int = 0,
    mode: str = "error",
    files_per_shard: int = 1,
    manifest: bool = False,
) -> None:
    """Materialize the final training layout: rows shuffled into
    ``n_shards`` deterministic shards (:func:`shard_rows`), one
    directory per shard (``shard=K/``), rows within a shard in their
    shuffle order. ONE shuffle (repartition on the shard — or
    shard+subfile — id) + an in-partition sort; no global sort, no
    driver involvement. Re-running with the same seed writes
    byte-identical shard contents; note the re-run must pass
    ``mode="overwrite"`` — the default ``mode="error"`` refuses to
    touch an existing path, so determinism is something you verify
    against a fresh path or an explicit overwrite, never by silent
    appends.

    ``files_per_shard=1`` (default): each shard is written by exactly
    one task, so the shard's single-file order IS the global order
    for that shard. That serializes a shard's full volume through one
    writer — fine when users size ``n_shards`` so a shard is a few GB
    (at 100 TB: n_shards >= ~25k, or raise ``files_per_shard``).

    ``files_per_shard=F > 1``: each shard splits into F deterministic
    sub-files (``shard=K/subfile=J/``) by the secondary bucket
    ``subfile = floor((sort_key * n_shards - shard) * F)`` — the
    within-shard residual of sort_key, itself iid-uniform, so
    sub-files are balanced; and because the bucket is a MONOTONE
    function of sort_key within a shard, sub-file ranges are
    contiguous — reading
    ``subfile`` dirs in index order concatenates to exactly the same
    per-shard global order as the single-file layout (equivalently:
    orderBy(sort_key, id) is identical either way). Per-task write
    volume drops F-fold while re-runs stay byte-identical (each
    (shard, subfile) bucket is still written by one task in one
    deterministic order).

    ``manifest=True`` additionally writes ``_MANIFEST.json`` inside
    ``path`` after the data commit: the layout config (n_shards,
    files_per_shard, seed, id column, total rows) plus per-shard row
    counts — what a training loader needs to size epochs and validate
    a download WITHOUT scanning the data. The counts come from one
    #shards-row aggregate over the written files (read-after-write,
    so the manifest describes what is actually on disk).

    """
    if int(files_per_shard) < 1:
        raise ValueError("files_per_shard must be >= 1")
    fps = int(files_per_shard)
    out = shard_rows(df, id_col, n_shards, seed)
    # id_col breaks sort_key TIES deterministically: the hash maps
    # into [0, 2^31), so a large corpus WILL collide (~23k pairs
    # per 10M rows) and without the tiebreak colliding rows would
    # keep their nondeterministic shuffle arrival order — breaking
    # the byte-identical re-run contract
    if fps == 1:
        (
            out.repartition(int(n_shards), "shard")
            .sortWithinPartitions("shard", "sort_key", id_col)
            .write.mode(mode)
            .partitionBy("shard")
            .parquet(path)
        )
    else:
        # within shard K, sort_key is confined to [K/n, (K+1)/n) — the
        # bucket must use the within-shard RESIDUAL (itself uniform on
        # [0,1) and monotone in sort_key inside a shard), not sort_key
        # raw, or every row of a shard lands in subfile 0
        frac = F.col("sort_key") * F.lit(int(n_shards)) - F.col("shard")
        sub = F.least(F.floor(frac * F.lit(fps)), F.lit(fps - 1)).cast("int")
        (
            out.withColumn("subfile", sub)
            .repartition(int(n_shards) * fps, "shard", "subfile")
            .sortWithinPartitions("shard", "subfile", "sort_key", id_col)
            .write.mode(mode)
            .partitionBy("shard", "subfile")
            .parquet(path)
        )
    if manifest:
        _write_manifest(df.sparkSession, path, id_col, int(n_shards), int(seed), fps)


def _write_manifest(spark, path: str, id_col: str, n_shards: int, seed: int, fps: int) -> None:
    """Read-after-write ``_MANIFEST.json``: layout config + per-shard
    row counts from one #shards-row aggregate over the written files.
    Written through the Hadoop FileSystem API so URI paths (file:/,
    hdfs://, s3a://) land next to the data, not on the driver's local
    disk. An all-rows-filtered write leaves no parquet files; the
    manifest then records zero rows instead of crashing the job after
    the data commit."""
    import json

    from pyspark.errors import AnalysisException

    try:
        counts = {
            int(r["shard"]): int(r["n"])
            for r in spark.read.parquet(path)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    except AnalysisException:  # empty write: only _SUCCESS exists, no
        # parquet files to infer a schema from. ONLY that case may
        # fall back to zero counts — a transient FS/permission error
        # must crash here rather than commit a manifest asserting
        # total_rows=0 over data that was in fact written.
        counts = {}
    # enumerate the UNION of configured and on-disk shard keys: under
    # mode='append' over a prior wider layout, on-disk shards past
    # n_shards must still appear or sum(rows_per_shard) != total_rows
    keys = sorted(set(range(n_shards)) | set(counts))
    doc = {
        "format": "cs533_training_shards_v1",
        "id_col": id_col,
        "n_shards": n_shards,
        "files_per_shard": fps,
        "seed": seed,
        "total_rows": sum(counts.values()),
        "rows_per_shard": {str(k): counts.get(k, 0) for k in keys},
    }
    payload = json.dumps(doc, indent=1, sort_keys=True).encode()
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/_MANIFEST.json")
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(payload))
    finally:
        out.close()
