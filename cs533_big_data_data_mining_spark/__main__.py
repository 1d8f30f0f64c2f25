"""CLI driver — the reference's ``mpi_dbscan`` interface on Spark.

Reference usage (``README:39-43``):
    mpiexec -n P ./mpi_dbscan -i file.bin -b -m minPts -e eps [-o out.nc]

Here (no process-count flag — parallelism is the Spark master's job,
and there is no power-of-2 restriction, ``mpi_main.cpp:113-123``):

    python -m cs533_big_data_data_mining_spark \\
        -i clus50k.bin -b -e 25 -m 5 [-o out_parquet] [-p 0.5] [-k 42]

``-p`` (sample fraction) and ``-k`` (seed) exist in the reference's
getopt (``mpi_main.cpp:88-93``) but were never wired to anything;
here they actually sample. Output is the reference's column layout
(``position_col_X{j}`` + ``cluster_id``): a ``-o`` path ending in
``.nc`` writes a real single-file netCDF-3 (the reference's exact
artifact, ``dbscan.cpp:510-632``), anything else writes Parquet.
"""

from __future__ import annotations

import argparse
import sys
import time


def _curate_main(argv: list[str]) -> int:
    """``python -m cs533_big_data_data_mining_spark curate ...`` —
    the corpus-curation pipeline from the shell: quality/lang filter
    -> exact dedup -> near-dup dedup [-> benchmark decontamination],
    survivors written as Parquet with text re-attached."""
    ap = argparse.ArgumentParser(
        prog="cs533_big_data_data_mining_spark curate",
        description="Corpus curation: filter -> dedup -> near-dedup [-> decontaminate]",
    )
    ap.add_argument("-i", "--input", required=True, help="documents parquet (doc_id, text, ...)")
    ap.add_argument("-o", "--output", required=True, help="output parquet for survivors")
    ap.add_argument(
        "--wet",
        action="store_true",
        help="input is WARC/WET crawl files, not parquet: extracted text becomes "
        "the corpus (doc_id = xxhash64(uri, date), source = registered host)",
    )
    ap.add_argument("--min-quality", type=float, default=0.0)
    ap.add_argument("--langs", default=None, help="comma-separated lang_guess allowlist")
    ap.add_argument("--ngram", type=int, default=3, help="shingle size for near-dup Jaccard")
    ap.add_argument("--jaccard", type=float, default=0.8, help="near-dup threshold")
    ap.add_argument("--bench", default=None, help="benchmark parquet to decontaminate against")
    ap.add_argument("--decontam-ngram", type=int, default=5)
    ap.add_argument(
        "--embeddings",
        default=None,
        help="embeddings parquet (vec_id, embedding) — switches to CROSS-MODAL "
        "curation: near-dup graph = lexical Jaccard ∪ embedding cosine edges, "
        "one transitive closure",
    )
    ap.add_argument("--cosine", type=float, default=0.35, help="semantic near-dup threshold")
    ap.add_argument(
        "--max-line-df",
        type=int,
        default=None,
        help="remove lines occurring in more than this many docs (CCNet-style "
        "boilerplate stripping) before scoring/dedup",
    )
    ap.add_argument(
        "--source-fracs",
        default=None,
        help="per-source keep fractions, e.g. 'web=0.5,forums=0.25' "
        "(deterministic source mixing before curation)",
    )
    ap.add_argument(
        "--url-col",
        default=None,
        help="URL column for stage-zero URL-level exact dedup (RefinedWeb "
        "order: re-crawls collapse on the canonical URL before any "
        "content-based stage); for --wet inputs pass 'target_uri'",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from cs533_big_data_data_mining_spark.operators.curate import curate_documents
    from cs533_big_data_data_mining_spark.operators.decontaminate import decontaminate
    from cs533_big_data_data_mining_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="cs533_curate_cli", master=args.master)
    t0 = time.time()
    if args.wet:
        from cs533_big_data_data_mining_spark.sources.warc import warc_text

        wt = warc_text(spark, args.input)
        docs = wt.select(
            F.xxhash64("target_uri", "warc_date").alias("doc_id"),
            "text",
            F.regexp_extract("target_uri", r"^[a-z]+://([^/]+)", 1).alias("source"),
            "target_uri",
        )
        if not args.url_col:
            docs = docs.drop("target_uri")
    else:
        docs = spark.read.parquet(args.input)
    n_in = docs.count()
    if args.url_col:
        if args.url_col not in docs.columns:
            raise SystemExit(
                f"--url-col {args.url_col!r} not in the input (found: {docs.columns})"
            )
        from cs533_big_data_data_mining_spark.operators.dedup import url_dedup

        keep_u = url_dedup(docs, "doc_id", args.url_col).select(
            F.col("id").alias("doc_id")
        )
        docs = docs.join(keep_u, "doc_id", "left_semi")
        if args.wet:
            docs = docs.drop("target_uri")
    if args.source_fracs:
        if "source" not in docs.columns:
            raise SystemExit(
                "--source-fracs requires a 'source' column in the input "
                f"(found: {docs.columns}) — refusing to silently skip mixing"
            )
        from cs533_big_data_data_mining_spark.operators.quality import sample_sources

        fracs = {
            k: float(v)
            for k, v in (pair.split("=", 1) for pair in args.source_fracs.split(","))
        }
        keep = sample_sources(docs, "doc_id", "source", fracs).select(
            F.col("id").alias("doc_id")
        )
        docs = docs.join(keep, "doc_id", "left_semi")
    if args.max_line_df is not None:
        from cs533_big_data_data_mining_spark.operators.quality import (
            remove_boilerplate_lines,
        )

        cleaned = remove_boilerplate_lines(docs, "doc_id", "text", args.max_line_df)
        docs = docs.drop("text").join(
            cleaned.select(F.col("id").alias("doc_id"), F.col("clean").alias("text")),
            "doc_id",
        )
    if args.bench:
        bench = spark.read.parquet(args.bench)
        flags = decontaminate(docs, bench, "doc_id", "text", n=args.decontam_ngram)
        keep_ids = flags.filter("keep").select(F.col("id").alias("doc_id"))
        docs = docs.join(keep_ids, "doc_id", "left_semi")
    langs = tuple(args.langs.split(",")) if args.langs else None
    if args.embeddings:
        from cs533_big_data_data_mining_spark.operators.curate import curate_corpus

        embs = spark.read.parquet(args.embeddings)
        survivors = curate_corpus(
            docs,
            embs,
            min_quality=args.min_quality,
            langs=langs,
            ngram=args.ngram,
            jaccard_threshold=args.jaccard,
            cosine_threshold=args.cosine,
        )
    else:
        survivors = curate_documents(
            docs,
            min_quality=args.min_quality,
            langs=langs,
            ngram=args.ngram,
            jaccard_threshold=args.jaccard,
        )
    out = survivors.withColumnRenamed("id", "doc_id").join(docs, "doc_id")
    out.write.mode("overwrite").parquet(args.output)
    n_out = spark.read.parquet(args.output).count()
    survivors.unpersist()
    print(f"curated {n_in} -> {n_out} documents ({time.time() - t0:.1f}s); wrote {args.output}")
    if not preexisting:
        spark.stop()
    return 0


def _chunk_main(argv: list[str]) -> int:
    """``... chunk -i docs.parquet -o chunks.parquet --chunk-tokens N``
    — overlapping token-window chunking (embedding/RAG prep)."""
    ap = argparse.ArgumentParser(prog="cs533_big_data_data_mining_spark chunk")
    ap.add_argument("-i", "--input", required=True)
    ap.add_argument("-o", "--output", required=True)
    ap.add_argument("--chunk-tokens", type=int, default=512)
    ap.add_argument("--stride", type=int, default=None)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from cs533_big_data_data_mining_spark.operators.packing import chunk_documents
    from cs533_big_data_data_mining_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="cs533_chunk_cli", master=args.master)
    t0 = time.time()
    docs = spark.read.parquet(args.input)
    out = chunk_documents(docs, args.id_col, args.text_col, args.chunk_tokens, args.stride)
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"chunked into {n} windows ({time.time() - t0:.1f}s); wrote {args.output}")
    if not preexisting:
        spark.stop()
    return 0


def _bpe_train_main(argv: list[str]) -> int:
    """``... bpe-train -i docs.parquet -o merges.parquet -n 8000`` —
    learn a byte-level BPE merges table (one combinable histogram
    groupBy + driver merge loop) and persist it as parquet; feed it
    back to ``pack --bpe-merges`` (or the API encoders) so token
    counts bound REAL sequence lengths."""
    ap = argparse.ArgumentParser(prog="cs533_big_data_data_mining_spark bpe-train")
    ap.add_argument("-i", "--input", required=True)
    ap.add_argument("-o", "--output", required=True, help="merges table parquet")
    ap.add_argument("-n", "--merges", type=int, default=8000)
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--max-words", type=int, default=1_000_000)
    ap.add_argument("--min-count", type=int, default=2,
                    help="drop pretokens rarer than this before the top-k "
                         "histogram cut (web-scale default 2: hapax words "
                         "carry no pair mass; pass 1 for exact small-corpus "
                         "training)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from cs533_big_data_data_mining_spark.operators.bpe import bpe_train, merges_table
    from cs533_big_data_data_mining_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="cs533_bpe_train_cli", master=args.master)
    t0 = time.time()
    docs = spark.read.parquet(args.input)
    merges = bpe_train(
        docs, args.text_col, args.merges,
        max_words=args.max_words, min_count=args.min_count,
    )
    merges_table(spark, merges).write.mode("overwrite").parquet(args.output)
    print(
        f"learned {len(merges)} merges (vocab {256 + len(merges)}) "
        f"-> {args.output} ({time.time() - t0:.1f}s)"
    )
    if not preexisting:
        spark.stop()
    return 0


def _bpe_encode_main(argv: list[str]) -> int:
    """``... bpe-encode -i docs.parquet -o tokens.parquet --model
    merges.parquet [--ids]`` — materialize per-doc BPE tokens (or
    integer token ids with ``--ids``) plus the count column; the
    train -> encode -> pack chain's middle step."""
    ap = argparse.ArgumentParser(prog="cs533_big_data_data_mining_spark bpe-encode")
    ap.add_argument("-i", "--input", required=True)
    ap.add_argument("-o", "--output", required=True)
    ap.add_argument("--model", required=True, help="merges table parquet from bpe-train")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--ids", action="store_true", help="emit integer token ids instead of strings")
    ap.add_argument("--audit", type=int, default=0, metavar="N",
                    help="with --ids: decode N sample docs from the written "
                         "shard and diff against the source text (the "
                         "standard packed-shard audit); non-zero mismatches "
                         "exit 1")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from cs533_big_data_data_mining_spark.operators.bpe import (
        bpe_decode,
        bpe_ids,
        bpe_token_count,
        bpe_tokens,
        load_merges,
    )
    from cs533_big_data_data_mining_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="cs533_bpe_encode_cli", master=args.master)
    t0 = time.time()
    merges = load_merges(spark, args.model)
    docs = spark.read.parquet(args.input)
    tok = bpe_ids(merges, args.text_col) if args.ids else bpe_tokens(merges, args.text_col)
    out = docs.select(
        F.col(args.id_col).alias("id"),
        tok.alias("tokens"),
        bpe_token_count(merges, args.text_col).alias("n_tokens"),
    )
    out.write.mode("overwrite").parquet(args.output)
    # empty-input-safe summary: SUM over zero rows is NULL, and a
    # zero-row readback can fail schema inference — coalesce + guard
    try:
        agg = spark.read.parquet(args.output).agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("t"),
        ).head()
        n_docs, n_toks = agg["n"], agg["t"]
    except Exception:  # zero-row parquet with uninferrable schema
        n_docs, n_toks = 0, 0
    print(
        f"encoded {n_docs} docs / {n_toks} tokens with {len(merges)} merges "
        f"-> {args.output} ({time.time() - t0:.1f}s)"
    )
    rc = 0
    if args.audit and args.ids and n_docs:
        # decode-and-diff audit: the detokenizer is an exact inverse,
        # so ANY mismatch means the written shard does not reproduce
        # its source (wrong merges table, column mixup, truncation)
        sample = spark.read.parquet(args.output).limit(int(args.audit))
        back = sample.select("id", bpe_decode(merges, "tokens").alias("back"))
        src = docs.select(F.col(args.id_col).alias("id"),
                          F.coalesce(F.col(args.text_col), F.lit("")).alias("text"))
        bad = back.join(src, "id").filter(F.col("back") != F.col("text")).count()
        n_aud = sample.count()
        print(f"audit: {n_aud - bad}/{n_aud} sample docs decode back to their source")
        if bad:
            rc = 1
    elif args.audit and not args.ids:
        print("audit: skipped (requires --ids)", file=sys.stderr)
    if not preexisting:
        spark.stop()
    return rc


def _pack_main(argv: list[str]) -> int:
    """``... pack -i docs.parquet -o plan.parquet -l 2048`` — the
    sequence-packing shard plan (global token offsets + bins), with
    the runtime offset invariants enforced. ``--bpe-merges`` swaps the
    subword-regex token estimate for the TRAINED tokenizer's counts
    (a ``bpe-train`` artifact), so bins bound real sequence lengths."""
    ap = argparse.ArgumentParser(prog="cs533_big_data_data_mining_spark pack")
    ap.add_argument("-i", "--input", required=True)
    ap.add_argument("-o", "--output", required=True)
    ap.add_argument("-l", "--seq-len", type=int, default=2048)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--bpe-merges", default=None,
                    help="parquet merges table from bpe-train")
    ap.add_argument("--sep-tokens", type=int, default=0,
                    help="separator tokens appended per document (e.g. 1 "
                         "for a <|doc|> id after each doc); offsets and "
                         "bins count them")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from cs533_big_data_data_mining_spark.operators.packing import pack_sequences
    from cs533_big_data_data_mining_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="cs533_pack_cli", master=args.master)
    t0 = time.time()
    docs = spark.read.parquet(args.input)
    if args.bpe_merges:
        from cs533_big_data_data_mining_spark.operators.bpe import (
            bpe_token_count,
            load_merges,
        )

        count_expr = bpe_token_count(load_merges(spark, args.bpe_merges), args.text_col)
    else:
        # honor --text-col on the heuristic route too (count_expr=None
        # would hard-code the 'text' column inside pack_sequences)
        from cs533_big_data_data_mining_spark.functions.text import subword_count

        count_expr = subword_count(args.text_col)
    plan = pack_sequences(
        docs, args.id_col, args.seq_len, count_expr=count_expr,
        validate=True, sep_tokens=args.sep_tokens,
    )
    plan.write.mode("overwrite").parquet(args.output)
    total = spark.read.parquet(args.output).agg(
        {"n_tokens": "sum", "bin_end": "max"}
    ).head()
    max_bin = total["max(bin_end)"]
    n_bins = 0 if max_bin is None else max_bin + 1  # `or` would eat a real bin 0
    print(
        f"packed {total['sum(n_tokens)']} tokens into "
        f"{n_bins} bins of {args.seq_len} "
        f"({time.time() - t0:.1f}s); wrote {args.output}"
    )
    if not preexisting:
        spark.stop()
    return 0


def _score_main(argv: list[str]) -> int:
    """``... score -i docs.parquet -o scores.parquet [--spans-k K]``
    — per-document quality signals in one pass: heuristic quality,
    bigram-LM perplexity, duplicated-token fraction."""
    ap = argparse.ArgumentParser(prog="cs533_big_data_data_mining_spark score")
    ap.add_argument("-i", "--input", required=True)
    ap.add_argument("-o", "--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--spans-k", type=int, default=5, help="k-gram width for duplicated spans")
    ap.add_argument("--ref", default=None, help="reference parquet for the LM (default: input)")
    ap.add_argument(
        "--gopher",
        action="store_true",
        help="also emit the Gopher rule-bundle verdict (gopher_keep) and its "
        "word/symbol metrics (Rae 2021 A1.1 thresholds)",
    )
    ap.add_argument(
        "--repetition",
        action="store_true",
        help="also emit the Gopher repetition-bundle verdict "
        "(repetition_keep) and its dup-line/paragraph + top/dup n-gram "
        "char fractions (Rae 2021 A1.2 thresholds)",
    )
    ap.add_argument(
        "--compression",
        action="store_true",
        help="also emit the zlib compression-ratio signal (n_bytes, "
        "n_compressed, compression_ratio) — the cheap repetition/"
        "boilerplate heuristic; gate downstream with quantile_filter",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from cs533_big_data_data_mining_spark.functions.text import (
        lang_id,
        quality_score,
        token_count,
    )
    from cs533_big_data_data_mining_spark.operators.dedup import span_dup_stats
    from cs533_big_data_data_mining_spark.operators.quality import lm_perplexity
    from cs533_big_data_data_mining_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="cs533_score_cli", master=args.master)
    t0 = time.time()
    docs = spark.read.parquet(args.input)
    ref = spark.read.parquet(args.ref) if args.ref else None
    ppl = lm_perplexity(docs, id_col=args.id_col, text_col=args.text_col, ref=ref)
    spans = span_dup_stats(docs, id_col=args.id_col, text_col=args.text_col, k=args.spans_k)
    out = (
        docs.select(
            F.col(args.id_col).alias("id"),
            quality_score(args.text_col).alias("quality"),
            lang_id(args.text_col).alias("lang_guess"),
            F.greatest(token_count(args.text_col), F.lit(0)).cast("long").alias("n_tokens"),
        )
        .join(ppl.select("id", "avg_logp", "ppl"), "id", "left")
        .join(spans.select("id", "dup_frac"), "id", "left")
    )
    if args.gopher:
        from cs533_big_data_data_mining_spark.operators.quality import gopher_rules

        g = gopher_rules(docs, args.id_col, args.text_col).select(
            "id",
            F.col("keep").alias("gopher_keep"),
            F.col("mean_word_len").alias("gopher_mean_word_len"),
            F.col("hash_ratio").alias("gopher_hash_ratio"),
            F.col("ellipsis_ratio").alias("gopher_ellipsis_ratio"),
            F.col("stopword_hits").alias("gopher_stopword_hits"),
        )
        out = out.join(g, "id", "left")
    if args.repetition:
        from cs533_big_data_data_mining_spark.operators.quality import gopher_repetition

        rep = gopher_repetition(docs, args.id_col, args.text_col)
        rep = rep.select(
            "id",
            F.col("keep").alias("repetition_keep"),
            *[c for c in rep.columns if c not in ("id", "keep")],
        )
        out = out.join(rep, "id", "left")
    if args.compression:
        from cs533_big_data_data_mining_spark.operators.quality import (
            compression_ratio,
        )

        cr = compression_ratio(docs, args.id_col, args.text_col).select(
            "id", "n_bytes", "n_compressed", F.col("ratio").alias("compression_ratio")
        )
        out = out.join(cr, "id", "left")
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    ppl.unpersist()
    print(f"scored {n} documents ({time.time() - t0:.1f}s); wrote {args.output}")
    if not preexisting:
        spark.stop()
    return 0


def _classify_main(argv: list[str]) -> int:
    """``... classify -i docs.parquet -o preds.parquet --train
    labeled.parquet`` — supervised hashed-n-gram Naive Bayes (the
    fastText-style model filter): fit on the labeled frame (or load a
    saved model), predict a label + margin for every input document."""
    ap = argparse.ArgumentParser(prog="cs533_big_data_data_mining_spark classify")
    ap.add_argument("-i", "--input", required=True)
    ap.add_argument("-o", "--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--train", default=None, help="labeled parquet to fit on")
    ap.add_argument("--label-col", default="label", help="label column in --train")
    ap.add_argument("--model", default=None, help="load a saved model frame instead of --train")
    ap.add_argument("--save-model", default=None, help="persist the fitted model frame here")
    ap.add_argument("--buckets", type=int, default=65536, help="hashed feature buckets")
    ap.add_argument("--alpha", type=float, default=1.0, help="add-alpha smoothing")
    ap.add_argument("--max-n", type=int, default=1, help="max word-n-gram order")
    ap.add_argument(
        "--hash",
        default="xxhash64",
        choices=("xxhash64", "poly31"),
        help="gram bucket hash (xxhash64 = the scale route; poly31 = SQL-replayable)",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    if (args.train is None) == (args.model is None):
        ap.error("exactly one of --train / --model is required")

    from pyspark.sql import SparkSession

    from cs533_big_data_data_mining_spark.operators.classify import nb_classify, nb_train
    from cs533_big_data_data_mining_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="cs533_classify_cli", master=args.master)
    t0 = time.time()
    if args.model:
        model = spark.read.parquet(args.model)
    else:
        model = nb_train(
            spark.read.parquet(args.train),
            args.text_col,
            args.label_col,
            n_buckets=args.buckets,
            alpha=args.alpha,
            max_n=args.max_n,
            hash_buckets=args.hash,
        )
    if args.save_model:
        model.write.mode("overwrite").parquet(args.save_model)
        model = spark.read.parquet(args.save_model)  # don't recompute the fit to classify
    out = nb_classify(
        spark.read.parquet(args.input),
        args.id_col,
        args.text_col,
        model,
        n_buckets=args.buckets,
        max_n=args.max_n,
        hash_buckets=args.hash,
    )
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"classified {n} documents ({time.time() - t0:.1f}s); wrote {args.output}")
    if not preexisting:
        spark.stop()
    return 0


def _mix_main(argv: list[str]) -> int:
    """``... mix -i docs.parquet -o mixed.parquet --budget N
    --weights 'a=0.5,b=0.5' [--tokens-col n_chars]`` — epoch-repeat
    source mixing to a token budget; output rows carry
    (id, source, epoch) joined back to the input columns."""
    ap = argparse.ArgumentParser(prog="cs533_big_data_data_mining_spark mix")
    ap.add_argument("-i", "--input", required=True)
    ap.add_argument("-o", "--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--source-col", default="source")
    ap.add_argument(
        "--tokens-col",
        default=None,
        help="per-row token count column; default: BPE-ish subword count of --text-col",
    )
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--budget", type=int, required=True, help="total token budget")
    ap.add_argument(
        "--weights", default=None, help="target mixture, e.g. 'web=0.6,code=0.4' (default uniform)"
    )
    ap.add_argument("--max-epochs", type=int, default=100)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from cs533_big_data_data_mining_spark.operators.quality import mix_to_budget
    from cs533_big_data_data_mining_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="cs533_mix_cli", master=args.master)
    t0 = time.time()
    docs = spark.read.parquet(args.input)
    if args.tokens_col:
        toks_col = args.tokens_col
    else:
        from cs533_big_data_data_mining_spark.functions.text import subword_count

        toks_col = "__n_tok"
        docs = docs.withColumn(
            toks_col, F.greatest(subword_count(args.text_col), F.lit(0)).cast("long")
        )
    weights = (
        {k: float(v) for k, v in (p.split("=", 1) for p in args.weights.split(","))}
        if args.weights
        else None
    )
    mixed = mix_to_budget(
        docs,
        args.id_col,
        args.source_col,
        toks_col,
        args.budget,
        weights,
        max_epochs=args.max_epochs,
    )
    out = mixed.withColumnRenamed("id", args.id_col).drop("source").join(
        docs.drop(toks_col) if not args.tokens_col else docs, args.id_col
    )
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"mixed {docs.count()} docs -> {n} (doc, epoch) rows ({time.time() - t0:.1f}s)")
    if not preexisting:
        spark.stop()
    return 0


def _url_gate_flags(args):
    """Parse the shared --blocked-domains / --url-kw spellings (loudly)
    into ``(blocked_domains, url_kw)`` for a preset."""
    if (args.blocked_domains or args.url_kw) and not args.url_col:
        raise SystemExit("--blocked-domains / --url-kw need --url-col")
    if args.url_kw_max <= 0:
        raise SystemExit(
            "--url-kw-max must be > 0 (keep requires kw_score < max, and every "
            "row scores >= 0 — a non-positive max drops the whole corpus)"
        )
    kw = None
    if args.url_kw:
        try:
            kw = {
                k.strip(): float(v)
                for k, v in (p.split("=", 1) for p in args.url_kw.split(","))
            }
        except ValueError as exc:
            raise SystemExit(
                f"--url-kw wants 'word=weight[,word=weight...]': {exc}"
            ) from exc
    # strip + drop empties: ' evil.example' or a trailing comma
    # would otherwise silently never match any host suffix
    bl = (
        [d.strip() for d in args.blocked_domains.split(",") if d.strip()]
        if args.blocked_domains
        else None
    )
    return bl, kw


def _run_preset(args, app_name, build, extra_cols=()):
    """Shared body of the preset CLIs: read the corpus, run the
    preset's stages (``build(spark)``), write shuffled training shards
    of the input columns plus ``extra_cols``, print per-stage counts."""
    from pyspark.sql import SparkSession

    from cs533_big_data_data_mining_spark.operators.packing import write_training_shards
    from cs533_big_data_data_mining_spark.operators.pipelines import StageRunner
    from cs533_big_data_data_mining_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name=app_name, master=args.master)
    t0 = time.time()
    docs = spark.read.parquet(args.input)
    if args.repartition:
        docs = docs.repartition(args.repartition)
    with StageRunner(spark, args.checkpoint_dir, log=lambda s: print(s, flush=True)) as run:
        out = run.run(docs, build(spark))
        write_training_shards(
            out.select(*docs.columns, *extra_cols), args.output, args.id_col, args.shards,
            seed=args.seed + 1,  # never the DSIR selection seed (multiplier-
            # decorrelated anyway, but distinct by construction is free)
            mode="overwrite", files_per_shard=args.files_per_shard,
        )
        run.log_counts()  # the non-materialized counts, fired by the write
    try:
        n_out = spark.read.parquet(args.output).count()
    except Exception:  # noqa: BLE001 — zero-row write leaves no files to infer from
        n_out = 0
    print(
        f"wrote {n_out} docs into {args.shards} shards "
        f"x {args.files_per_shard} files at {args.output} ({time.time() - t0:.1f}s)"
    )
    if not preexisting:
        spark.stop()
    return 0


def _preset_kwargs(args, preset, **parsed):
    """A preset's keyword arguments: every flag whose dest names one of
    its parameters (the presets take the CLI spellings), then the
    ``parsed`` values (frames, dicts, lists) over the raw strings."""
    import inspect

    params = inspect.signature(preset).parameters
    return {**{k: v for k, v in vars(args).items() if k in params}, **parsed}


def _refinedweb_main(argv: list[str]) -> int:
    """``... refinedweb -i docs.parquet -o outdir`` — the complete
    production-ordered curation pipeline (RefinedWeb stage order:
    Penedo 2023, with the Rae 2021 / Lee 2022 / Xie 2023 stages in
    their published positions) from a raw corpus to shuffled training
    shards on disk: URL dedup -> Gopher rules -> boilerplate removal
    -> perplexity quantile gate -> exact dedup -> MinHash near-dup
    dedup -> duplicated-span removal -> decontamination -> DSIR
    select -> split -> shards. Every stage is optional via its flag;
    per-stage survivor counts print as the pipeline runs. The stage
    order lives in ``operators/pipelines.py``; the
    ``refinedweb_pipeline`` driver row runs the same preset."""
    ap = argparse.ArgumentParser(
        prog="cs533_big_data_data_mining_spark refinedweb",
        description="RefinedWeb-ordered curation: crawl -> training shards",
    )
    ap.add_argument("-i", "--input", required=True, help="documents parquet")
    ap.add_argument("-o", "--output", required=True, help="output shard directory")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--url-col", default=None, help="enable stage-1 URL dedup on this column")
    ap.add_argument(
        "--blocked-domains", default=None,
        help="comma-separated domain blocklist (stage 0, needs --url-col): "
        "a host is dropped if it equals or dot-suffixes a listed domain",
    )
    ap.add_argument(
        "--url-kw", default=None,
        help="URL keyword weights 'casino=0.6,poker=0.6' (stage 0, needs "
        "--url-col): documents whose lowercased URL's summed keyword "
        "weight reaches --url-kw-max are dropped",
    )
    ap.add_argument("--url-kw-max", type=float, default=1.0)
    ap.add_argument("--min-words", type=int, default=50)
    ap.add_argument("--min-stopword-hits", type=int, default=2)
    ap.add_argument("--skip-gopher", action="store_true")
    ap.add_argument(
        "--c4", action="store_true",
        help="apply the C4 cleaning rules (Raffel 2020 §2.2) before the "
        "Gopher stages: lines must end in terminal punctuation, carry >= 3 "
        "words, and not mention javascript; pages with < 5 sentences, "
        "'lorem ipsum', or '{' drop; surviving docs continue with the "
        "line-filtered text",
    )
    ap.add_argument(
        "--repetition", action="store_true",
        help="apply the Gopher REPETITION bundle (Rae 2021 A1.2 — dup "
        "line/paragraph fractions, top 2-4-gram and dup 5-10-gram char "
        "fractions at the published thresholds) right after the A1.1 "
        "quality rules, completing RefinedWeb's 'repetition removal'",
    )
    ap.add_argument(
        "--fineweb", action="store_true",
        help="apply the FineWeb custom filters (Penedo 2024 §3.6 — "
        "line-punctuation fraction <= 0.12, duplicated-line char fraction "
        ">= 0.10, short-line fraction >= 0.67 all remove) after the "
        "repetition stage, the position FineWeb tuned them for",
    )
    ap.add_argument(
        "--max-line-df", type=int, default=None,
        help="boilerplate: drop lines occurring in more than this many docs",
    )
    ap.add_argument(
        "--keep-ppl", type=float, default=1.0,
        help="keep the lowest-perplexity fraction (1.0 = skip the gate)",
    )
    ap.add_argument("--ngram", type=int, default=3, help="near-dup shingle size")
    ap.add_argument(
        "--jaccard", type=float, default=0.8,
        help="MinHash near-dup threshold (0 disables the stage)",
    )
    ap.add_argument(
        "--max-bucket-size", type=int, default=None,
        help="drop LSH band buckets larger than this (boilerplate guard)",
    )
    ap.add_argument(
        "--spans-k", type=int, default=0,
        help="duplicated-span removal k-gram width (0 disables; Lee 2022 uses "
        "a 50-token floor via --min-span-tokens)",
    )
    ap.add_argument("--min-span-tokens", type=int, default=None)
    ap.add_argument("--bench", default=None, help="benchmark parquet to decontaminate against")
    ap.add_argument("--decontam-ngram", type=int, default=5)
    ap.add_argument(
        "--target", default=None,
        help="DSIR target-domain parquet: score every survivor's target-"
        "likeness and Gumbel-resample --select-k docs (Xie 2023)",
    )
    ap.add_argument("--select-k", type=int, default=None)
    ap.add_argument("--dsir-buckets", type=int, default=4096)
    ap.add_argument(
        "--splits", default="train=0.875,val=0.0625,test=0.0625",
        help="deterministic split weights ('' disables)",
    )
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--files-per-shard", type=int, default=1)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument(
        "--checkpoint-dir", default=None,
        help="reliable-checkpoint directory (HDFS/S3 path on a cluster): "
        "stage boundaries switch from localCheckpoint (executor-local "
        "blocks — fast, but an executor loss after the checkpoint kills "
        "the job unrecoverably) to checkpoint() files under this dir, "
        "the production spelling for a multi-hour 100 TB run",
    )
    ap.add_argument(
        "--repartition", type=int, default=None,
        help="repartition the input to this many partitions before the "
        "pipeline: parquet file splits decide the initial parallelism, "
        "and the zero-shuffle per-row stages (repetition/gopher/C4) "
        "inherit it — a single ~128MB input file would serialize them "
        "onto one core",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    if (args.target is None) != (args.select_k is None):
        raise SystemExit("--target and --select-k go together")
    blocked, kw = _url_gate_flags(args)
    splits = (
        {k: float(v) for k, v in (p.split("=", 1) for p in args.splits.split(","))}
        if args.splits
        else None
    )

    def build(spark):
        from cs533_big_data_data_mining_spark.operators.pipelines import refinedweb

        return refinedweb(**_preset_kwargs(
            args, refinedweb, blocked_domains=blocked, url_kw=kw, splits=splits,
            bench=spark.read.parquet(args.bench) if args.bench else None,
            target=spark.read.parquet(args.target) if args.target else None,
        ))

    return _run_preset(args, "cs533_refinedweb_cli", build, ("split",) if splits else ())


def _fineweb_main(argv: list[str]) -> int:
    """``... fineweb -i docs.parquet -o outdir`` — the FineWeb-ordered
    curation pipeline (Penedo 2024 §3) from a raw corpus to filtered,
    PII-redacted training shards: URL filtering -> language ID ->
    Gopher repetition removal -> Gopher quality rules -> MinHash
    near-dup dedup -> C4 rules MINUS terminal_punct (§3.4) -> FineWeb
    custom filters (§3.6) -> PII redaction. The stage order lives in
    ``operators/pipelines.py``; the ``fineweb_pipeline`` driver row
    runs the same preset, and the ``refinedweb`` subcommand offers the
    same operators in RefinedWeb's order."""
    ap = argparse.ArgumentParser(
        prog="cs533_big_data_data_mining_spark fineweb",
        description="FineWeb-ordered curation: crawl -> filtered shards",
    )
    ap.add_argument("-i", "--input", required=True, help="documents parquet")
    ap.add_argument("-o", "--output", required=True, help="output shard directory")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--url-col", default=None, help="enable stage-1 URL filtering on this column")
    ap.add_argument(
        "--blocked-domains", default=None,
        help="comma-separated domain blocklist (needs --url-col)",
    )
    ap.add_argument("--url-kw", default=None, help="URL keyword weights 'casino=0.6,poker=0.6'")
    ap.add_argument("--url-kw-max", type=float, default=1.0)
    ap.add_argument(
        "--langid-route", choices=("marker", "nb"), default="marker",
        help="language-ID implementation: 'marker' = zero-training "
        "stopword-marker argmax; 'nb' = trained char-n-gram NB "
        "(fastText-style), self-labeled from the pool's "
        "high-confidence marker rows",
    )
    ap.add_argument(
        "--langid-seed-fraction", type=float, default=1.0,
        help="fraction of the pool sampled as the NB training seed "
        "(use <1.0 at scale; the model stops improving past ~1e6 docs)",
    )
    ap.add_argument(
        "--lang", default="en",
        help="keep documents whose marker-heuristic language ID equals this "
        "code ('' disables the gate; FineWeb keeps English at a fastText "
        "threshold — the heuristic here is the repo's n-gram-marker argmax)",
    )
    ap.add_argument("--min-words", type=int, default=50)
    ap.add_argument("--min-stopword-hits", type=int, default=2)
    ap.add_argument("--skip-repetition", action="store_true")
    ap.add_argument("--skip-gopher", action="store_true")
    ap.add_argument("--skip-c4", action="store_true")
    ap.add_argument("--skip-custom", action="store_true", help="skip the §3.6 custom filters")
    ap.add_argument("--no-redact", action="store_true", help="skip PII redaction")
    ap.add_argument("--ngram", type=int, default=3, help="near-dup shingle size")
    ap.add_argument(
        "--jaccard", type=float, default=0.8,
        help="MinHash near-dup threshold (0 disables the stage)",
    )
    ap.add_argument(
        "--max-bucket-size", type=int, default=None,
        help="drop LSH band buckets larger than this (boilerplate guard)",
    )
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--files-per-shard", type=int, default=1)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--checkpoint-dir", default=None, help="reliable-checkpoint directory")
    ap.add_argument(
        "--repartition", type=int, default=None,
        help="repartition the input before the pipeline (see the "
        "refinedweb flag: parquet splits decide zero-shuffle stage "
        "parallelism)",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    blocked, kw = _url_gate_flags(args)

    def build(spark):
        from cs533_big_data_data_mining_spark.operators.pipelines import fineweb

        return fineweb(**_preset_kwargs(args, fineweb, blocked_domains=blocked, url_kw=kw))

    return _run_preset(args, "cs533_fineweb_cli", build)


def _dolma_main(argv: list[str]) -> int:
    """``... dolma -i docs.parquet -o outdir [--history hist.parquet]``
    — the Dolma-ordered curation pipeline (Soldaini et al. 2024 §2)
    from a raw pool to filtered, PII-masked training shards: language
    ID -> Gopher quality rules -> C4 rules minus terminal_punct ->
    PII masking (Dolma masks BEFORE dedup) -> URL dedup -> document
    dedup -> paragraph dedup. With ``--history`` the two content-
    dedup stages run INCREMENTALLY against the immutable admitted
    corpus through the Bloom route (``exact_dedup_bipartite_bloom`` /
    ``paragraph_dedup_bipartite_bloom``); ``--no-verify`` switches
    them to Dolma's unverified one-sided trade (no history join at
    all, ~fpp of genuinely-new content lost). Without ``--history``
    they fall back to the within-corpus batch spellings. The stage
    order lives in ``operators/pipelines.py``; the ``dolma_pipeline``
    driver row runs the same preset."""
    ap = argparse.ArgumentParser(
        prog="cs533_big_data_data_mining_spark dolma",
        description="Dolma-ordered curation: pool [-> vs history] -> filtered shards",
    )
    ap.add_argument("-i", "--input", required=True, help="pool documents parquet")
    ap.add_argument("-o", "--output", required=True, help="output shard directory")
    ap.add_argument(
        "--history", default=None,
        help="admitted-corpus parquet: doc+paragraph dedup run incrementally "
        "against it (Bloom route); omitted = within-corpus batch dedup",
    )
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument(
        "--history-text-col", default=None,
        help="text column name in the --history parquet when it differs "
        "from --text-col (default: same as --text-col)",
    )
    ap.add_argument("--url-col", default=None, help="enable URL filtering/dedup on this column")
    ap.add_argument("--blocked-domains", default=None, help="comma-separated blocklist (needs --url-col)")
    ap.add_argument("--url-kw", default=None, help="URL keyword weights 'casino=0.6,poker=0.6'")
    ap.add_argument("--url-kw-max", type=float, default=1.0)
    ap.add_argument("--lang", default="en", help="language gate ('' disables)")
    ap.add_argument(
        "--langid-route", choices=("marker", "nb"), default="marker",
        help="language-ID implementation: 'marker' = zero-training "
        "stopword-marker argmax; 'nb' = trained char-n-gram NB "
        "(fastText-style), self-labeled from the pool's "
        "high-confidence marker rows",
    )
    ap.add_argument(
        "--langid-seed-fraction", type=float, default=1.0,
        help="fraction of the pool sampled as the NB training seed "
        "(use <1.0 at scale; the model stops improving past ~1e6 docs)",
    )
    ap.add_argument("--min-words", type=int, default=50)
    ap.add_argument("--min-stopword-hits", type=int, default=2)
    ap.add_argument("--skip-gopher", action="store_true")
    ap.add_argument("--skip-c4", action="store_true")
    ap.add_argument("--no-redact", action="store_true", help="skip PII masking")
    ap.add_argument("--skip-url-dedup", action="store_true")
    ap.add_argument("--skip-doc-dedup", action="store_true")
    ap.add_argument("--skip-paragraph-dedup", action="store_true")
    ap.add_argument("--fpp", type=float, default=0.01, help="Bloom false-positive rate")
    ap.add_argument(
        "--no-verify", action="store_true",
        help="Dolma's unverified Bloom trade: positives drop without the "
        "exact history join (~fpp of new content lost, never a missed dup)",
    )
    ap.add_argument(
        "--bench", default=None,
        help="benchmark parquet to decontaminate against (Bloom route)",
    )
    ap.add_argument("--decontam-ngram", type=int, default=5)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--files-per-shard", type=int, default=1)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--checkpoint-dir", default=None, help="reliable-checkpoint directory")
    ap.add_argument("--repartition", type=int, default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    blocked, kw = _url_gate_flags(args)
    if not (0 < args.fpp < 1):
        raise SystemExit("--fpp must be in (0, 1)")

    def build(spark):
        from cs533_big_data_data_mining_spark.operators.pipelines import dolma

        return dolma(**_preset_kwargs(
            args, dolma, blocked_domains=blocked, url_kw=kw,
            history=spark.read.parquet(args.history) if args.history else None,
            bench=spark.read.parquet(args.bench) if args.bench else None,
        ))

    return _run_preset(args, "cs533_dolma_cli", build)


def _ingest_shard_main(argv: list[str]) -> int:
    """``... ingest-shard -i new.parquet --history admitted.parquet -o out``
    — incremental admission of ONE shard against an immutable
    already-admitted corpus, composing the bipartite twins in the
    RefinedWeb stage order: URL dedup (``url_dedup_bipartite``) ->
    exact dedup (``exact_dedup_bipartite``) [-> paragraph-level dedup
    with ``--paragraph``, completing the Dolma URL -> doc -> paragraph
    ladder] -> MinHash near-dup (within-shard pairs + shard-vs-history
    pairs, history-wins survivor rule via ``bipartite_survivors``)
    [-> semantic near-dup (``semdedup_bipartite``) with
    ``--embeddings``]. ``--bloom-fpp`` routes the URL/doc/paragraph
    stages through history Bloom filters; ``--bloom-dir`` persists
    those filters across shard cycles (build once, probe forever —
    the ``--ivf-dir`` pattern). History is NEVER re-paired or
    re-clustered against itself — per-shard cost is the shard plus
    one banded/packed pass over history (persist those once per
    ingest cycle at scale). New-shard ids must be disjoint from
    history ids (the bipartite convention)."""
    ap = argparse.ArgumentParser(
        prog="cs533_big_data_data_mining_spark ingest-shard",
        description="Incremental shard admission vs an immutable history corpus",
    )
    ap.add_argument("-i", "--input", required=True, help="new shard parquet (doc_id, text, ...)")
    ap.add_argument("--history", required=True, help="admitted-corpus parquet (same columns)")
    ap.add_argument("-o", "--output", required=True, help="output parquet for admitted new rows")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--url-col", default=None, help="enable incremental URL dedup on this column")
    ap.add_argument("--ngram", type=int, default=3, help="near-dup shingle size")
    ap.add_argument(
        "--jaccard", type=float, default=0.8,
        help="MinHash near-dup threshold (0 disables the stage)",
    )
    ap.add_argument(
        "--max-bucket-size", type=int, default=None,
        help="drop LSH band buckets larger than this (boilerplate guard)",
    )
    ap.add_argument(
        "--embeddings", default=None,
        help="new-shard embeddings parquet (vec_id, embedding; vec_id == "
        "the document id, the curate-CLI convention) — adds incremental "
        "SemDeDup; needs --history-embeddings",
    )
    ap.add_argument("--history-embeddings", default=None)
    ap.add_argument("--cosine", type=float, default=0.95, help="semantic near-dup threshold")
    ap.add_argument("--centroids", type=int, default=64, help="IVF clusters fit on history")
    ap.add_argument(
        "--ivf-dir", default=None,
        help="IVF index artifact dir (needs --embeddings): if it already "
        "holds a saved index, reuse its CENTROIDS (assignments are "
        "refreshed against the current --history-embeddings with one "
        "argmax pass, so history growth since the save is still dedup'd "
        "against); otherwise fit on the history embeddings and SAVE it "
        "there for the next shard cycle",
    )
    ap.add_argument(
        "--bloom-fpp", type=float, default=None,
        help="route the URL and exact-dedup stages through the history "
        "Bloom filter at this false-positive rate (Dolma 2024 §2.2) — "
        "the verified spelling unless --no-verify; omit = the plain "
        "hash-join twins",
    )
    ap.add_argument(
        "--no-verify", action="store_true",
        help="with --bloom-fpp: drop Bloom positives without the exact "
        "history join (~fpp of genuinely-new rows lost, never a missed "
        "duplicate)",
    )
    ap.add_argument(
        "--paragraph", action="store_true",
        help="add Dolma's paragraph-level stage after document dedup: "
        "paragraphs already in the history (or duplicated within the "
        "shard) are excised and the text rewritten; fully-excised "
        "docs drop",
    )
    ap.add_argument(
        "--bloom-dir", default=None,
        help="persisted Bloom artifact dir (url/ doc/ para/ subdirs, "
        "BloomFilter.save layout): stages LOAD their history filter "
        "from here when present AND the saved history row count still "
        "matches --history (a grown history auto-rebuilds — a stale "
        "filter would silently miss new-history duplicates), else "
        "build from --history at --bloom-fpp and SAVE for the next "
        "shard cycle (the --ivf-dir pattern); needs --bloom-fpp",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    if (args.embeddings is None) != (args.history_embeddings is None):
        raise SystemExit("--embeddings and --history-embeddings go together")
    if args.no_verify and args.bloom_fpp is None:
        raise SystemExit("--no-verify needs --bloom-fpp")
    if args.bloom_dir and args.bloom_fpp is None:
        raise SystemExit("--bloom-dir needs --bloom-fpp")
    if args.bloom_fpp is not None and not (0 < args.bloom_fpp < 1):
        raise SystemExit("--bloom-fpp must be in (0, 1)")
    if args.ivf_dir and not args.embeddings:
        raise SystemExit(
            "--ivf-dir needs --embeddings/--history-embeddings (there is "
            "no semantic stage to index without them)"
        )

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from cs533_big_data_data_mining_spark.operators.dedup import (
        bipartite_survivors,
        exact_dedup_bipartite,
        exact_dedup_bipartite_bloom,
        exact_history_bloom,
        minhash_dedup_pairs,
        minhash_dedup_pairs_bipartite,
        paragraph_dedup_bipartite,
        paragraph_dedup_bipartite_bloom,
        paragraph_history_bloom,
        url_dedup_bipartite,
        url_dedup_bipartite_bloom,
        url_history_bloom,
    )
    from cs533_big_data_data_mining_spark.operators.sketches import BloomFilter
    from cs533_big_data_data_mining_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="cs533_ingest_shard_cli", master=args.master)
    t0 = time.time()
    idc, txc = args.id_col, args.text_col
    new = spark.read.parquet(args.input)
    hist = spark.read.parquet(args.history)
    n_in = new.count()

    def stage(name, frame):
        print(f"{name}: {frame.count()} docs ({time.time() - t0:.1f}s)", flush=True)
        return frame

    hist_n = None  # lazily-computed history row count (staleness key)

    def history_bloom(sub, build):
        """Load the stage's persisted history filter from --bloom-dir,
        or build+save it there; None (build-inline-in-the-op) when no
        --bloom-dir is given.

        Staleness: each saved filter carries the history ROW COUNT it
        was built from (a `<sub>_meta` sidecar). A grown/shrunk
        --history — the natural append-after-admission workflow —
        REBUILDS instead of loading: probing a stale filter would
        silently void the exact=True 'never a missed duplicate'
        guarantee (a new-history duplicate reads Bloom-NEGATIVE and
        bypasses the verify join entirely). Same-count content edits
        are not detectable this cheaply and remain the operator's
        contract."""
        nonlocal hist_n
        if not args.bloom_dir:
            return None
        if hist_n is None:
            hist_n = hist.count()
        path = args.bloom_dir.rstrip("/") + "/" + sub
        meta_path = path + "_meta"
        jvm = spark.sparkContext._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        hfs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        if hfs.exists(hpath):
            saved_n = None
            if hfs.exists(jvm.org.apache.hadoop.fs.Path(meta_path)):
                row = spark.read.parquet(meta_path).head()
                saved_n = None if row is None else int(row["n_history_rows"])
            if saved_n == hist_n:
                bf = BloomFilter.load(spark, path)
                print(f"bloom: loaded {sub} filter from {path} "
                      f"(history rows {hist_n})", flush=True)
                return bf
            print(f"bloom: {sub} filter is STALE (built from "
                  f"{saved_n} history rows, current {hist_n}) — rebuilding",
                  flush=True)
        bf = build()
        bf.save(spark, path)
        from cs533_big_data_data_mining_spark.session import local_df

        local_df(spark, [(hist_n,)], "n_history_rows long").write.mode(
            "overwrite"
        ).parquet(meta_path)
        print(f"bloom: built + saved {sub} filter to {path} "
              f"(history rows {hist_n})", flush=True)
        return bf

    cur = new
    if args.url_col:
        if args.url_col not in cur.columns or args.url_col not in hist.columns:
            raise SystemExit(
                f"--url-col {args.url_col!r} must exist in BOTH inputs "
                f"(new: {cur.columns}, history: {hist.columns})"
            )
        if args.bloom_fpp is not None:
            keep_u = url_dedup_bipartite_bloom(
                cur, hist, idc, args.url_col,
                fpp=args.bloom_fpp, exact=not args.no_verify,
                bloom=history_bloom(
                    "url", lambda: url_history_bloom(hist, args.url_col, fpp=args.bloom_fpp)
                ),
            ).select(F.col("id").alias(idc))
        else:
            keep_u = url_dedup_bipartite(cur, hist, idc, args.url_col).select(
                F.col("id").alias(idc)
            )
        cur = stage("url_dedup_bi", cur.join(keep_u, idc, "left_semi"))
    if args.bloom_fpp is not None:
        cur = stage(
            "exact_dedup_bi",
            exact_dedup_bipartite_bloom(
                cur, hist, idc, txc, fpp=args.bloom_fpp, exact=not args.no_verify,
                bloom=history_bloom("doc", lambda: exact_history_bloom(hist, txc, fpp=args.bloom_fpp)),
            ),
        )
    else:
        cur = stage("exact_dedup_bi", exact_dedup_bipartite(cur, hist, idc, txc))
    if args.paragraph:
        if args.bloom_fpp is not None:
            pd_out = paragraph_dedup_bipartite_bloom(
                hist, cur, idc, txc,
                fpp=args.bloom_fpp, exact=not args.no_verify,
                bloom=history_bloom("para", lambda: paragraph_history_bloom(hist, txc, fpp=args.bloom_fpp)),
            )
        else:
            pd_out = paragraph_dedup_bipartite(hist, cur, idc, txc)
        survivors = pd_out.filter(
            F.col("clean").isNotNull() & (F.col("clean") != "")
        ).select(F.col("id").alias(idc), F.col("clean").alias(txc))
        cur = stage("paragraph_dedup_bi", cur.drop(txc).join(survivors, idc))
    to_release = []
    if args.jaccard > 0:
        # with caches=None the pair finders return CACHED, materialized
        # frames (the _release_index_caches contract) — so the survivor
        # closure, the stage count, and the final write all read one
        # MinHash evaluation; this CLI owns releasing them after the
        # write consumes the plan
        nn = minhash_dedup_pairs(
            cur, idc, txc, n=args.ngram, threshold=args.jaccard,
            max_bucket_size=args.max_bucket_size,
        )
        nh = minhash_dedup_pairs_bipartite(
            cur, hist, idc, txc, n=args.ngram, threshold=args.jaccard,
            max_bucket_size=args.max_bucket_size,
        )
        to_release += [nn, nh]
        keep_m = bipartite_survivors(cur.select(F.col(idc).alias("id")), nn, nh).select(
            F.col("id").alias(idc)
        )
        cur = stage("minhash_bi", cur.join(keep_m, idc, "left_semi"))
    if args.embeddings:
        from cs533_big_data_data_mining_spark.operators.similarity import (
            ivf_index,
            ivf_load,
            ivf_save,
            semdedup_bipartite,
        )

        emb_new = spark.read.parquet(args.embeddings)
        emb_hist = spark.read.parquet(args.history_embeddings)
        # only embeddings of still-surviving new docs are candidates
        emb_new = emb_new.join(
            cur.select(F.col(idc).alias("vec_id")), "vec_id", "left_semi"
        )
        from pyspark.errors import AnalysisException

        from cs533_big_data_data_mining_spark.operators.similarity import (
            assign_to_centroids,
        )

        idx = None
        if args.ivf_dir:
            jvm = spark.sparkContext._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(args.ivf_dir)
            hfs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
            if hfs.exists(hpath):
                # artifact dir present: it must LOAD. A partial write
                # from a crashed prior cycle (centroids/ without
                # assignments/, or malformed schemas) crashes loudly
                # here — silently re-fitting over it would hide the
                # corrupted ingest-cycle state.
                try:
                    cent_only, _stale = ivf_load(spark, args.ivf_dir)
                except AnalysisException as exc:
                    raise SystemExit(
                        f"--ivf-dir {args.ivf_dir!r} exists but is not a "
                        f"loadable index (partial write from a crashed "
                        f"cycle?): {exc}. Delete it or point elsewhere."
                    ) from exc
                # the saved ASSIGNMENTS describe history as of save
                # time; --history-embeddings is the current corpus —
                # refresh with one broadcast argmax (no re-clustering),
                # so docs admitted in prior cycles are still compared
                # against. Only the centroid fit is reused.
                idx = (cent_only, assign_to_centroids(emb_hist, cent_only))
                print(
                    f"ivf: loaded centroids from {args.ivf_dir}; assignments "
                    "refreshed against current history",
                    flush=True,
                )
        if idx is None:
            idx = ivf_index(emb_hist, args.centroids)
            if args.ivf_dir:
                ivf_save(idx, args.ivf_dir)
                idx = ivf_load(spark, args.ivf_dir)  # read back: later stages
                # scan the parquet artifact, not the fit's lineage
                print(f"ivf: fit + saved index to {args.ivf_dir}", flush=True)
        keep_s_raw = semdedup_bipartite(
            emb_hist, emb_new, args.cosine, args.centroids, index=idx
        )
        to_release.append(keep_s_raw)
        keep_s = keep_s_raw.select(F.col("id").alias(idc))
        cur = stage("semdedup_bi", cur.join(keep_s, idc, "left_semi"))
    cur.write.mode("overwrite").parquet(args.output)
    for frame in to_release:  # released only after the write consumed them
        frame.unpersist()
    n_out = spark.read.parquet(args.output).count()
    print(
        f"admitted {n_out} of {n_in} new docs vs {hist.count()}-doc history "
        f"({time.time() - t0:.1f}s); wrote {args.output}"
    )
    if not preexisting:
        spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "refinedweb":
        return _refinedweb_main(argv[1:])
    if argv and argv[0] == "fineweb":
        return _fineweb_main(argv[1:])
    if argv and argv[0] == "dolma":
        return _dolma_main(argv[1:])
    if argv and argv[0] == "ingest-shard":
        return _ingest_shard_main(argv[1:])
    if argv and argv[0] == "curate":
        return _curate_main(argv[1:])
    if argv and argv[0] == "mix":
        return _mix_main(argv[1:])
    if argv and argv[0] == "chunk":
        return _chunk_main(argv[1:])
    if argv and argv[0] == "pack":
        return _pack_main(argv[1:])
    if argv and argv[0] == "bpe-train":
        return _bpe_train_main(argv[1:])
    if argv and argv[0] == "bpe-encode":
        return _bpe_encode_main(argv[1:])
    if argv and argv[0] == "score":
        return _score_main(argv[1:])
    if argv and argv[0] == "classify":
        return _classify_main(argv[1:])
    ap = argparse.ArgumentParser(
        prog="cs533_big_data_data_mining_spark",
        description="Distributed DBSCAN (PySpark) - reference-compatible driver",
        epilog="data-pipeline subcommands: refinedweb fineweb dolma ingest-shard "
        "curate mix chunk pack bpe-train bpe-encode score classify (run '<subcommand> --help' for each)",
    )
    ap.add_argument("-i", "--input", required=True, help="input file (.bin with -b, else parquet)")
    ap.add_argument("-b", "--binary", action="store_true", help="input is the reference's .bin format")
    ap.add_argument("-e", "--eps", type=float, required=True)
    ap.add_argument("-m", "--min-pts", type=int, required=True)
    ap.add_argument("-o", "--output", default=None, help="output parquet path (optional)")
    ap.add_argument("-p", "--sample", type=float, default=None, help="sample fraction (0,1]")
    ap.add_argument("-k", "--seed", type=int, default=None, help="sampling seed")
    ap.add_argument("--master", default=None, help="spark master (default local[ncpus])")
    args = ap.parse_args(argv)

    from cs533_big_data_data_mining_spark.operators.dbscan import dbscan, dbscan_stats
    from cs533_big_data_data_mining_spark.session import get_spark
    from cs533_big_data_data_mining_spark.sources.points import (
        read_points_bin,
        read_points_parquet,
        write_clusters,
    )

    from pyspark.sql import SparkSession

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="cs533_dbscan_cli", master=args.master)
    t0 = time.time()
    pts = (
        read_points_bin(spark, args.input)
        if args.binary
        else read_points_parquet(spark, args.input)
    )
    labeled = dbscan(
        pts, eps=args.eps, min_pts=args.min_pts, sample=args.sample, seed=args.seed
    )
    st = dbscan_stats(labeled).head().asDict()
    dt = time.time() - t0
    # same report the reference prints (dbscan.cpp:344-367)
    print(
        f"Points in clusters {st['points_in_clusters']} noise {st['noise_count']} "
        f"total points {st['total_points']}; number of clusters {st['n_clusters']}"
    )
    print(f"Total time taken {dt:.4f} seconds")
    if args.output:
        if args.output.endswith(".nc"):
            from cs533_big_data_data_mining_spark.sources.netcdf import write_clusters_netcdf

            write_clusters_netcdf(labeled, args.output, single_file=True)
        else:
            write_clusters(labeled, args.output)
        print(f"wrote {args.output}")
    if not preexisting:  # don't tear down a session we joined
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
