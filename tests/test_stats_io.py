"""Stats aggregates (ops 2-4, 13, 15) and sources/sinks (ops 1, 14, 17)."""

import os
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from cs533_big_data_data_mining_spark.operators.stats import (
    bounding_box,
    dim_quantiles,
    sample_points,
    widest_dims,
)
from cs533_big_data_data_mining_spark.sources.points import (
    as_points,
    read_points_bin,
    text_to_parquet,
    write_clusters,
)
from tests.oracle import grid_centers, make_blobs
from tests.test_dbscan import to_points_df


def test_bounding_box(spark):
    x = make_blobs(500, 3, grid_centers(3, 3, 10.0), 1.0, seed=1)
    row = bounding_box(to_points_df(spark, x), 3).head()
    for j in range(3):
        assert row[f"min_x{j}"] == x[:, j].min()
        assert row[f"max_x{j}"] == x[:, j].max()


def test_median(spark):
    x = make_blobs(501, 2, grid_centers(2, 2, 10.0), 1.0, seed=2)
    row = dim_quantiles(to_points_df(spark, x), 0, probs=(0.5,)).head()
    assert abs(row["p50_x0"] - np.median(x[:, 0])) < 1e-9


def test_widest_dims(spark):
    x = np.zeros((100, 3))
    x[:, 0] = np.linspace(0, 1, 100)
    x[:, 1] = np.linspace(0, 100, 100)
    x[:, 2] = np.linspace(0, 10, 100)
    assert widest_dims(to_points_df(spark, x), 3, 2) == [1, 2]


def test_sample(spark):
    df = to_points_df(spark, np.random.default_rng(0).normal(size=(2000, 2)))
    n = sample_points(df, 0.25, seed=42).count()
    assert 350 < n < 650


@pytest.mark.parametrize("batch_rows", [300, 1000], ids=["ragged_batches", "one_batch"])
def test_bin_reader_roundtrip(spark, tmp_path, batch_rows):
    """FIXTURES.md §3: reference .bin format -> DataFrame, byte-identical
    after float32->float64 widening, whether or not ``batch_rows``
    divides N."""
    rng = np.random.default_rng(42)
    mat = rng.normal(size=(1000, 3)).astype(np.float32)
    p = tmp_path / "ref_format_roundtrip.bin"
    with open(p, "wb") as f:
        f.write(struct.pack("<ii", 1000, 3))
        f.write(mat.tobytes())
    df = read_points_bin(spark, str(p), batch_rows=batch_rows)
    assert df.schema.simpleString() == "struct<id:bigint,xs:array<double>>"
    rows = sorted(df.collect(), key=lambda r: r["id"])
    assert [r["id"] for r in rows] == list(range(1000))
    got = np.array([r["xs"] for r in rows])
    assert np.array_equal(got, mat.astype(np.float64))


def test_bin_reader_truncated_payload_raises(spark, tmp_path):
    """A payload shorter than the header's N*D floats is rejected by the
    header check, not read as fewer points."""
    p = tmp_path / "truncated.bin"
    with open(p, "wb") as f:
        f.write(struct.pack("<ii", 1000, 3))
        f.write(np.zeros((999, 3), dtype=np.float32).tobytes())
    with pytest.raises(Exception, match="not a valid reference .bin file: header N=1000 D=3"):
        read_points_bin(spark, str(p)).count()


def test_bin_reader_multifile_unique_ids(spark, tmp_path):
    """Loading a directory of .bin files must not mint duplicate ids
    (per-file path-ordinal salt) — duplicate ids silently corrupt
    every downstream id join."""
    rng = np.random.default_rng(7)
    for i, n in enumerate((300, 500)):
        mat = rng.normal(size=(n, 2)).astype(np.float32)
        with open(tmp_path / f"part{i}.bin", "wb") as f:
            f.write(struct.pack("<ii", n, 2))
            f.write(mat.tobytes())
    df = read_points_bin(spark, str(tmp_path))
    ids = [r["id"] for r in df.select("id").collect()]
    assert len(ids) == 800
    assert len(set(ids)) == 800


def test_reference_dataset_reads(spark):
    """The engine reads the reference's own shipped datasets."""
    path = "/root/reference/t4.8k.bin"
    if not os.path.exists(path):
        return
    df = read_points_bin(spark, path)
    assert df.count() == 8000
    assert len(df.head()["xs"]) == 2


def test_write_clusters_sink(spark, tmp_path):
    x = make_blobs(100, 2, grid_centers(2, 2, 10.0), 1.0, seed=3)
    df = to_points_df(spark, x).withColumn("cluster_id", F.lit(1))
    out = str(tmp_path / "clusters_out")
    write_clusters(df, out)
    back = spark.read.parquet(out)
    assert set(back.columns) == {"position_col_X0", "position_col_X1", "cluster_id"}
    assert back.count() == 100


def test_text_to_parquet(spark, tmp_path):
    txt = tmp_path / "pts.txt"
    txt.write_text("3 2\n1.0 2.0\n3.0 4.0\n5.0 6.0\n")
    out = str(tmp_path / "pts_parquet")
    text_to_parquet(spark, str(txt), out)
    rows = spark.read.parquet(out).collect()
    assert sorted(tuple(r["xs"]) for r in rows) == [(1.0, 2.0), (3.0, 4.0), (5.0, 6.0)]


def test_as_points_flat_and_array(spark):
    df = spark.createDataFrame([(1, 2.0, 3.0)], "pk long, a double, b double")
    p1 = as_points(df, id_col="pk", feature_cols=["a", "b"]).head()
    assert p1["id"] == 1 and p1["xs"] == [2.0, 3.0]
    df2 = spark.createDataFrame([(7, [1.0, 2.0])], "pk long, emb array<float>")
    p2 = as_points(df2, id_col="pk", array_col="emb").head()
    assert p2["id"] == 7 and p2["xs"] == [1.0, 2.0]


def test_cli_main(spark, tmp_path):
    """The reference-compatible CLI driver end to end (uses the
    session fixture's already-running Spark via getOrCreate)."""
    from cs533_big_data_data_mining_spark.__main__ import main

    out = str(tmp_path / "cli_out")
    rc = main(
        ["-i", "/root/reference/t8.8k.bin", "-b", "-e", "10", "-m", "10", "-o", out]
    )
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() == 8000
    assert set(got.columns) == {"position_col_X0", "position_col_X1", "cluster_id"}


def test_netcdf3_encode_binary_layout():
    """The classic-format bytes match the public spec field-for-field
    (magic, big-endian header, 4-byte padded contiguous variables)."""
    from cs533_big_data_data_mining_spark.sources.netcdf import netcdf3_encode

    pos = np.array([1.5, -2.0, 3.25], dtype=np.float32)
    cid = np.array([1, 0, 2], dtype=np.int32)
    buf = netcdf3_encode([("position_col_X0", pos), ("cluster_id", cid)])
    assert buf[:4] == b"CDF\x01"
    assert struct.unpack(">i", buf[4:8]) == (0,)  # numrecs
    assert struct.unpack(">ii", buf[8:16]) == (0x0A, 1)  # NC_DIMENSION, 1 dim
    # dim name matches the reference's output (dbscan.cpp:520-545)
    assert struct.unpack(">i", buf[16:20]) == (13,)  # len("num_particles")
    assert buf[20:33] == b"num_particles"
    # three bytes pad to 4-byte boundary, then the dim length
    assert struct.unpack(">i", buf[36:40]) == (3,)
    # payloads: 3 float32 (12 bytes, already aligned) then 3 int32
    np.testing.assert_array_equal(
        np.frombuffer(buf[-24:-12], dtype=">f4"), pos.astype(">f4")
    )
    np.testing.assert_array_equal(np.frombuffer(buf[-12:], dtype=">i4"), cid)


def test_netcdf_decode_inverts_encode():
    from cs533_big_data_data_mining_spark.sources.netcdf import (
        netcdf3_decode,
        netcdf3_encode,
    )

    cols = [
        ("position_col_X0", np.linspace(-5, 5, 101, dtype=np.float32)),
        ("position_col_X1", np.linspace(0, 1, 101, dtype=np.float32)),
        ("cluster_id", (np.arange(101) % 7).astype(np.int32)),
    ]
    back = netcdf3_decode(netcdf3_encode(cols))
    assert list(back) == [n for n, _ in cols]
    for name, arr in cols:
        np.testing.assert_array_equal(back[name], arr)


def test_netcdf_cdf2_roundtrip():
    """CDF-2 (64-bit begin offsets) encodes and decodes — the >2 GiB
    escape hatch, exercised via force_wide without a 2 GiB file."""
    from cs533_big_data_data_mining_spark.sources.netcdf import (
        netcdf3_decode,
        netcdf3_encode,
    )

    cols = [
        ("position_col_X0", np.linspace(-1, 1, 50, dtype=np.float32)),
        ("cluster_id", (np.arange(50) % 5).astype(np.int32)),
    ]
    buf = netcdf3_encode(cols, force_wide=True)
    assert buf[:4] == b"CDF\x02"
    back = netcdf3_decode(buf)
    for name, arr in cols:
        np.testing.assert_array_equal(back[name], arr)


def test_netcdf_decode_rejects_record_files():
    """Files with an unlimited (record) dimension must raise, not
    silently mis-slice (round-3 verdict 'what's missing' #3)."""
    from cs533_big_data_data_mining_spark.sources.netcdf import (
        netcdf3_decode,
        netcdf3_encode,
    )

    buf = bytearray(netcdf3_encode([("cluster_id", np.arange(4, dtype=np.int32))]))
    buf[4:8] = struct.pack(">i", 7)  # claim 7 records
    try:
        netcdf3_decode(bytes(buf))
        assert False, "expected record-dimension refusal"
    except ValueError as e:
        assert "record" in str(e)


def test_netcdf_sink_roundtrip(spark, tmp_path):
    """Single-file and partitioned sinks both survive a Spark read-back."""
    from cs533_big_data_data_mining_spark.sources.netcdf import (
        read_clusters_netcdf,
        write_clusters_netcdf,
    )

    x = make_blobs(400, 2, grid_centers(2, 2, 10.0), 1.0, seed=9)
    df = to_points_df(spark, x).withColumn("cluster_id", (F.col("id") % 3).cast("long"))
    want = sorted(
        (round(float(r["xs"][0]), 4), round(float(r["xs"][1]), 4), r["cluster_id"])
        for r in df.collect()
    )

    single = str(tmp_path / "out_single.nc")
    paths = write_clusters_netcdf(df, single, single_file=True)
    assert paths == [single] and os.path.getsize(single) > 0
    back1 = read_clusters_netcdf(spark, single)
    got1 = sorted(
        (round(float(r["xs"][0]), 4), round(float(r["xs"][1]), 4), r["cluster_id"])
        for r in back1.collect()
    )
    assert got1 == want

    part_dir = str(tmp_path / "out_parts")
    paths = write_clusters_netcdf(df.repartition(4), part_dir)
    assert 1 <= len(paths) <= 4 and all(p.endswith(".nc") for p in paths)
    back2 = read_clusters_netcdf(spark, part_dir)
    got2 = sorted(
        (round(float(r["xs"][0]), 4), round(float(r["xs"][1]), 4), r["cluster_id"])
        for r in back2.collect()
    )
    assert got2 == want


def test_netcdf_single_file_row_cap(spark):
    from cs533_big_data_data_mining_spark.sources.netcdf import write_clusters_netcdf

    df = to_points_df(spark, np.zeros((10, 2))).withColumn("cluster_id", F.lit(0))
    try:
        write_clusters_netcdf(df, "/tmp/never.nc", single_file=True, driver_row_cap=5)
        assert False, "expected row-cap refusal"
    except ValueError as e:
        assert "driver_row_cap" in str(e)


def test_netcdf_sink_empty_frame(spark, tmp_path):
    """An empty frame writes no part from the partitioned sink and is a
    named error from the single-file sink (no row gives the number of
    coordinates)."""
    from cs533_big_data_data_mining_spark.sources.netcdf import write_clusters_netcdf

    empty = spark.createDataFrame([], "id long, xs array<double>, cluster_id long")
    assert write_clusters_netcdf(empty, str(tmp_path / "parts")) == []
    with pytest.raises(ValueError, match="empty frame"):
        write_clusters_netcdf(empty, str(tmp_path / "one.nc"), single_file=True)
    assert not os.path.exists(tmp_path / "one.nc")


def test_netcdf_sink_ragged_xs_raises(spark, tmp_path):
    """Rows whose ``xs`` differ in length cannot share one set of
    ``position_col_X{j}`` variables: both sinks raise, naming ``xs``."""
    from cs533_big_data_data_mining_spark.sources.netcdf import write_clusters_netcdf

    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0], 1), (1, [3.0], 1)], "id long, xs array<double>, cluster_id long"
    ).coalesce(1)
    with pytest.raises(ValueError, match="xs must have the same length"):
        write_clusters_netcdf(ragged, str(tmp_path / "one.nc"), single_file=True)
    with pytest.raises(Exception, match="xs must have the same length"):
        write_clusters_netcdf(ragged, str(tmp_path / "parts"))


def test_cli_netcdf_output(spark, tmp_path):
    from cs533_big_data_data_mining_spark.__main__ import main
    from cs533_big_data_data_mining_spark.sources.netcdf import netcdf3_decode

    out = str(tmp_path / "cli_out.nc")
    rc = main(["-i", "/root/reference/t8.8k.bin", "-b", "-e", "10", "-m", "10", "-o", out])
    assert rc == 0
    with open(out, "rb") as f:
        vars = netcdf3_decode(f.read())
    assert set(vars) == {"position_col_X0", "position_col_X1", "cluster_id"}
    assert len(vars["cluster_id"]) == 8000


def test_jsonl_roundtrip_and_corrupt_lines(spark, tmp_path):
    import json
    import os

    from cs533_big_data_data_mining_spark.sources.documents import (
        jsonl_to_parquet,
        read_documents_jsonl,
        write_documents_jsonl,
    )

    src = str(tmp_path / "in")
    os.makedirs(src)
    rows = [
        {"doc_id": 1, "text": "hello world", "lang": "en", "source": "s1", "n_chars": 11},
        {"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "s2", "n_chars": 7},
        {"doc_id": 3, "text": None, "lang": None, "source": "s1", "n_chars": None},
    ]
    with open(f"{src}/part-0.jsonl", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
        fh.write("{not valid json at all\n")

    # default mode: corrupt lines silently dropped, clean frame
    docs = read_documents_jsonl(spark, src)
    got = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert got == {1: "hello world", 2: "bonjour", 3: None}

    # audit mode: corrupt line surfaced in _corrupt (cache() first:
    # Spark disallows corrupt-only queries on the raw scan)
    audit = read_documents_jsonl(spark, src, keep_corrupt=True).cache()
    assert audit.count() == 4
    assert audit.filter("_corrupt IS NOT NULL").count() == 1
    audit.unpersist()

    # converter drops the corrupt line; parquet output readable
    dst = str(tmp_path / "out.parquet")
    assert jsonl_to_parquet(spark, src, dst) == 3

    # sink -> source roundtrip preserves rows
    back_dir = str(tmp_path / "back")
    write_documents_jsonl(docs, back_dir)
    again = read_documents_jsonl(spark, back_dir)
    assert {r["doc_id"] for r in again.collect()} == {1, 2, 3}


def test_cli_curate(spark, tmp_path):
    from cs533_big_data_data_mining_spark.__main__ import main

    src = str(tmp_path / "docs.parquet")
    bench = str(tmp_path / "bench.parquet")
    out = str(tmp_path / "curated.parquet")
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "the quick brown fox jumps over the lazy dog again and again today"),  # exact dup
            (3, "completely different content about engines and shuffles in the sky"),
            (4, "held out benchmark text that must be decontaminated away from training"),
        ],
        "doc_id long, text string",
    )
    docs.write.parquet(src)
    docs.filter("doc_id = 4").write.parquet(bench)
    rc = main([
        "curate", "-i", src, "-o", out, "--bench", bench, "--decontam-ngram", "5",
    ])
    assert rc == 0
    got = spark.read.parquet(out)
    ids = sorted(r["doc_id"] for r in got.collect())
    # 4 removed by decontamination, 2 by exact dedup (min-id keeper)
    assert ids == [1, 3]
    assert {"doc_id", "text", "lang_guess", "quality"} <= set(got.columns)


def test_cli_chunk_and_pack(spark, tmp_path):
    from cs533_big_data_data_mining_spark.__main__ import main

    src = str(tmp_path / "docs3.parquet")
    chunks_out = str(tmp_path / "chunks.parquet")
    plan_out = str(tmp_path / "plan.parquet")
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(10))) for i in range(5)],
        "doc_id long, text string",
    )
    docs.write.parquet(src)
    assert main(["chunk", "-i", src, "-o", chunks_out, "--chunk-tokens", "4", "--stride", "3"]) == 0
    chunks = spark.read.parquet(chunks_out)
    # 10 tokens, window 4, stride 3 -> starts 0/3/6, all full windows
    assert chunks.count() == 5 * 3
    assert chunks.filter("n_tokens != 4").count() == 0
    assert main(["pack", "-i", src, "-o", plan_out, "-l", "8"]) == 0
    plan = spark.read.parquet(plan_out)
    rows = {r["id"]: r for r in plan.collect()}
    per = rows[0]["n_tokens"]  # BPE-ish subword count, same text per doc
    assert per > 0 and all(rows[i]["n_tokens"] == per for i in range(5))
    assert [rows[i]["start_offset"] for i in range(5)] == [i * per for i in range(5)]
    assert rows[4]["bin_end"] == (5 * per - 1) // 8


def test_cli_curate_boilerplate_and_mixing(spark, tmp_path):
    from cs533_big_data_data_mining_spark.__main__ import main

    src = str(tmp_path / "docs2.parquet")
    out = str(tmp_path / "curated2.parquet")
    body = [
        "unique body text one about engines and big shuffles in the evening sky",
        "different body text two about parquet scans and codegen in the morning",
        "third body text entirely about watermarks and stateful stream sessions",
    ]
    docs = spark.createDataFrame(
        [(i, f"SHARED NAV HEADER\n{body[i - 1]}", f"s{i % 2}") for i in (1, 2, 3)],
        "doc_id long, text string, source string",
    )
    docs.write.parquet(src)
    rc = main([
        "curate", "-i", src, "-o", out,
        "--max-line-df", "2",          # header in 3 docs -> stripped
        "--source-fracs", "nosuch=0.0",  # listed source absent: no-op
    ])
    assert rc == 0
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 2, 3}
    for i in (1, 2, 3):
        assert got[i] == body[i - 1]   # header line gone, body intact


def test_cli_score(spark, tmp_path):
    from cs533_big_data_data_mining_spark.__main__ import main

    src = str(tmp_path / "docs_score.parquet")
    out = str(tmp_path / "scores.parquet")
    docs = spark.createDataFrame(
        [
            (1, "plain body of words about spark and shuffles today"),
            (2, "plain body of words about spark and shuffles today"),  # exact dup
            (3, "totally different content with zero overlap anywhere else"),
        ],
        "doc_id long, text string",
    )
    docs.write.parquet(src)
    assert main(["score", "-i", src, "-o", out, "--spans-k", "3", "--repetition"]) == 0
    rows = {r["id"]: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {1, 2, 3}
    # dups 1/2 are fully duplicated spans; 3 is clean
    assert rows[1]["dup_frac"] == 1.0 and rows[2]["dup_frac"] == 1.0
    assert rows[3]["dup_frac"] == 0.0
    # identical texts score identical perplexity; all scores present
    assert rows[1]["ppl"] == rows[2]["ppl"] and rows[3]["ppl"] is not None
    assert all(rows[i]["quality"] > 0 for i in rows)
    # --repetition emits the A1.2 verdict + signals; these varied
    # one-off texts have no within-doc repetition
    assert all(rows[i]["repetition_keep"] is True for i in rows)
    assert all(rows[i]["dup_line_frac"] == 0.0 for i in rows)


def test_cli_curate_cross_modal(spark, tmp_path):
    """--embeddings switches to cross-modal curation: two lexically
    distinct docs with near-identical embeddings collapse to one."""
    from cs533_big_data_data_mining_spark.__main__ import main

    src = str(tmp_path / "docs_cm.parquet")
    emb = str(tmp_path / "emb_cm.parquet")
    out = str(tmp_path / "curated_cm.parquet")
    docs = spark.createDataFrame(
        [
            (1, "first document about spark engines and their big shuffle behavior"),
            (2, "second text concerning completely different words in every position"),
            (3, "third item also unique lexically from the others in this corpus"),
        ],
        "doc_id long, text string",
    )
    docs.write.parquet(src)
    vecs = {1: [1.0, 0.0, 0.0], 2: [1.0, 0.0, 0.0], 3: [0.0, 1.0, 0.0]}  # 1~2 semantically
    spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "vec_id long, embedding array<double>"
    ).write.parquet(emb)

    assert main(["curate", "-i", src, "-o", out, "--embeddings", emb, "--cosine", "0.99"]) == 0
    ids = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert ids == [1, 3]  # 2 collapsed into 1 through the semantic edge
