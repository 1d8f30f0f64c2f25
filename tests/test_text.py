"""Text functions (tokenize/lang-id/quality/fingerprint/shingles)."""

import pytest
from pyspark.sql import functions as F

from cs533_big_data_data_mining_spark.functions.text import (
    FINGERPRINT_MOD,
    char_shingles,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
    tokenize,
    word_ngrams,
    word_shingles,
)


def _one(spark, text, expr):
    return spark.createDataFrame([(text,)], "text string").select(expr.alias("v")).head()["v"]


def test_tokenize_edges(spark):
    assert _one(spark, "  a  b\tc ", tokenize("text")) == ["a", "b", "c"]
    assert _one(spark, "", token_count("text")) == 0
    assert _one(spark, "one", token_count("text")) == 1


def _py_ngrams(text, n):
    """Python twin of word_ngrams: whitespace tokens, all n-grams in order."""
    toks = (text or "").split()
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _py_shingles(text, n):
    """Python twin of word_shingles: the n-grams, first occurrence kept."""
    return list(dict.fromkeys(_py_ngrams(text, n)))


_GRAM_TEXTS = [
    # NULL, empty, blank, tabs and runs of spaces
    None, "", "   ", "\t \t", "  a\t\tb   c  d\t",
    # fewer than, exactly and more than n tokens for n in 1..3
    "a", "one", "a b", "a b c", "a b c d",
    # repeated grams
    "x y x y x y", "to be or not to be", "a a a a",
]


def test_word_shingles(spark):
    # word_ngrams keeps repeated grams, word_shingles drops them
    df = spark.createDataFrame(list(enumerate(_GRAM_TEXTS)), "id int, text string")
    for fn, twin in ((word_ngrams, _py_ngrams), (word_shingles, _py_shingles)):
        rows = df.select("id", *[fn("text", n).alias(f"g{n}") for n in (1, 2, 3)]).collect()
        for r in rows:
            for n in (1, 2, 3):
                text = _GRAM_TEXTS[r["id"]]
                assert r[f"g{n}"] == twin(text, n), (fn.__name__, text, n)


@pytest.mark.parametrize("fn", [word_ngrams, word_shingles])
def test_word_grams_tokenize_once(spark, fn):
    # the gram builder reads the token array by reference: the analyzed
    # plan holds ONE split of the text, not one per gram
    df = spark.createDataFrame([("a b c d",)], "text string").select(fn("text", 3).alias("g"))
    assert df._jdf.queryExecution().analyzed().toString().count("split(") == 1


def test_char_shingles(spark):
    assert _one(spark, "abcd", char_shingles("text", 3)) == ["abc", "bcd"]


def test_lang_id(spark):
    assert _one(spark, "the cat sat on the mat and slept", lang_id("text")) == "en"
    assert _one(spark, "el gato que duerme en la casa y los perros", lang_id("text")) == "es"
    assert _one(spark, "der hund und die katze ist nicht hier", lang_id("text")) == "de"
    assert _one(spark, "le chat et les chiens est une maison", lang_id("text")) == "fr"
    assert _one(spark, "xyzzy plugh qwop", lang_id("text")) == "und"
    # tie -> alphabetically first
    assert _one(spark, "the el", lang_id("text")) in ("en", "es")


def test_quality_score_bounds(spark):
    for text in ["", "x", "the quick brown fox " * 20, "!!! ??? 123"]:
        v = _one(spark, text, quality_score("text"))
        assert 0.0 <= v <= 1.0, (text, v)
    rich = _one(spark, "the quick brown fox jumps over the lazy dog and runs away fast", quality_score("text"))
    junk = _one(spark, "!!!! #### 1234 ....", quality_score("text"))
    assert rich > junk


def test_fingerprint_deterministic(spark):
    a = _one(spark, "hello world", fingerprint("text"))
    b = _one(spark, "hello world", fingerprint("text"))
    c = _one(spark, "hello worlD", fingerprint("text"))
    assert a == b != c
    assert 0 <= a < FINGERPRINT_MOD
    # matches the reference recurrence computed in python
    want = 0
    for ch in "hello world":
        want = (want * 31 + ord(ch)) % FINGERPRINT_MOD
    assert a == want


def test_text_functions_on_documents(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        lang_id("text").alias("lang_guess"),
        quality_score("text").alias("q"),
        fingerprint("text").alias("fp"),
    )
    rows = out.collect()
    assert len(rows) == docs.count()
    assert all(r["n_tokens"] > 0 and 0 <= r["q"] <= 1 for r in rows)


def test_subword_count_gpt2ish(spark):
    from pyspark.sql import functions as F

    from cs533_big_data_data_mining_spark.functions.text import subword_count, subword_tokens

    df = spark.createDataFrame(
        [("it's 2024, isn't it?",), ("hello   world",), ("",)], ["text"]
    )
    got = df.select(
        subword_tokens("text").alias("toks"), subword_count("text").alias("n")
    ).collect()
    # "it" "'s" " 2024" "," " isn" "'t" " it" "?"
    assert got[0]["toks"] == ["it", "'s", " 2024", ",", " isn", "'t", " it", "?"]
    assert got[0]["n"] == 8
    assert got[1]["toks"] == ["hello", " world"]
    assert got[2]["n"] == 0


def test_tfidf_small(spark):
    from cs533_big_data_data_mining_spark.operators.tfidf import tf_idf

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a c"), (3, "c c d")], ["doc_id", "text"]
    )
    rows = {(r["id"], r["term"]): r for r in tf_idf(df, "doc_id", "text").collect()}
    import math

    assert rows[(1, "a")]["tf"] == 2 and rows[(1, "a")]["df"] == 2
    want = round(2 * (math.log(4 / 3) + 1), 6)
    assert abs(rows[(1, "a")]["tfidf"] - want) < 1e-9
    # hapax pruning
    from cs533_big_data_data_mining_spark.operators.tfidf import tf_idf as t2

    pruned = t2(df, "doc_id", "text", min_df=2).select("term").distinct().collect()
    assert {r["term"] for r in pruned} == {"a", "c"}


def test_clean_text(spark):
    from cs533_big_data_data_mining_spark.functions.text import clean_text

    df = spark.createDataFrame(
        [
            (1, "<p>Hello <b>World</b></p> visit https://x.io/a?q=1 or www.y.com/z now"),
            (2, "no  markup\t\tjust   spaces\n\nhere"),
            (3, "<br/>"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.c for r in df.select("doc_id", clean_text("text").alias("c")).collect()}
    assert got[1] == "Hello World visit or now"
    assert got[2] == "no markup just spaces here"
    assert got[3] == ""
    assert got[4] is None

    low = df.select("doc_id", clean_text("text", lowercase=True).alias("c")).collect()
    assert {r.doc_id: r.c for r in low}[1] == "hello world visit or now"

    # knobs off = pass-through of that stage
    keep = df.select("doc_id", clean_text("text", strip_html=False, strip_urls=False).alias("c")).collect()
    assert "<p>Hello" in {r.doc_id: r.c for r in keep}[1]
