"""Unit tests for pure functions: text, tags, scoring, vector.

Each expression has a Python twin (or the reference semantics restated);
we check the column expression against it on adversarial inputs.
"""

import math

from pyspark.sql import functions as F

from automem_spark.functions.tags import compute_tag_prefixes, tag_filter_expr, tag_prefixes_expr, exclude_tags_expr
from automem_spark.functions.text import (
    extract_keywords,
    fingerprint_expr,
    first_sentence_summary_expr,
    keywords_expr,
    slugify_expr,
)
from automem_spark.functions.vector import cosine_expr, placeholder_embedding


def test_extract_keywords_reference_semantics():
    # length>=3, stopwords dropped, order-preserving dedup, strip -_
    assert extract_keywords("The quick brown fox and the dog") == ["quick", "brown", "fox", "dog"]
    assert extract_keywords("_foo-bar_ foo-bar ab") == ["foo-bar"]
    assert extract_keywords("") == []
    assert extract_keywords("the and for") == []


def test_keywords_expr_matches_python(spark):
    texts = [
        "The quick brown fox and the dog",
        "spark SQL query optimization with catalyst",
        "a bb ccc dddd",
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["t"])
    got = [r[0] for r in df.select(keywords_expr(F.col("t"))).collect()]
    # column version doesn't preserve first-seen order identically for
    # array_except, but must match as a set and respect filters
    for g, t in zip(got, texts):
        assert set(g) == set(extract_keywords(t))


def test_tag_prefixes_reference_semantics(spark):
    tags = ["Project:Alpha:API", "lang/python", "simple", ""]
    expected = compute_tag_prefixes(tags)
    assert expected == [
        "project", "project:alpha", "project:alpha:api", "lang", "lang:python", "simple",
    ]
    df = spark.createDataFrame([(tags,)], ["tags"])
    got = df.select(tag_prefixes_expr(F.col("tags"))).collect()[0][0]
    assert sorted(got) == sorted(expected)


def test_tag_filter_exact_and_prefix(spark):
    rows = [
        (1, ["project:alpha:api", "meeting"]),
        (2, ["project:beta", "lang/python"]),
        (3, ["other"]),
    ]
    df = spark.createDataFrame(rows, ["id", "tags"])
    # exact any
    got = df.filter(tag_filter_expr(F.col("tags"), ["meeting"], mode="any", match="exact"))
    assert [r.id for r in got.collect()] == [1]
    # prefix any (canonicalizes / to :)
    got = df.filter(tag_filter_expr(F.col("tags"), ["project"], mode="any", match="prefix"))
    assert sorted(r.id for r in got.collect()) == [1, 2]
    got = df.filter(tag_filter_expr(F.col("tags"), ["lang:python"], mode="any", match="prefix"))
    assert [r.id for r in got.collect()] == [2]
    # prefix all
    got = df.filter(
        tag_filter_expr(F.col("tags"), ["project:alpha", "meeting"], mode="all", match="prefix")
    )
    assert [r.id for r in got.collect()] == [1]
    # exclude
    got = df.filter(exclude_tags_expr(F.col("tags"), ["project"]))
    assert [r.id for r in got.collect()] == [3]


def test_fingerprint_matches_reference(spark):
    import re

    def ref_fingerprint(content):
        if not content:
            return None
        cleaned = (
            re.sub(r"[`*_#>~\-]", " ", str(content).lower())
            .encode("ascii", "ignore")
            .decode("ascii", "ignore")
        )
        cleaned = re.sub(r"[^\w\s]", " ", cleaned)
        cleaned = re.sub(r"\s+", " ", cleaned).strip()
        return cleaned[:320] if cleaned else None

    texts = [
        "# Hello *World*! This is `code`.",
        "Ünïcödé stripped — yes.",
        "a" * 500,
        "   ",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["t"])
    got = [r[0] for r in df.select(fingerprint_expr(F.col("t"))).collect()]
    assert got == [ref_fingerprint(t) for t in texts]


def test_slugify(spark):
    df = spark.createDataFrame([("Alice Smith!!",), ("  PostgreSQL 16 ",)], ["t"])
    got = [r[0] for r in df.select(slugify_expr(F.col("t"))).collect()]
    assert got == ["alice-smith", "postgresql-16"]


def test_first_sentence_summary(spark):
    long = "word " * 100
    df = spark.createDataFrame(
        [("First sentence. Second sentence.",), (long,)], ["t"]
    )
    got = [r[0] for r in df.select(first_sentence_summary_expr(F.col("t"))).collect()]
    assert got[0] == "First sentence."
    assert len(got[1]) <= 240
    assert not got[1].endswith(" wor")  # word-boundary cut


def test_placeholder_embedding_bit_exact():
    # Known-value check via the reference algorithm restated inline
    import hashlib
    import random

    content = "hello world"
    digest = hashlib.sha256(content.encode()).digest()
    seed = int.from_bytes(digest[:8], "little", signed=False)
    rng = random.Random(seed)
    expected = [rng.random() for _ in range(8)]
    assert placeholder_embedding(content, 8) == expected


def test_cosine_expr(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [1.0, 2.0]), ([0.0, 0.0], [1.0, 1.0])],
        ["a", "b"],
    )
    got = [r[0] for r in df.select(cosine_expr(F.col("a"), F.col("b"))).collect()]
    assert abs(got[0] - 0.0) < 1e-12
    assert abs(got[1] - 1.0) < 1e-12
    assert got[2] == 0.0


def test_percentile_approx_close_to_exact(spark, sf_dir):
    """The 100 TB tier of corpus_quantiles swaps exact percentile for
    percentile_approx (mergeable sketch, no per-group sort). Pin the
    accuracy contract: at accuracy=10000 the approx p50/p90 of the doc
    length distribution lands within 5% of the exact value per source
    (approx returns an actual data value; exact interpolates between
    ranks, so the bound includes the distribution's discretization)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    both = docs.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.5)").alias("exact50"),
        F.expr("percentile(n_chars, 0.9)").alias("exact90"),
        F.expr("percentile_approx(n_chars, 0.5, 10000)").alias("apx50"),
        F.expr("percentile_approx(n_chars, 0.9, 10000)").alias("apx90"),
    ).collect()
    assert both
    for r in both:
        assert abs(r["apx50"] - r["exact50"]) <= max(1.0, 0.05 * r["exact50"])
        assert abs(r["apx90"] - r["exact90"]) <= max(1.0, 0.05 * r["exact90"])


def test_ascii_token_spans_matches_python_normalizer():
    """The byte-level tokenizer (r14, functions/asciitok.py) must reproduce
    the Python reference normalizer exactly on ASCII input: same tokens,
    same counts, and the span-slice property the MinHash shingle builder
    relies on (comp[start_i : start_j + len_j] == " ".join(words[i..j]))."""
    import re

    import numpy as np
    import pyarrow as pa

    from automem_spark.functions.asciitok import ascii_token_spans

    punct = re.compile(r"[^\w\s]", re.ASCII)
    ws = re.compile(r"\s+", re.ASCII)
    docs = [
        "",
        "   ",
        "!!! ... ??",
        "one",
        "two words",
        "The, quick! brown; fox fox fox",
        "Tab\tand\nnewline   runs \x0b vertical",
        "_under score_ 0 0 9digit x" * 3,
        "a" * 300,
        "word " * 50,
        "MiXeD CaSe TOKENS",
    ]
    arr = pa.array(docs, type=pa.string())
    comp, tok_start, tok_len, per_doc = ascii_token_spans(arr)
    assert len(per_doc) == len(docs)
    cum = np.concatenate(([0], np.cumsum(per_doc)))
    for d, text in enumerate(docs):
        words = [
            w
            for w in ws.sub(" ", punct.sub(" ", text.lower())).strip().split(" ")
            if w
        ]
        toks = [
            comp[tok_start[t] : tok_start[t] + tok_len[t]].tobytes().decode()
            for t in range(cum[d], cum[d + 1])
        ]
        assert toks == words, (d, text)
        # span-slice property over every window
        for i in range(len(words)):
            for j in range(i, len(words)):
                ti, tj = cum[d] + i, cum[d] + j
                got = comp[tok_start[ti] : tok_start[tj] + tok_len[tj]].tobytes()
                assert got == " ".join(words[i : j + 1]).encode(), (d, i, j)


def test_ascii_token_spans_rejects_non_string_offsets():
    """r15 (ADVICE r14): the tokenizer parses int32 offsets, so any Arrow
    string type with different offset width (large_string: int64) must be
    rejected loudly — silently misparsing offsets would produce wrong token
    spans, i.e. wrong MinHash signatures."""
    import pyarrow as pa
    import pytest

    from automem_spark.functions.asciitok import ascii_token_spans

    arr = pa.array(["a b c"], type=pa.large_string())
    with pytest.raises(TypeError, match="pa.string"):
        ascii_token_spans(arr)


def test_ascii_token_spans_rejects_chunked_array():
    """A string ChunkedArray reports the same pa.string() type as an Array
    but has no single offsets buffer: it must be rejected with the
    explanatory TypeError, not fail later on a missing attribute."""
    import pyarrow as pa
    import pytest

    from automem_spark.functions.asciitok import ascii_token_spans

    arr = pa.chunked_array([["a b"], ["c d"]], type=pa.string())
    assert arr.type == pa.string()
    with pytest.raises(TypeError, match="ChunkedArray"):
        ascii_token_spans(arr)
