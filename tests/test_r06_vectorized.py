"""r6 optimization round: vectorized Arrow paths must match their
Column-form specs exactly (decode LUT, buffer-reuse encode, numpy
token minhash signatures)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def test_token_signature_fused_properties(spark):
    """Fused gram-hash+signature path: identical token streams get
    identical signatures; disjoint streams differ; short (< gram_k)
    docs are handled; output is deterministic across invocations."""
    from rsyslog_spark.datapipe.dedup import token_minhash_signature_arrow

    rows = [
        (0, [10, 20, 30, 40, 50, 60, 70]),
        (1, [10, 20, 30, 40, 50, 60, 70]),   # identical to 0
        (2, [90, 91, 92, 93, 94, 95, 96]),   # disjoint
        (3, [7, 8]),                          # shorter than gram_k
        (4, [7, 8]),                          # identical short doc
    ]
    df = spark.createDataFrame(rows, "id long, t array<int>")

    def sigs():
        out = df.select(
            "id",
            token_minhash_signature_arrow(F.col("t"), 4, 8).alias("s"),
        ).orderBy("id").collect()
        return {r.id: list(r.s) for r in out}

    s1 = sigs()
    assert s1[0] == s1[1]
    assert s1[0] != s1[2]
    assert len(s1[3]) == 8 and s1[3] == s1[4]
    assert sigs() == s1  # deterministic


def test_encode_line_roundtrip(spark):
    """Arrow buffer-reuse encode: decode(encode(line)) == line for
    ASCII, and the fallback handles non-ASCII code points exactly."""
    from rsyslog_spark import corpus
    from rsyslog_spark.parsing.core import decode_tokens

    lines = [
        ("<13>Feb  3 04:05:06 h tag: msg",),
        ("",),
        ("plain ascii 0123!~",),
    ]
    df = corpus.encode_line(
        spark.createDataFrame(lines, "line string")
    )
    got = df.select(
        "line",
        F.col("n_tok"),
        decode_tokens("tokens").alias("back"),
    ).collect()
    for r in got:
        assert r.back == r.line and r.n_tok == len(r.line)
    # non-ASCII goes through the exact ord() fallback
    wide = corpus.encode_line(
        spark.createDataFrame([("héllo ☺",)], "line string")
    ).select("tokens").collect()[0].tokens
    assert list(wide) == [ord(c) for c in "héllo ☺"]


def test_token_minhash_pairs_still_finds_identical_docs(spark):
    """End-to-end: byte-identical token streams collide in every band
    and come out with a full-signature match."""
    from rsyslog_spark.datapipe.dedup import token_minhash_pairs

    toks = [3, 14, 15, 92, 65, 35, 89, 79, 32, 38]
    rows = [("a", toks), ("b", toks), ("c", [9, 9, 9, 9, 9, 1, 2, 3])]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = token_minhash_pairs(df, threshold=0.9).collect()
    assert len(out) == 1
    r = out[0]
    assert {r.id_a, r.id_b} == {"a", "b"} and r.est_jaccard == 1.0
