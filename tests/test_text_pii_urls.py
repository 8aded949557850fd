"""PII redaction, URL normalization, incremental dedup, and line-level
dedup: semantic unit tests on hand-built corpora (the catalog queries
cover the oracle cross-check; these pin the operator contracts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rapids_and_rivers_spark.operators import dedup as D
from rapids_and_rivers_spark.operators import text as T


def test_redact_pii_all_classes(spark):
    df = spark.createDataFrame(
        [
            ("mail bob.smith+x@sub.example.org now",),
            ("call +47 555-123-4567 or 555 123 4567",),
            ("host 192.168.1.42 and 10.0.0.1 up",),
            ("clean text, nothing here",),
        ],
        "t string",
    )
    out = df.select(
        T.redact_pii(F.col("t")).alias("r"),
        T.pii_count(F.col("t"), "email").alias("e"),
        T.pii_count(F.col("t"), "phone").alias("p"),
        T.pii_count(F.col("t"), "ipv4").alias("i"),
    ).collect()
    assert out[0].r == "mail [EMAIL] now" and out[0].e == 1
    # '+47 555-...' — the +47 prefix isn't part of the 3-3-4 shape; both
    # dashed and spaced separators match
    assert out[1].r == "call +47 [PHONE] or [PHONE]" and out[1].p == 2
    assert out[2].r == "host [IPV4] and [IPV4] up" and out[2].i == 2
    assert out[3].r == "clean text, nothing here"
    assert (out[3].e, out[3].p, out[3].i) == (0, 0, 0)


def test_redact_pii_order_email_before_phone(spark):
    # an email whose local part looks phone-ish must be eaten by the
    # email pass first, not half-redacted as a phone
    df = spark.createDataFrame([("x 555-123-4567@example.com y",)], "t string")
    assert df.select(T.redact_pii(F.col("t")).alias("r")).first().r == "x [EMAIL] y"


def test_url_normalize_sorts_query_drops_fragment(spark):
    df = spark.createDataFrame(
        [
            ("https://Ex.COM/Path?b=2&a=1#frag",),
            ("https://ex.com/Path?a=1&b=2",),
            ("HTTP://Host.Net/x",),
        ],
        "u string",
    )
    rows = df.select(
        T.url_normalize(F.col("u")).alias("n"), T.url_host(F.col("u")).alias("h")
    ).collect()
    # trivially-different forms canonicalize to the same URL
    assert rows[0].n == rows[1].n == "https://ex.com/Path?a=1&b=2"
    assert rows[0].h == "ex.com"
    assert rows[2].n == "http://host.net/x" and rows[2].h == "host.net"


def test_incremental_new_anti_joins_base(spark):
    base = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], "doc_id long, text string"
    )
    incoming = spark.createDataFrame(
        [
            (10, "seen before"),   # dup vs base -> dropped
            (11, "brand new"),
            (12, "brand new"),     # within-batch dup -> merged, keeper 11
            (13, "another new"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.keep_id: r.n
        for r in D.incremental_new(incoming, base).collect()
    }
    assert out == {11: 2, 13: 1}


def test_line_dedup_keeps_first_occurrence(spark):
    # chunk=2 pseudo-lines; 'a b' appears in docs 1 and 2 -> doc 2 loses it
    df = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b x y"),
            (3, "x y"),  # 'x y' first occurs at (2, pos 1) -> doc 3 empties
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in D.line_dedup(df, chunk=2).collect()}
    # doc 1 keeps both lines (first occurrences); doc 2 drops 'a b'
    # (first seen at (1, 0)) but keeps 'x y'; doc 3 drops 'x y' (first
    # seen at (2, 1)) and reassembles to the empty string
    assert (rows[1].n_chunks, rows[1].n_kept) == (2, 2)
    assert (rows[2].n_chunks, rows[2].n_kept) == (2, 1)
    assert (rows[3].n_chunks, rows[3].n_kept) == (1, 0)
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert rows[1].kept_fp == md5("a b c d")
    assert rows[2].kept_fp == md5("x y")
    assert rows[3].kept_fp == md5("")


def test_line_dedup_partial_last_chunk(spark):
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    r = D.line_dedup(df, chunk=2).first()
    # 3 chunks: 'a b', 'c d', 'e' (short tail kept as its own line)
    assert r.n_chunks == 3 and r.n_kept == 3


def test_line_dedup_hot_line_skew(spark):
    """One boilerplate line duplicated 1e5x across docs: the min-struct
    partial agg (and the explicit salted two-phase) must stay within a
    small time budget and keep exactly the first occurrence. Both paths
    must agree row-for-row."""
    import time

    from pyspark.sql import functions as F

    n = 100_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # every doc carries THE hot line; each doc also has a unique line
        F.concat(F.lit("hot hot "), F.lit("u"), F.col("id").cast("string"),
                 F.lit(" tail")).alias("text"),
    )
    start = time.perf_counter()
    plain = {r.doc_id: r for r in D.line_dedup(df, chunk=2).collect()}
    elapsed = time.perf_counter() - start
    assert elapsed < 60, f"hot-line dedup took {elapsed:.1f}s"
    # doc 0 keeps both its lines; every other doc loses 'hot hot' but
    # keeps its unique tail line
    assert (plain[0].n_chunks, plain[0].n_kept) == (2, 2)
    assert (plain[1].n_chunks, plain[1].n_kept) == (2, 1)
    assert (plain[n - 1].n_chunks, plain[n - 1].n_kept) == (2, 1)
    salted = {r.doc_id: r for r in D.line_dedup(df, chunk=2, salt_buckets=8).collect()}
    assert len(salted) == len(plain)
    for doc_id in (0, 1, 7, n - 1):
        assert salted[doc_id] == plain[doc_id]


def test_bpe_merge_left_to_right_nonoverlapping(spark):
    """'aaa' with pair (a,a) merges position 0 only (island parity);
    'abab' with pair (a,b) merges positions 0 AND 2."""
    from rapids_and_rivers_spark.operators import text as T

    words = spark.createDataFrame(
        [("aaa", 1), ("abab", 1)], "word string, n long"
    )
    t1 = T.bpe_apply_merge(T.bpe_char_tokens(words), "a", "a")
    aaa = [r["t"] for r in t1.filter("word = 'aaa'").orderBy("p").collect()]
    assert aaa == ["aa", "a"]
    t2 = T.bpe_apply_merge(T.bpe_char_tokens(words), "a", "b")
    abab = [r["t"] for r in t2.filter("word = 'abab'").orderBy("p").collect()]
    assert abab == ["ab", "ab"]


def test_bpe_encode_counts_invariants(spark):
    """Encoding with the trained merges: tokens per doc sit between
    words (every word >= 1 token) and chars (2 merges can only shrink),
    compression is exactly round(chars/tokens, 4), and the word/char
    totals re-derive from the same split+filter the query declares."""
    from pyspark.sql import functions as F

    from rapids_and_rivers_spark import catalog

    sf = "/root/testdata/sf0.001"
    rows = catalog.bpe_encode_counts(spark, sf).collect()
    assert rows
    assert any(r["n_tokens"] < r["n_chars"] for r in rows)  # merges applied
    from rapids_and_rivers_spark.streaming.duals import _round_half_up

    for r in rows:
        assert r["n_words"] <= r["n_tokens"] <= r["n_chars"]
        # F.round is HALF_UP; Python round() is banker's (1.03125 -> 1.0312)
        assert r["compression"] == _round_half_up(r["n_chars"] / r["n_tokens"], 4)
    docs = catalog.load_table(spark, sf, "documents")
    dw = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word"),
    ).filter(F.length("word").between(1, 12))
    base = {
        r["doc_id"]: (r["w"], r["c"])
        for r in dw.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("w"), F.sum(F.length("word")).alias("c"))
        .collect()
    }
    assert {r["doc_id"]: (r["n_words"], r["n_chars"]) for r in rows} == base


def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    from pyspark.sql import functions as F

    from rapids_and_rivers_spark.operators import text as T

    words = spark.createDataFrame(
        [("aaa", 2), ("aa", 5), ("banana", 1)], "word string, n long"
    )
    pc = {
        (r["x"], r["y"]): r["cnt"]
        for r in T.bpe_pair_counts(T.bpe_char_tokens(words)).collect()
    }
    # (a,a): 2 adjacent pairs in 'aaa' x2 + 1 in 'aa' x5 = 9
    assert pc[("a", "a")] == 9
    assert pc[("a", "n")] == 2 and pc[("n", "a")] == 2 and pc[("b", "a")] == 1


def test_unigram_viterbi_optimal_segmentation(spark):
    """Hand-checkable DP: vocab {a,b,c,ab,bc,abc} with counts chosen so
    'abcb' must take abc|b (2 pieces beats any 3-piece path) and 'abab'
    breaks its piece-count tie (ab|ab vs a|bab...) by frequency mass."""
    from pyspark.sql import functions as F

    from rapids_and_rivers_spark.operators import text as T

    words = spark.createDataFrame(
        [("abcb", 5), ("abab", 3), ("z", 1)], "word string, n long"
    )
    vocab = [
        ("a", 100),
        ("b", 90),
        ("c", 80),
        ("z", 1),
        ("ab", 60),
        ("bc", 70),
        ("abc", 40),
    ]
    seg = {r["word"]: r for r in T.unigram_viterbi(words, vocab).collect()}
    assert seg["abcb"]["pieces"] == 2
    assert seg["abcb"]["path"] == "abc|b"  # 2 pieces beats a|bc|b etc.
    assert seg["abab"]["pieces"] == 2
    assert seg["abab"]["path"] == "ab|ab"
    assert seg["abab"]["negsum"] == -120
    assert seg["z"]["path"] == "z" and seg["z"]["pieces"] == 1


def test_unigram_vocab_budget_and_char_guarantee(spark):
    """Every character present survives the budget cut (so every word
    segments) and the multi-piece cut is exactly top_v with the
    deterministic (cnt desc, piece) tie-break."""
    from rapids_and_rivers_spark.operators import text as T

    words = spark.createDataFrame(
        [("aaaa", 10), ("aabb", 5), ("q", 1)], "word string, n long"
    )
    v = T.unigram_vocab(words, top_v=2, max_len=3).collect()
    chars = {r["piece"] for r in v if r["plen"] == 1}
    assert chars == {"a", "b", "q"}
    multi = [(r["piece"], r["cnt"]) for r in v if r["plen"] > 1]
    # aa: 10*3 + 5*1 = 35; aaa: 10*2 = 20; ab: 5; bb: 5; aab: 5 ...
    assert sorted(multi, key=lambda t: (-t[1], t[0])) == [("aa", 35), ("aaa", 20)]


def test_unigram_encode_counts_invariants(spark):
    """Viterbi tokens per doc never exceed chars, never beat words
    (each word >= 1 piece), multi-char pieces strictly help somewhere,
    and compression is exactly round(chars/tokens, 4)."""
    from rapids_and_rivers_spark import catalog
    from rapids_and_rivers_spark.streaming.duals import _round_half_up

    sf = "/root/testdata/sf0.001"
    rows = catalog.unigram_encode_counts(spark, sf).collect()
    assert rows
    for r in rows:
        assert r["n_words"] <= r["n_tokens"] <= r["n_chars"]
        # Spark F.round is HALF_UP (45/32 = 1.40625 -> 1.4063), Python's
        # builtin round is banker's — compare with the engines' rule
        assert (
            abs(r["compression"] - _round_half_up(r["n_chars"] / r["n_tokens"], 4))
            < 1e-9
        )
    assert any(r["n_tokens"] < r["n_chars"] for r in rows)
