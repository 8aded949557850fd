"""Text analysis operators: tokenization, quality scoring, language id,
fingerprinting. All pure Column expressions (JVM-side, codegen) — no
Python on the data path.

Scale notes: every function here is a narrow per-row projection — no
shuffle, no state — so cost is linear in bytes scanned and fuses into the
scan stage at any data size.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: minimal, deterministic stopword marker sets for the language-id heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "und", "die", "das", "ist"],
    "es": ["el", "la", "los", "que", "de"],
    "fr": ["le", "les", "des", "et", "est"],
}

EN_STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "for"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization: array of non-empty tokens."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def char_count(col: Column) -> Column:
    return F.length(col)


def avg_token_len(col: Column, ndigits: int = 4) -> Column:
    """Mean token length (NULL for empty text)."""
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.round(total / F.nullif(F.size(toks), F.lit(0)), ndigits)


def stopword_ratio(
    col: Column, stopwords: list[str] | None = None, ndigits: int | None = 4
) -> Column:
    """Fraction of tokens that are stopwords — a classic quality signal.

    ``ndigits=None`` skips rounding: compose-then-round-once avoids
    landing on exact decimal midpoints where engines' rounding rules
    diverge (Spark BigDecimal HALF_UP vs scaled-double rounding).
    """
    sw = stopwords or EN_STOPWORDS
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(sw)))
    ratio = hits / F.nullif(F.size(toks), F.lit(0)).cast("double")
    return ratio if ndigits is None else F.round(ratio, ndigits)


def punct_ratio(col: Column, ndigits: int = 4) -> Column:
    """Fraction of characters that are punctuation."""
    stripped = F.regexp_replace(col, r"[.,;:!?'\"()\[\]{}]", "")
    n = F.length(col)
    return F.round(
        (n - F.length(stripped)) / F.nullif(n, F.lit(0)).cast("double"), ndigits
    )


def marker_score(col: Column, markers: list[str]) -> Column:
    """Count of tokens that are language-marker words."""
    return F.size(F.filter(tokens(col), lambda t: t.isin(markers)))


def lang_id(col: Column) -> Column:
    """N-gram/stopword-heuristic language id with a fixed tie-break order.

    argmax over marker counts; ties resolve in en > de > es > fr order so
    the result is fully deterministic.
    """
    scores = {lang: marker_score(col, m) for lang, m in LANG_MARKERS.items()}
    return (
        F.when(
            (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["fr"]),
            "en",
        )
        .when((scores["de"] >= scores["es"]) & (scores["de"] >= scores["fr"]), "de")
        .when(scores["es"] >= scores["fr"], "es")
        .otherwise("fr")
    )


# --- repetition signals (Gopher-style quality rules) --------------------------
#
# Rae et al. 2021 (Gopher, arXiv:2112.11446 A1.1) and the C4 cleanup
# (Raffel et al. 2020) filter training documents on repetition: a high
# duplicate-token or duplicate-n-gram fraction marks boilerplate/spam.
# All three signals below are per-row Column expressions over a BOUND
# token array (see operators/dedup.py module docstring) — no shuffle.


def distinct_token_ratio(toks: Column, ndigits: int = 4) -> Column:
    """|distinct tokens| / |tokens| — low values mean heavy repetition."""
    return F.round(
        F.size(F.array_distinct(toks))
        / F.nullif(F.size(toks), F.lit(0)).cast("double"),
        ndigits,
    )


def top_token_ratio(toks: Column, ndigits: int = 4) -> Column:
    """Share of the most frequent token (Gopher caps this at ~0.1-0.2).

    O(distinct x n) per row — fine for documents (n is bounded by doc
    length); the equivalent explode+groupBy shape is only worth its two
    shuffles for extreme row sizes.
    """
    uniq = F.array_distinct(toks)
    counts = F.transform(
        uniq, lambda u: F.size(F.filter(toks, lambda t: t == u))
    )
    return F.round(
        F.array_max(counts) / F.nullif(F.size(toks), F.lit(0)).cast("double"),
        ndigits,
    )


def dup_bigram_fraction(toks: Column, ndigits: int = 4) -> Column:
    """Fraction of word bigrams that are duplicates of an earlier bigram
    (1 - distinct/total); NULL for texts with < 2 tokens."""
    idx = F.sequence(F.lit(1), F.size(toks) - 1)
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 2))),
    )
    return F.round(
        (F.size(bigrams) - F.size(F.array_distinct(bigrams)))
        / F.size(bigrams).cast("double"),
        ndigits,
    )


def symbol_ratio(col: Column, ndigits: int = 4) -> Column:
    """Fraction of characters that are neither alphanumeric nor whitespace
    (the Gopher symbol-to-word screen, simplified to chars)."""
    n = F.length(col)
    stripped = F.regexp_replace(col, r"[A-Za-z0-9\s]", "")
    return F.round(F.length(stripped) / F.nullif(n, F.lit(0)).cast("double"), ndigits)


# --- hashed linear scoring (classifier inference without UDFs) ----------------


def token_hash_bucket(tok: Column, dim: int) -> Column:
    """Deterministic feature bucket for a token: md5-prefix mod ``dim``.

    md5 (not xxhash64) so the bucket function has an exact SQL twin in
    any engine — the same determinism contract as the KMV sketch.
    """
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long") % dim


def hashed_linear_score(col: Column, weights: list[float], ndigits: int = 4) -> Column:
    """Linear model inference over hashed token features — the
    fasttext-style quality-classifier scoring pass — as PURE Column math:
    ``score = Σ_tokens weight[hash(token) mod D]``.

    This is the shape for running a small trained model over 100 TB:
    weights ship as an array literal in the plan (a broadcast of KBs),
    scoring fuses into the scan (zero shuffle, zero Python), and the
    per-row sequential fold is bit-deterministic. Larger models swap the
    literal for a broadcast map-side join on the bucket id; only when the
    model needs matrix math does this escalate to a Pandas UDF.
    """
    warr = F.array(*[F.lit(float(w)) for w in weights])
    toks = tokens(col)
    per_tok = F.transform(
        toks, lambda t: F.element_at(warr, (token_hash_bucket(t, len(weights)) + 1).cast("int"))
    )
    return F.round(
        F.aggregate(per_tok, F.lit(0.0), lambda acc, x: acc + x), ndigits
    )


# --- PII detection / redaction ------------------------------------------------
#
# Training-data pipelines scrub personally identifiable information before
# a corpus ships (e.g. the C4 blocklist pass and BigScience/ROOTS PII
# filtering). Regex class detection is the standard first line: emails,
# phone numbers, IP addresses. All patterns below are valid in BOTH Java
# regex (Spark) and RE2 (DuckDB) so oracle queries can replicate them
# verbatim — keep it that way (no backrefs, no lookaround).

#: pattern per PII class; replacement token is ``[<CLASS>]``
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}

#: redaction order matters: emails first (an email's domain must not be
#: half-eaten by a later pattern), then phones, then IPs
PII_ORDER = ["email", "phone", "ipv4"]


def pii_count(col: Column, kind: str) -> Column:
    """Occurrences of one PII class in ``col`` (pure Column, no shuffle)."""
    return F.size(F.regexp_extract_all(col, F.lit(PII_PATTERNS[kind]), 0))


def redact_pii(col: Column, kinds: list[str] | None = None) -> Column:
    """Replace every PII occurrence with its class token (``[EMAIL]`` …).

    A chained ``regexp_replace`` — one JVM pass per class, fused into the
    scan stage; at 100 TB this is the cheapest possible scrub (linear in
    bytes, zero shuffle, codegen-compatible).
    """
    out = col
    for kind in kinds or PII_ORDER:
        out = F.regexp_replace(
            out, PII_PATTERNS[kind], f"[{kind.upper()}]"
        )
    return out


# --- URL normalization --------------------------------------------------------
#
# URL-keyed dedup (one page fetched twice under trivially-different URLs)
# needs canonical forms first: lowercase scheme/host, drop the fragment,
# sort the query parameters. ``F.parse_url`` is the JVM-side parser
# (java.net.URI under the hood) — stays in codegen.


def url_host(col: Column) -> Column:
    """Lowercased host of a URL (NULL if unparseable)."""
    return F.lower(F.parse_url(col, F.lit("HOST")))


def url_normalize(col: Column) -> Column:
    """Canonical URL: lowercase scheme+host, path kept case-sensitive,
    fragment dropped, query parameters sorted bytewise.

    ``https://Ex.COM/Path?b=2&a=1#x`` → ``https://ex.com/Path?a=1&b=2``.
    Pure Column composition — parse once per part, no shuffle.
    """
    scheme = F.lower(F.parse_url(col, F.lit("PROTOCOL")))
    host = url_host(col)
    path = F.parse_url(col, F.lit("PATH"))
    query = F.parse_url(col, F.lit("QUERY"))
    sorted_query = F.array_join(F.sort_array(F.split(query, "&")), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.coalesce(path, F.lit("")),
        F.coalesce(F.concat(F.lit("?"), sorted_query), F.lit("")),
    )


def normalized(col: Column) -> Column:
    """Canonical text form: lowercase, whitespace collapsed, trimmed."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalized(col))


def chunk_starts(toks: Column, stride: int) -> Column:
    """1-based chunk start offsets: 1, 1+stride, … ≤ len(tokens).

    Empty/whitespace-only docs produce a single start (one empty chunk)
    so no document silently disappears from the chunked corpus.
    """
    return F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))


def chunk_documents(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    chunk_size: int = 40,
    stride: int = 30,
):
    """RAG-style overlapping token-window chunking with provenance.

    Splits each document into windows of ``chunk_size`` whitespace tokens
    starting every ``stride`` tokens (``chunk_size - stride`` tokens of
    overlap), keeping (doc id, chunk index, token span) so every chunk is
    traceable to its source bytes. Tail chunks may be shorter than
    ``chunk_size``; they are kept (a retrieval index wants document
    tails too).

    Scale shape: tokenize once per row, generate starts with
    ``sequence``, one ``explode`` — output rows ≈ n_tokens/stride per
    doc, all pure Column ops fused into the scan; zero shuffle, no UDF.
    """
    if chunk_size <= 0 or stride <= 0:
        raise ValueError(f"chunk_size/stride must be positive, got {chunk_size}/{stride}")
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(chunk_starts(toks, stride)).alias("start"),
    )
    piece = F.slice(F.col("__toks"), F.col("start"), chunk_size)
    return base.select(
        F.col(id_col),
        ((F.col("start") - 1) / stride).cast("int").alias("chunk_idx"),
        F.col("start").cast("long").alias("tok_start"),
        F.size(piece).cast("long").alias("chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def text_chars(col: Column) -> Column:
    """Character array of a string (empty-string artifacts of split dropped)."""
    return F.filter(F.split(col, ""), lambda c: c != F.lit(""))


def char_entropy(chars: Column, ndigits: int = 4) -> Column:
    """Character-level Shannon entropy (bits/char) as one Column expression.

    ``chars`` MUST be an attribute-bound array column (select
    :func:`text_chars` into a column first) — it is referenced inside
    higher-order-function lambdas, and Catalyst re-evaluates non-attribute
    expressions per element (the documented 30× pitfall,
    operators/dedup.py module docstring).

    Computes -Σ p·log2(p) from the frequency of each DISTINCT character
    via filter+size — O(distinct·len) per row, fine for natural-language
    alphabets (distinct ≈ 30-80), all JVM-side, zero shuffle (the
    explode+groupBy(doc, char) formulation would shuffle every character
    of the corpus).

    Low entropy flags boilerplate/repeated-char junk; high entropy flags
    binary-ish noise — a standard corpus-quality signal.
    """
    n = F.size(chars)
    probs = F.transform(
        F.array_distinct(chars),
        lambda d: F.size(F.filter(chars, lambda c: c == d)) / n,
    )
    h = -F.aggregate(
        probs,
        F.lit(0.0),
        lambda acc, p: acc + p * F.log2(p),
    )
    return F.when(n > 0, F.round(h, ndigits))


# --- BPE tokenizer training (distributed merge rounds) -----------------------


def bpe_char_tokens(words):
    """Word-count table -> per-character token rows ``(word, n, p, t)``.

    BPE trains on the WORD-COUNT table, not the corpus (Sennrich et al.
    2016; how production tokenizer trainers aggregate first): the corpus
    scan collapses to |vocab| rows before any merge work, so at 100 TB
    the iterative part runs on megabytes.
    """
    from pyspark.sql import functions as F

    return words.select(
        "word", "n", F.posexplode(F.split(F.col("word"), "")).alias("p", "t")
    )


def bpe_pair_counts(tokens):
    """Adjacent-pair frequencies ``(x, y, cnt)`` weighted by word count:
    one self-equi-join on (word, p+1) + keyed agg."""
    from pyspark.sql import functions as F

    a, b = tokens.alias("a"), tokens.alias("b")
    return (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("b.p") == F.col("a.p") + 1),
        )
        .groupBy(F.col("a.t").alias("x"), F.col("b.t").alias("y"))
        .agg(F.sum(F.col("a.n")).alias("cnt"))
    )


def bpe_apply_merge(tokens, x: str, y: str):
    """One BPE merge round: replace every LEFT-TO-RIGHT NON-OVERLAPPING
    occurrence of adjacent pair (x, y) with the merged token x||y.

    The sequential greedy scan is expressed relationally: match
    positions -> gaps-and-islands grouping (p - row_number) -> keep the
    EVEN offsets within each island (in a run like 'aaa' with pair
    (a,a), positions 0 and 1 both match but only 0 merges — exactly the
    island-parity rule). Merged right-halves drop via an anti-join on
    (word, p-1); positions renumber with a per-word window. Every step
    is a per-word window or equi-join — parallel across the vocab,
    nothing sequential survives into the plan.
    """
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy("word").orderBy("p")
    t1 = tokens.withColumn("nxt", F.lead("t").over(w))
    matches = t1.filter((F.col("t") == x) & (F.col("nxt") == y)).select("word", "p")
    grp = (F.col("p") - F.row_number().over(w)).alias("grp")
    wg = Window.partitionBy("word", "grp").orderBy("p")
    sel = (
        matches.select("word", "p", grp)
        .withColumn("rn_in", F.row_number().over(wg))
        .filter((F.col("rn_in") - 1) % 2 == 0)
        .select("word", F.col("p").alias("sp"))
    )
    right = sel.select(F.col("word").alias("rw"), (F.col("sp") + 1).alias("rp"))
    s = sel.select(F.col("word").alias("sw"), "sp")
    base = tokens.alias("base")
    kept = (
        base.join(
            right,
            (F.col("base.word") == F.col("rw")) & (F.col("base.p") == F.col("rp")),
            "left_anti",
        )
        .join(
            s,
            (F.col("base.word") == F.col("sw")) & (F.col("base.p") == F.col("sp")),
            "left",
        )
        .select(
            F.col("base.word").alias("word"),
            F.col("base.n").alias("n"),
            F.col("base.p").alias("p"),
            F.when(F.col("sp").isNotNull(), F.lit(x + y))
            .otherwise(F.col("base.t"))
            .alias("t"),
        )
    )
    return kept.select(
        "word", "n", (F.row_number().over(w) - 1).alias("p"), "t"
    )


# --- Unigram-LM tokenizer (SentencePiece-style vocabulary + Viterbi) ---------


def unigram_candidate_pieces(words, max_len: int = 4):
    """Word-count table ``(word, n)`` -> substring-piece counts
    ``(piece, plen, cnt)`` for pieces of length 2..max_len.

    The unigram trainer's candidate set (Kudo 2018, SentencePiece):
    every substring occurrence, weighted by word frequency. Like the
    BPE trainer (bpe_char_tokens), this runs on the |vocab|-sized
    word-count table, never the corpus, so the candidate scan is
    megabytes at 100 TB.
    """
    from pyspark.sql import functions as F

    spans = (
        words.select(
            "word",
            "n",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i"),
        )
        # guard BEFORE the length sequence: sequence(2, least(4, i)) with
        # i=1 would be the DESCENDING [2, 1] in Spark, not empty
        .filter(F.col("i") >= 2)
        .select(
            "word",
            "n",
            "i",
            F.explode(
                F.sequence(F.lit(2), F.least(F.lit(max_len), F.col("i")))
            ).alias("l"),
        )
    )
    return spans.select(
        F.substring(
            F.col("word"), F.col("i") - F.col("l") + 1, F.col("l")
        ).alias("piece"),
        F.col("l").alias("plen"),
        "n",
    ).groupBy("piece", "plen").agg(F.sum("n").alias("cnt"))


def unigram_vocab(words, top_v: int = 48, max_len: int = 4):
    """Select the tokenizer vocabulary: ALL single characters present
    (guarantees every word segments) plus the top_v most frequent
    multi-character substrings, tie-broken (cnt desc, piece asc) so
    selection is deterministic cross-engine.

    Returns ``(piece, plen, cnt)``. The limit is a bounded top-k
    (top_v rows), the standard vocabulary-budget contract of
    SentencePiece's trainer.
    """
    from pyspark.sql import functions as F

    chars = (
        words.select(
            F.explode(F.split(F.col("word"), "")).alias("piece"), "n"
        )
        .groupBy("piece")
        .agg(F.sum("n").alias("cnt"))
        .select("piece", F.lit(1).alias("plen"), "cnt")
    )
    multi = (
        unigram_candidate_pieces(words, max_len)
        .orderBy(F.desc("cnt"), "piece")
        .limit(top_v)
    )
    return chars.unionByName(multi.select("piece", "plen", "cnt"))


def unigram_viterbi(words, vocab):
    """Optimal segmentation of every distinct word under the vocabulary:
    minimize (piece count, -sum of piece frequencies, path) — an
    integer-exact Viterbi objective (min tokens, frequency tie-break,
    lexicographic final tie-break) chosen so the DP is bit-reproducible
    across engines (float log-prob scores flip argmins cross-engine;
    see the q2 lesson). Returns ``(word, n, pieces, negsum, path)``.

    Execution (guide §4.2, the lsh_bucket_multi pattern): the
    vocabulary is a bounded driver-side collect (|chars| + top_v rows —
    the codebook-collect class), and the whole DP runs as ONE
    Arrow-batched kernel over the distinct-word table — no span
    explode, no join, no interpreted higher-order aggregate. The
    kernel is semantics-identical to the retained Catalyst reference
    (:func:`unigram_viterbi_expr`), INCLUDING the unreachable-position
    null flow (a position no vocab piece reaches yields a null dp
    entry; a candidate built on one carries null fields, and Spark's
    struct ordering sorts null fields FIRST, so such a candidate
    poisons the min exactly like the expression did) — pinned by a
    randomized differential test over vocab-incomplete words.

    Reference anchor: tokenizer-training parity target set next to the
    BPE family (bpe_char_tokens/bpe_apply_merge); the reference itself
    has no tokenizer — this is pipeline surface (SURVEY §2 extensions).
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    # bounded-collect: the trained vocabulary (all corpus chars + the
    # top_v multi-char pieces), KB-scale by construction
    rows = vocab.select("piece", "cnt").collect()
    vmap = {r["piece"]: int(r["cnt"]) for r in rows}
    NS = (None, None, None)  # the null-fields candidate (see docstring)

    def _key(c):
        # Spark struct ordering: field-by-field, null sorts FIRST
        return tuple((0,) if v is None else (1, v) for v in c)

    @pandas_udf("pieces int, negsum long, path string, m boolean")
    def _seg(wcol):
        out = []
        for w in wcol:
            if w is None:
                # a null word has no spans: the reference's inner
                # groupBy drops it — mark for the post-filter
                out.append(NS + (False,))
                continue
            n = len(w)
            matched_any = False
            dp: list = [(0, 0, "")]  # dp[0] = the zero accumulator
            for i in range(1, n + 1):
                cands = []
                for piece_len in range(1, min(4, i) + 1):
                    cnt = vmap.get(w[i - piece_len : i])
                    if cnt is None:
                        continue
                    matched_any = True
                    prev = dp[i - piece_len]
                    if prev is None or prev[0] is None:
                        cands.append(NS)
                    else:
                        piece = w[i - piece_len : i]
                        cands.append(
                            (
                                prev[0] + 1,
                                prev[1] - cnt,
                                piece
                                if prev[0] == 0
                                else prev[2] + "|" + piece,
                            )
                        )
                dp.append(min(cands, key=_key) if cands else None)
            fin = dp[n]
            out.append((NS if fin is None else fin) + (matched_any,))
        return pd.DataFrame(
            out, columns=["pieces", "negsum", "path", "m"]
        )

    # asNondeterministic: the row-drop filter below references the
    # kernel's output, and the optimizer otherwise pushes a SECOND
    # ArrowEvalPython below the filter — every word pays the DP twice
    # (guide §4.4; measured 3 ArrowEvalPython nodes -> 1)
    fin = _seg.asNondeterministic()(F.col("word"))
    return (
        words.select(
            "word",
            "n",
            fin["pieces"].alias("pieces"),
            fin["negsum"].alias("negsum"),
            fin["path"].alias("path"),
            fin["m"].alias("_m"),
        )
        # a word with NO vocab span anywhere was dropped by the
        # reference form's inner groupBy — mirror that contract
        .filter(F.col("_m"))
        .drop("_m")
    )


def unigram_viterbi_expr(words, vocab):
    """Catalyst-expression reference form of :func:`unigram_viterbi`
    (the pre-r12 implementation): ONE equi-join (word-spans x vocab on
    the substring) + ONE word-keyed agg, DP as a JVM-side higher-order
    ``aggregate``. Retained as the differential-test anchor for the
    Arrow kernel; the interpreted per-position filter/array_min made it
    ~2x the kernel's cost at sf0.1.
    """
    from pyspark.sql import functions as F

    spans = words.select(
        "word",
        "n",
        F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i"),
    ).select(
        "word",
        "n",
        "i",
        F.explode(F.sequence(F.lit(1), F.least(F.lit(4), F.col("i")))).alias(
            "l"
        ),
    ).select(
        "word",
        "n",
        "i",
        "l",
        F.substring(
            F.col("word"), F.col("i") - F.col("l") + 1, F.col("l")
        ).alias("piece"),
    )
    matched = spans.join(
        F.broadcast(vocab.select("piece", "cnt")), "piece"
    ).select(
        "word",
        "n",
        F.struct(
            "i", "l", F.col("cnt").cast("long").alias("cnt"), "piece"
        ).alias("s"),
    )
    per_word = matched.groupBy("word", "n").agg(
        F.collect_list("s").alias("spans")
    )
    zero = F.array(
        F.struct(
            F.lit(0).alias("pieces"),
            F.lit(0).cast("long").alias("negsum"),
            F.lit("").alias("path"),
        )
    )

    def step(acc, i):
        def cand(s):
            prev = F.element_at(acc, s["i"] - s["l"] + 1)
            return F.struct(
                (prev["pieces"] + 1).alias("pieces"),
                (prev["negsum"] - s["cnt"]).alias("negsum"),
                F.when(prev["pieces"] == 0, s["piece"])
                .otherwise(F.concat(prev["path"], F.lit("|"), s["piece"]))
                .alias("path"),
            )

        best = F.array_min(
            F.transform(
                F.filter(F.col("spans"), lambda s: s["i"] == i), cand
            )
        )
        return F.concat(acc, F.array(best))

    dp = per_word.select(
        "word",
        "n",
        F.element_at(
            F.aggregate(
                F.sequence(F.lit(1), F.length("word")), zero, step
            ),
            F.length("word") + 1,
        ).alias("fin"),
    )
    return dp.select(
        "word",
        "n",
        F.col("fin.pieces").alias("pieces"),
        F.col("fin.negsum").alias("negsum"),
        F.col("fin.path").alias("path"),
    )


# --- WordPiece tokenizer (greedy longest-match-first) ------------------------


def wordpiece_vocab(words, top_v: int = 32, max_len: int = 4):
    """Word-count table ``(word, n)`` -> WordPiece vocabulary
    ``(piece, cont, plen, cnt)`` with POSITION-AWARE roles: a piece
    occurring at the start of a word (``cont = false``) is a different
    vocabulary entry from the same string continuing a word
    (``cont = true`` — rendered ``##piece`` by convention). That split
    is the defining WordPiece property (Wu et al. 2016; BERT's
    tokenizer) and what distinguishes this from the position-blind
    unigram vocabulary above.

    ALL single characters present in the corpus enter BOTH roles
    (guarantees greedy matching never dead-ends), plus the ``top_v``
    most frequent multi-character pieces PER ROLE, tie-broken
    (cnt desc, piece asc) so the budget cut is deterministic
    cross-engine. Counting runs on the |vocab|-sized word table, never
    the corpus (the bpe_char_tokens scale shape).
    """
    from pyspark.sql import Window, functions as F

    chars = (
        words.select(
            F.explode(F.split(F.col("word"), "")).alias("piece"), "n"
        )
        .groupBy("piece")
        .agg(F.sum("n").alias("cnt"))
    )
    both_roles = chars.select(
        "piece", F.lit(False).alias("cont"), F.lit(1).alias("plen"), "cnt"
    ).unionByName(
        chars.select(
            "piece", F.lit(True).alias("cont"), F.lit(1).alias("plen"), "cnt"
        )
    )
    spans = (
        # guard: sequence(1, len-1) with len=1 is the DESCENDING [1, 0]
        # in Spark, not empty (same pitfall unigram_candidate_pieces
        # documents) — words shorter than 2 chars carry no multi-piece
        words.filter(F.length("word") >= 2)
        .select(
            "word",
            "n",
            F.explode(
                F.sequence(F.lit(1), F.length("word") - 1)
            ).alias("s"),
        )
        .select(
            "word",
            "n",
            "s",
            F.explode(
                F.sequence(
                    F.lit(2),
                    F.least(
                        F.lit(max_len),
                        F.length("word") - F.col("s") + 1,
                    ),
                )
            ).alias("l"),
        )
        .select(
            F.substring(F.col("word"), F.col("s"), F.col("l")).alias(
                "piece"
            ),
            (F.col("s") > 1).alias("cont"),
            F.col("l").alias("plen"),
            "n",
        )
        .groupBy("piece", "cont", "plen")
        .agg(F.sum("n").alias("cnt"))
    )
    w = Window.partitionBy("cont").orderBy(F.desc("cnt"), "piece")
    multi = (
        spans.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_v)
        .drop("rk")
    )
    return both_roles.unionByName(
        multi.select("piece", "cont", "plen", "cnt")
    )


def wordpiece_greedy(words, vocab, max_len: int = 4):
    """Greedy longest-match-first segmentation of every distinct word
    under a position-aware WordPiece vocabulary: starting at position
    1, repeatedly take the LONGEST vocabulary piece that matches at the
    cursor in the correct role (start vs ``##``-continuation), advance
    past it. Deterministic by construction — at a fixed (position,
    length) there is exactly one substring, so "longest match" never
    ties (no float scores, no argmin instability; memory:
    exact-integer-aggregates-for-cross-engine-compares).

    Execution (guide §4.2, the unigram_viterbi pattern): the
    position-aware vocabulary is a bounded driver-side collect and the
    greedy walk runs as ONE Arrow-batched kernel over the distinct-word
    table — no span explode, no join, no interpreted higher-order
    aggregate. Semantics-identical to the retained Catalyst reference
    (:func:`wordpiece_greedy_expr`), including the LEFT-join contract:
    every word comes back, a fully-unmatched one as (toks=0, ok=false).

    Returns ``(word, n, toks, path, ok)``; ``ok = false`` marks a word
    the vocabulary cannot segment (maps to [UNK] downstream — cannot
    happen when the vocab came from :func:`wordpiece_vocab` on the
    same corpus, since every character holds both roles).
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    # bounded-collect: corpus chars (both roles) + 2 x top_v pieces
    vset = {
        (r["piece"], bool(r["cont"]))
        for r in vocab.select("piece", "cont").collect()
    }
    _max_len = int(max_len)

    @pandas_udf("toks int, path string, ok boolean")
    def _walk(wcol):
        out = []
        for w in wcol:
            if w is None:
                # null word: the reference's aggregate over a null
                # sequence yields null fields
                out.append((None, None, None))
                continue
            n = len(w)
            pos, parts = 0, []
            while pos < n:
                for piece_len in range(min(_max_len, n - pos), 0, -1):
                    piece = w[pos : pos + piece_len]
                    if (piece, pos > 0) in vset:
                        parts.append("##" + piece if pos else piece)
                        pos += piece_len
                        break
                else:
                    break  # dead end: walk freezes, ok=false below
            out.append((len(parts), "|".join(parts), pos == n))
        return pd.DataFrame(out, columns=["toks", "path", "ok"])

    fin = _walk(F.col("word"))
    return words.select(
        "word",
        "n",
        fin["toks"].alias("toks"),
        fin["path"].alias("path"),
        fin["ok"].alias("ok"),
    )


def wordpiece_greedy_expr(words, vocab, max_len: int = 4):
    """Catalyst-expression reference form of :func:`wordpiece_greedy`
    (the pre-r12 implementation): ONE broadcast equi-join
    (word spans x vocab on (piece, role)) + ONE word-keyed agg, the
    greedy walk as a JVM-side higher-order ``aggregate`` whose
    accumulator carries ``(pos, toks, path)``. Retained as the
    differential-test anchor for the Arrow kernel.
    """
    from pyspark.sql import functions as F

    spans = words.select(
        "word",
        "n",
        F.explode(F.sequence(F.lit(1), F.length("word"))).alias("s"),
    ).select(
        "word",
        "n",
        "s",
        F.explode(
            F.sequence(
                F.lit(1),
                F.least(F.lit(max_len), F.length("word") - F.col("s") + 1),
            )
        ).alias("l"),
    ).select(
        "word",
        "n",
        "s",
        "l",
        F.substring(F.col("word"), F.col("s"), F.col("l")).alias("piece"),
        (F.col("s") > 1).alias("cont"),
    )
    matched = spans.join(
        F.broadcast(vocab.select("piece", "cont")), ["piece", "cont"]
    ).select(
        "word",
        "n",
        F.struct(
            "s",
            "l",
            F.when(F.col("cont"), F.concat(F.lit("##"), F.col("piece")))
            .otherwise(F.col("piece"))
            .alias("disp"),
        ).alias("m"),
    )
    # LEFT join from the word table: a word with NO matching span at
    # all (every character missing from the vocab's start role) must
    # still come back ok=false — an inner groupBy would silently drop
    # it, diverging from the SQL oracle's LEFT-JOIN walk
    per_word = words.select("word", "n").join(
        matched.groupBy("word").agg(F.collect_list("m").alias("ms")),
        "word",
        "left",
    ).select(
        "word",
        "n",
        F.coalesce(
            F.col("ms"),
            F.array().cast("array<struct<s:int,l:int,disp:string>>"),
        ).alias("ms"),
    )
    zero = F.struct(
        F.lit(1).alias("pos"),
        F.lit(0).alias("toks"),
        F.lit("").alias("path"),
    )

    def step(acc, _):
        here = F.filter(F.col("ms"), lambda m: m["s"] == acc["pos"])
        best = F.array_max(
            F.transform(
                here, lambda m: F.struct(m["l"].alias("l"), m["disp"].alias("disp"))
            )
        )
        return F.when(
            (acc["pos"] > F.length("word")) | (F.size(here) == 0), acc
        ).otherwise(
            F.struct(
                (acc["pos"] + best["l"]).alias("pos"),
                (acc["toks"] + 1).alias("toks"),
                F.when(acc["toks"] == 0, best["disp"])
                .otherwise(F.concat(acc["path"], F.lit("|"), best["disp"]))
                .alias("path"),
            )
        )

    fin = F.aggregate(
        F.sequence(F.lit(1), F.length("word")), zero, step
    )
    return per_word.select(
        "word",
        "n",
        fin["toks"].alias("toks"),
        fin["path"].alias("path"),
        (fin["pos"] == F.length("word") + 1).alias("ok"),
    )
