"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design:
- exact dedup is a hash groupBy (one shuffle on the fingerprint);
- MinHash/SimHash signatures are per-row expressions (no shuffle);
  candidate generation goes through LSH *band buckets* — an equi-join on
  (band, band_hash) — so the pair space is |bucket|², never |corpus|²;
- verification (exact Jaccard / hamming) runs only on candidate pairs.

All signature math uses ``xxhash64`` (JVM, codegen) — no Python UDFs.

Expression-binding rule learned the hard way: an outer expression referenced
inside a higher-order-function lambda is RE-EVALUATED per array element
(no common-subexpression elimination across the lambda boundary). Binding
``tokens(text)`` to a projected attribute first makes shingle construction
~30x faster than inlining it — every builder below projects tokens/arrays
to a named column before any ``transform``/``aggregate`` touches them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from rapids_and_rivers_spark.operators.similarity import (
    dot_rows as S_dot_rows,
    norm,
)
from rapids_and_rivers_spark.operators.text import normalized, tokens
from rapids_and_rivers_spark.sources.tables import spread


# --- exact ------------------------------------------------------------------


def exact_groups(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical (normalized) texts: fingerprint, keeper id, count."""
    return (
        df.select(F.md5(F.col(col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n"))
    )


def incremental_new(
    incoming: DataFrame,
    base: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-snapshot incremental dedup: new-unique docs of an incoming
    batch against an already-ingested base corpus.

    Dedups WITHIN the incoming batch (min-id keeper per fingerprint),
    then LEFT ANTI joins fingerprints already present in ``base`` — the
    standard shape for continuously-crawled corpora where each snapshot
    must be deduped against everything shipped before.

    Scale: one shuffle per side on an 8-byte-entropy md5 key; the base
    side reduces to DISTINCT fingerprints (in production, a maintained
    fingerprint table read directly — no rescan of base bytes). The anti
    join shuffles fingerprints only, never document bodies.
    """
    inc = (
        incoming.select(F.md5(F.col(col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n"))
    )
    seen = base.select(F.md5(F.col(col)).alias("fp")).distinct()
    return inc.join(seen, "fp", "left_anti")


# --- line-level (chunk) dedup ------------------------------------------------


def chunk_lines(toks: Column, chunk: int = 8) -> Column:
    """Split a token array into consecutive ``chunk``-token pseudo-lines.

    C4 (Raffel et al. 2020) dedups at line granularity; the synthetic
    corpus has no newlines, so fixed token windows stand in as lines. The
    final window may be shorter; empty token arrays yield NULL.
    """
    idx = F.sequence(
        F.lit(0), (F.ceil(F.size(toks) / F.lit(chunk)) - 1).cast("int")
    )
    return F.when(
        F.size(toks) > 0,
        F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(toks, i * chunk + 1, chunk))
        ),
    )


def line_dedup(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    chunk: int = 8,
    salt_buckets: int = 0,
) -> DataFrame:
    """C4-style corpus-wide duplicate-line removal over token-chunk
    pseudo-lines: every line keeps exactly its FIRST occurrence
    (min (doc_id, position)); later repeats are dropped, and each doc is
    reassembled from its surviving lines in order.

    Returns ``(doc_id, n_chunks, n_kept, kept_fp)`` — original line
    count, surviving line count, md5 of the reassembled text.

    Scale / skew: first-occurrence selection is ``groupBy(line).min(
    struct(doc_id, pos))`` — NOT a row_number window. The distinction is
    load-bearing at 100 TB: a window over ``partitionBy(line)`` ships
    every copy of a 10⁹-times-repeated boilerplate line to one task,
    while min is algebraic, so map-side partial aggregation collapses the
    hot line to one row per map task before any shuffle. For settings
    where partial hash aggregation may degrade (e.g. it is disabled, or
    falls back to sort-based with huge map-side cardinality),
    ``salt_buckets > 0`` forces an explicit two-phase min: per
    (line, salt) min, then global min per line — the reducer for the hot
    line then sees at most ``salt_buckets`` rows by construction.
    """
    toks = F.split(F.trim(F.col(col)), r"\s+")
    exploded = df.select(
        F.col(id_col), F.posexplode(chunk_lines(toks, chunk)).alias("pos", "line")
    )
    occ = F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p")))
    if salt_buckets > 0:
        per_salt = exploded.groupBy(
            "line",
            F.pmod(F.xxhash64(id_col, "pos"), F.lit(salt_buckets)).alias("salt"),
        ).agg(occ.alias("m"))
        firsts = per_salt.groupBy("line").agg(F.min("m").alias("m"))
    else:
        firsts = exploded.groupBy("line").agg(occ.alias("m"))
    kept = firsts.select(
        F.col("m.d").alias(id_col), F.col("m.p").alias("pos"), "line"
    )
    totals = exploded.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_chunks"))
    survived = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
            )
        ).alias("kept_fp"),
    )
    return totals.join(survived, id_col, "left").select(
        id_col,
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("kept_fp", F.md5(F.lit(""))).alias("kept_fp"),
    )


# --- shingles & MinHash ------------------------------------------------------


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles over a *bound* token-array column.

    Texts with fewer than ``n`` tokens yield an empty shingle set (the
    ``when`` guard matters: ``sequence(1, stop)`` with ``stop < 1`` would
    count *down* through 0, and slicing at index 0 throws).
    """
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        ),
    ).otherwise(F.array().cast("array<string>"))


def hashed_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct 64-bit word n-gram shingle hashes over a *bound* token array.

    Hashes token slices directly (``xxhash64(tok_i, …, tok_{i+n-1})``)
    without ever materializing shingle strings — at scale this removes a
    full string-concat pass and shrinks every downstream shuffle/compare
    from variable-length strings to 8-byte longs. 64-bit collisions are
    negligible for dedup purposes (~N²/2⁶⁵ expected false merges).
    Short texts (< n tokens) yield an empty set (see word_shingles note).

    ``toks`` MUST be a projected attribute (see module docstring) — pass
    text through :func:`shingled` rather than inlining ``tokens(text)``.
    """
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                idx,
                lambda i: F.xxhash64(*[F.element_at(toks, i + j) for j in range(n)]),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def shingled(
    df: DataFrame,
    col: str,
    id_col: str,
    extra_cols: list[str] | None = None,
    n: int = 3,
) -> DataFrame:
    """(id[, extra…], shingles) with tokens bound to an attribute between
    the tokenize and shingle projections, so the shingle lambda reads an
    array column instead of re-running tokenization per element."""
    keep = [F.col(id_col).alias("id")] + [F.col(c) for c in (extra_cols or [])]
    toked = df.select(*keep, tokens(normalized(F.col(col))).alias("toks"))
    return toked.select(
        *[c for c in toked.columns if c != "toks"],
        hashed_shingles(F.col("toks"), n).alias("shingles"),
    )


def minhash_signature(shingle_hashes: Column, num_hashes: int = 32) -> Column:
    """MinHash signature over pre-hashed (long) shingles.

    Broder's k-hash-function MinHash with a multiply-shift universal
    family: permutation i maps shingle hash h to ``a_i*h + b_i`` in
    uint64 (natural modular wraparound), and the signature slot is the
    minimum over the document's shingles. Computed in one Arrow-batched
    numpy Pandas UDF: the (k, S) product matrix reduces along the shingle
    axis in C. The previous Catalyst form (k separate
    ``transform``+``array_min`` passes, interpreted lambda per element)
    had identical complexity but ~6x the constant at sf0.1; numpy also
    sidesteps ANSI-mode overflow errors that bar multiply-add hashing in
    SQL expressions (uint64 wraparound is the intended semantics here).
    Constants come from a fixed-seed generator — deterministic across
    runs and partitions.

    NULL or EMPTY shingle sets (texts with fewer than ``shingle_n``
    tokens) yield a NULL signature — there is no meaningful minimum over
    zero shingles. Anything that buckets signatures downstream must
    filter NULLs first or every degenerate doc collides (see the guard
    in :func:`minhash_lsh_pairs`).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    rng = np.random.RandomState(0x5EED)
    # odd multipliers: bijective modulo 2^64
    a_const = (rng.randint(1, 1 << 62, size=num_hashes).astype(np.uint64) << 1) | 1
    b_const = rng.randint(0, 1 << 62, size=num_hashes).astype(np.uint64)

    @pandas_udf("array<long>")
    def _sig(batch):
        out = []
        with np.errstate(over="ignore"):
            for h in batch:
                if h is None:
                    out.append(None)
                    continue
                a = np.asarray(h, dtype=np.int64).view(np.uint64)
                if a.size == 0:
                    out.append(None)
                    continue
                perms = a_const[:, None] * a[None, :] + b_const[:, None]
                out.append(perms.min(axis=1).astype(np.int64))
        return pd.Series(out)

    return _sig(shingle_hashes)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) arrays.

    |A∪B| is derived as |A|+|B|-|A∩B| instead of materializing
    ``array_union``: for distinct-element arrays (every caller passes
    :func:`hashed_shingles` output, which is ``array_distinct``-ed) the
    value is identical, and skipping the union's hash-set build halves
    the per-pair verify cost — the dominant term of every candidate
    verification stage (measured 6.3 s -> 3.5 s on the streaming-ER
    epoch verify at sf0.1). NULL/empty semantics are unchanged: NULL
    arrays propagate NULL through size arithmetic exactly as they did
    through ``array_union``, and the empty∩empty case still yields NULL
    via the nullif guard."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter / F.nullif(union, F.lit(0)).cast("double")


def band_hashes(base: DataFrame, num_hashes: int = 32, bands: int = 8) -> DataFrame:
    """The LSH banding of an (id, sig) MinHash signature table, shared by
    :func:`lsh_candidate_pairs` and the streaming MinHash index
    (streaming/duals.py): ``(id, band, band_hash)``, one row per band,
    ``band_hash`` = xxhash64 of the band's ``num_hashes/bands``
    signature slots.

    Bands carry only (id, band, band_hash) — wide signature/shingle arrays
    are NOT duplicated through the explode/join. ``explode_outer``: the
    band array is a never-empty literal, and plain explode's inferred
    size>0 filter would re-hash every band below the exchange (see
    ngram_jaccard_pairs).

    ``sig IS NOT NULL`` guard: docs with < shingle_n tokens have a NULL
    signature, and ``xxhash64(NULL,…,NULL)`` is a CONSTANT — without the
    filter every degenerate doc collides in the same bucket in ALL bands,
    an O(D²) candidate blow-up at scale (verification would drop them,
    but only after materializing the pairs). With the guard, degenerate
    docs produce zero candidates.
    """
    rows_per_band = num_hashes // bands
    return base.filter(F.col("sig").isNotNull()).select(
        "id",
        F.explode_outer(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("sig")[i]
                                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                            ]
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.band_hash")


def lsh_candidate_pairs(
    base: DataFrame, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """LSH band-bucket candidate pairs over a (id, sig) signature table:
    a self-join of its :func:`band_hashes` on (band, band_hash).

    Output: (id_a, id_b) with id_a < id_b, deduplicated across bands.
    """
    banded = band_hashes(base, num_hashes, bands)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def jaccard_verify(
    cand: DataFrame, shingles: DataFrame, threshold: float, ndigits: int = 4
) -> DataFrame:
    """The exact verify step of every near-duplicate path, batch and
    stream: candidate pairs ``cand (id_a, id_b)`` joined twice onto the
    ``shingles (id, shingles)`` sets, scored by :func:`jaccard` rounded
    to ``ndigits`` and kept at ``>= threshold``. Output ``(id_a, id_b,
    jaccard)``."""
    a = shingles.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = shingles.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), ndigits))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    ndigits: int = 4,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, Jaccard-verified.

    rows/band = num_hashes/bands; a pair is a candidate when ANY band's
    sub-signature hashes equal. Candidates are then verified with exact
    Jaccard over the (hashed) shingle sets and filtered at ``threshold``.

    The (id, shingles, sig) base is persisted: it feeds the band explode
    AND two verification join-backs — without reuse the whole
    shingle+signature computation would run three times. (At 100 TB the
    equivalent is materializing the signature table to storage once.)

    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    # persist-scope: returned plan — multiple consumers in the lazy plan this
    # function returns; the caller materializes once, LRU reclaims after
    base = (
        shingled(spread(df, id_col), col, id_col, n=shingle_n)
        .withColumn("sig", minhash_signature(F.col("shingles"), num_hashes))
        .persist()
    )
    candidates = lsh_candidate_pairs(base, num_hashes=num_hashes, bands=bands)
    return jaccard_verify(candidates, base, threshold, ndigits)


def ngram_jaccard_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
    shingle_n: int = 3,
    threshold: float = 0.2,
    ndigits: int = 4,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs within blocking groups.

    Inverted-index formulation: explode shingles, self-join on
    (block, shingle) to count intersections per pair, then
    ``|a∩b| / (|a|+|b|-|a∩b|)``. Exact for any ``threshold > 0`` (pairs
    sharing no shingle have Jaccard 0 and can never qualify), and far
    cheaper than a block-wise cross join: the pair space is generated
    only where shingles actually collide. Blocking on ``block_col``
    additionally bounds hot shingles (at scale: block on a cheap key —
    source, length bucket, simhash prefix). Shingles are 64-bit hashes
    (:func:`hashed_shingles`) so the exploded join shuffles 8-byte keys,
    not shingle strings.

    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    base = shingled(
        spread(df, id_col), col, id_col, extra_cols=[block_col], n=shingle_n
    ).withColumnRenamed(block_col, "block").withColumn("sz", F.size("shingles"))
    # explode_outer, NOT explode: plain explode makes Catalyst infer a
    # `size(shingles)>0` filter and push it below the exchange, inlining
    # the whole shingle computation into a pre-shuffle single-split Filter
    # (observed 8x slowdown); outer-explode infers nothing, and the null
    # postings are dropped cheaply after the fact.
    ex = base.select(
        "id", "block", "sz", F.explode_outer("shingles").alias("sh")
    ).filter(F.col("sh").isNotNull())
    l, r = ex.alias("l"), ex.alias("r")
    inter = (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.sh") == F.col("r.sh"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .groupBy(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sz").alias("sz_a"),
            F.col("r.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.round(
        F.col("inter")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        ndigits,
    )
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filter_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    ndigits: int = 4,
) -> DataFrame:
    """Exact all-pairs set-similarity join by PREFIX FILTERING (Chaudhuri
    et al., "A Primitive Operator for Similarity Joins", ICDE 2006;
    Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW 2007).

    Unlike :func:`ngram_jaccard_pairs` (which needs a blocking column to
    bound hot shingles), this is blocking-free and still exact: order
    each doc's shingles by ascending global document frequency (rarest
    first, shingle tie-break) and index only the first
    ``sz - ceil(threshold*sz) + 1`` of them. Any pair with
    ``J >= threshold`` must intersect in >= ``ceil(threshold*sz)``
    shingles, so by pigeonhole it shares at least one PREFIX shingle —
    candidates come from an equi-join on prefix postings whose lists
    are, by construction, the rarest (shortest) in the corpus; frequent
    shingles never generate pairs. Verification computes exact Jaccard
    on candidates only (two array joins + ``array_intersect``).

    Scale shape: df-count (one partial-agg shuffle on the shingle), a
    per-doc rank window (keyed on id — never global), the prefix
    equi-join (8-byte keys, rare-token lists), and a candidate-keyed
    verify. Shingles are 64-bit hashes (:func:`hashed_shingles`) — the
    canonical order becomes (df, hash) instead of (df, string), which is
    just as valid (the prefix theorem needs ANY consistent total order;
    rarest-first is the performance heuristic) and cuts every posting
    shuffle and verify array from strings to longs (measured 16.8 s ->
    see catalog doc at sf0.1). ``threshold=0.5`` keeps ``ceil`` on
    exactly-representable doubles, so the prefix length is
    engine-invariant.

    Output: (id_a, id_b, jaccard) with id_a < id_b — identical to the
    brute-force all-pairs Jaccard filter (pinned by test and by the
    catalog query's full-value DuckDB oracle, which recomputes the
    brute-force form over shingle STRINGS; hashed-shingle Jaccard equals
    string-shingle Jaccard absent 64-bit collisions, the
    ngram_jaccard_pairs precedent).
    """
    # NO early size()>0 filter: Catalyst pushes a deterministic filter
    # below the spread() exchange, inlining the whole shingle transform
    # into a single-split pre-shuffle Filter (the ngram_jaccard_pairs
    # trap — measured 17 s for the shingle pass alone at sf0.1 vs ~2 s
    # in this shape). Empty-shingle docs contribute no postings (their
    # explode_outer null row is dropped) and can never be candidates.
    # `base` feeds the postings subtree AND both verify sides
    # (sh_a/sh_b); the shuffles differ per consumer, so exchange reuse
    # cannot dedupe them and the shingle pass (tokenize + hash) re-ran
    # up to 3x per action (guide §5). The caller materializes once.
    # persist-scope: returned plan, MEMORY_ONLY (ADVICE r11): the
    # default MEMORY_AND_DISK level writes LRU-evicted blocks to disk
    # instead of discarding them, so a long multi-query sweep would
    # accumulate cached shingle data for the session lifetime; with
    # MEMORY_ONLY eviction actually frees the blocks (recompute on a
    # cold re-reference is the shingle projection, cheap next to leaked
    # storage).
    from pyspark import StorageLevel

    base = shingled(spread(df, id_col), col, id_col, n=shingle_n).withColumn(
        "sz", F.size("shingles")
    ).persist(StorageLevel.MEMORY_ONLY)
    post = base.select("id", "sz", F.explode_outer("shingles").alias("t")).filter(
        F.col("t").isNotNull()
    )
    dfreq = post.groupBy("t").agg(F.count(F.lit(1)).alias("dfr"))
    w = Window.partitionBy("id").orderBy("dfr", "t")
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")).cast("int") + 1
    prefix = (
        post.join(dfreq, "t")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= prefix_len)
        .select("id", "sz", "rk", "t")
    )
    l, r = prefix.alias("l"), prefix.alias("r")
    # PPJoin refinements on top of the prefix equi-join (Xiao et al.,
    # WWW 2008) — both bounds are loosened by 1e-9 before ceil/floor so
    # float error can only weaken the prune, never create a false
    # negative:
    # - LENGTH filter: J >= t forces t*|a| <= |b| <= |a|/t;
    # - POSITIONAL filter: overlap needed is alpha =
    #   ceil(t/(1+t)*(|a|+|b|)); a join row at canonical positions
    #   (rka, rkb) bounds the overlap by 1 + min(|a|-rka, |b|-rkb) —
    #   loosest at each pair's FIRST common prefix token, so a pair
    #   survives iff its first-common row passes (later rows only ever
    #   have tighter bounds).
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("l.sz") + F.col("r.sz"))
        - F.lit(1e-9)
    )
    cand = (
        l.join(
            r,
            (F.col("l.t") == F.col("r.t"))
            & (F.col("l.id") < F.col("r.id"))
            & (F.col("r.sz") >= F.ceil(F.lit(threshold) * F.col("l.sz") - F.lit(1e-9)))
            & (F.col("r.sz") <= F.floor(F.col("l.sz") / F.lit(threshold) + F.lit(1e-9)))
            & (
                F.lit(1)
                + F.least(
                    F.col("l.sz") - F.col("l.rk"), F.col("r.sz") - F.col("r.rk")
                )
                >= alpha
            ),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    return jaccard_verify(cand, base, threshold, ndigits)


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    ndigits: int = 4,
) -> DataFrame:
    """Benchmark decontamination: for every corpus doc, the fraction of its
    word n-gram shingles that appear ANYWHERE in the benchmark set — the
    standard train/test-overlap screen for LLM training data (the GPT-3
    paper's 13-gram and PaLM's 8-gram checks are this exact shape).

    Scale design: the benchmark's distinct shingle hashes form one compact
    8-byte-key table (typically millions of rows — broadcastable or a
    cheap hash join); corpus shingles explode to postings and LEFT
    SEMI-count against it — one join keyed on the hash, no pairwise doc
    comparison anywhere. Docs with no shingles (< n tokens) are reported
    with ``n_shingles = 0`` and NULL fraction, never flagged.

    Output: (id, n_shingles, n_hit, overlap_frac, contaminated).
    """
    bench_shingles = (
        shingled(spread(benchmark, id_col), col, id_col, n=shingle_n)
        .select(F.explode("shingles").alias("sh"))
        .distinct()
    )
    corpus_sh = shingled(spread(corpus, id_col), col, id_col, n=shingle_n)
    postings = corpus_sh.select(
        "id", F.size("shingles").alias("n_shingles"), F.explode_outer("shingles").alias("sh")
    )
    return contamination_from_parts(postings, bench_shingles, threshold, ndigits)


def contamination_from_parts(
    postings: DataFrame,
    bench_shingles: DataFrame,
    threshold: float = 0.5,
    ndigits: int = 4,
) -> DataFrame:
    """The decontamination screen's scoring tail, shared by the batch
    query (:func:`contamination_check`) and the streaming duals
    (streaming/duals.py contamination_from_index and
    decontaminate_foreach_batch) — one formula, no drift: ``postings``
    is (id, n_shingles, sh nullable), ``bench_shingles`` the distinct
    benchmark shingle set (sh; a broadcast hint on it carries through to
    the join); output is the per-doc hit count, overlap fraction, and
    contaminated flag."""
    hits = (
        postings.join(
            bench_shingles.withColumn("__hit", F.lit(1)), "sh", "left"
        )
        .groupBy("id", "n_shingles")
        .agg(F.count("__hit").alias("n_hit"))
    )
    frac = F.round(
        F.col("n_hit") / F.nullif(F.col("n_shingles"), F.lit(0)).cast("double"),
        ndigits,
    )
    return hits.select(
        "id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_hit").cast("long").alias("n_hit"),
        frac.alias("overlap_frac"),
        F.coalesce(frac >= threshold, F.lit(False)).alias("contaminated"),
    )


# --- SimHash -----------------------------------------------------------------


def simhash(hashes: Column) -> Column:
    """64-bit SimHash from a *bound* token-hash array column: bit k is set
    when more token hashes have bit k set than not (Charikar's similarity
    hash). NULL hash arrays yield a NULL signature; EMPTY arrays yield 0
    (no majority bit set) — callers that band/bucket signatures must
    filter NULLs before candidate generation (see minhash_lsh_pairs).

    Computed in a vectorized Arrow-batched Pandas UDF: the per-bit
    majority over T token hashes is a (T, 64) numpy bit matrix reduced
    along axis 0 — one C-level pass. The Catalyst higher-order-function
    formulation (aggregate + zip_with over a 64-slot accumulator) has the
    same O(T·bits) arithmetic but pays interpreted-lambda dispatch per
    element, measured ~8x slower at sf0.1; the token hashes themselves
    stay JVM-side (``xxhash64``), so only the compact hash arrays cross
    the Arrow boundary, never the text.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sig(batch):
        shifts = np.arange(64, dtype=np.uint64)
        out = np.zeros(len(batch), dtype=np.int64)
        mask = np.ones(len(batch), dtype=bool)
        for i, h in enumerate(batch):
            if h is None:
                mask[i] = False
                continue
            a = np.asarray(h, dtype=np.int64).view(np.uint64)
            if a.size == 0:
                continue
            ones = ((a[:, None] >> shifts[None, :]) & np.uint64(1)).sum(axis=0)
            bits_set = (ones * 2 > a.size).astype(np.uint64)
            out[i] = (bits_set << shifts).sum(dtype=np.uint64).astype(np.int64)
        res = pd.array(out, dtype="Int64")
        res[~mask] = pd.NA
        return pd.Series(res)

    return _sig(hashes)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Candidate generation by the pigeonhole principle: split the
    signature into ``chunks`` pieces; any pair within ``max_hamming``
    must agree on at least one whole chunk when ``max_hamming < chunks``
    — so candidates come from equi-joins on (chunk_index, chunk_value),
    never a cross product. With ``max_hamming >= chunks`` recall is
    approximate (pairs whose differing bits spread across every chunk are
    missed); raise ``chunks`` for exact recall at higher distances.

    ``hash_mode`` selects the per-token hash: ``"xxhash64"`` (default —
    JVM-side, fastest, 64-bit signatures) or ``"md5_52"`` (bottom 52 bits
    of md5 — slower, but computable bit-for-bit by ANY engine, which is
    what lets the dedup_simhash catalog query carry a FULL DuckDB value
    oracle: both engines derive identical signatures, chunk buckets,
    candidates, and hamming distances).
    """
    if hash_mode == "md5_52":
        nbits = 52
        token_hash = lambda t: F.conv(  # noqa: E731
            F.substring(F.md5(t), 1, 13), 16, 10
        ).cast("long")
    elif hash_mode == "xxhash64":
        nbits = 64
        token_hash = lambda t: F.xxhash64(t)  # noqa: E731
    else:
        raise ValueError(f"unknown hash_mode: {hash_mode!r}")
    width = nbits // chunks
    mask = (1 << width) - 1
    toked = spread(df, id_col).select(
        F.col(id_col).alias("id"), tokens(normalized(F.col(col))).alias("toks")
    )
    hashed = toked.select(
        "id", F.transform(F.col("toks"), token_hash).alias("hashes")
    )
    base = hashed.select("id", simhash(F.col("hashes")).alias("sig"))
    # explode_outer: the chunk array is never empty, and plain explode's
    # inferred size>0 filter would re-evaluate the simhash below the
    # exchange (see ngram_jaccard_pairs note)
    chunked = base.select(
        "id",
        "sig",
        F.explode_outer(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("sig"), c * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk_val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cc"),
    ).select("id", "sig", "cc.chunk", "cc.chunk_val")
    l, r = chunked.alias("l"), chunked.alias("r")
    return (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            hamming64(F.col("l.sig"), F.col("r.sig")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# --- duplicate clusters (connected components over near-dup pairs) -----------


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into CLUSTERS: connected components by
    iterative min-label propagation; the cluster id is the smallest doc id
    in the component (the canonical "keeper" every dedup pipeline needs).

    Scale notes: each iteration is one join + one aggregation (2 shuffles)
    over the edge list; iterations needed = graph diameter, which for
    near-dup graphs is tiny (dup clusters are dense). The loop converges
    early via a per-iteration changed-count check — an iterative algorithm
    by nature, so the driver-side loop is the correct shape (each pass is
    fully distributed). Production-hardened variants (large-star/small-star)
    drop in here unchanged. Raises ``RuntimeError`` when labels still
    change in round ``max_iter`` (a graph diameter above it), rather than
    return unfinished components.

    Output: (node, cluster) for every id that appears in ``pairs``.
    """
    # checkpoint the directed pair set BEFORE the symmetric union: the
    # union references `pairs` twice, and both halves land in ONE stage
    # whose partitions each recompute the caller's pair generation —
    # typically the pipeline's most expensive stage (profiled: the
    # blocked cosine join ran twice inside a 64-task checkpoint stage,
    # 24.9 executor-s where one pass costs ~12). One reference -> one
    # pass; the second checkpoint below copies cached blocks only.
    e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).localCheckpoint()
    # localCheckpoint (eager) TRUNCATES LINEAGE each iteration — without it
    # every pass stacks its plan on the previous one and the final
    # iterations replan/recompute the whole history (measured 18 s on an
    # iteration whose data fit in one block)
    edges = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).localCheckpoint()
    labels = edges.select("u").distinct().withColumn("label", F.col("u")).localCheckpoint()
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.select(F.col("u").alias("v"), F.col("label").alias("vl")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vl").alias("nl"))
        )
        new_labels = (
            labels.join(neighbor_min, "u", "left")
            .select(
                "u",
                F.least(F.col("label"), F.coalesce(F.col("nl"), F.col("label"))).alias(
                    "label"
                ),
                (F.col("nl") < F.col("label")).alias("changed"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("changed")).count()
        labels = new_labels.select("u", "label")
        if changed == 0:
            break
    else:
        # labels still moving after max_iter rounds are unfinished
        # components (one round per unit of graph diameter); fail
        # loudly like duplicate_clusters_star instead of returning them
        raise RuntimeError(
            f"min-label propagation did not converge within {max_iter} rounds"
        )
    return labels.select(F.col("u").alias("node"), F.col("label").alias("cluster"))


def duplicate_clusters_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the production-scale variant of
    :func:`duplicate_clusters`.

    Min-label propagation needs one round per graph DIAMETER; a 10⁶-node
    chain needs 10⁶ rounds. The star alternation contracts components in
    O(log²) rounds regardless of diameter:

    - large-star (per node u over its symmetric neighborhood): attach
      every neighbor LARGER than u to the neighborhood minimum;
    - small-star (per node u over its smaller neighbors): attach them
      and u itself to the minimum.

    Both are one groupBy + one join over the edge list (2 shuffles per
    half-round); edges only ever point larger→smaller, and at
    convergence every node points directly at its component minimum.
    Convergence is detected with a cheap fingerprint aggregate
    (count + hash-sum of the edge set) instead of a set comparison.
    Output matches :func:`duplicate_clusters`: ``(node, cluster)`` for
    every id in ``pairs``, cluster = component minimum.
    """
    # persist-scope: in-function — `pairs` feeds TWO eager
    # materializations (the nodes and edges localCheckpoints); without
    # the persist the caller's pair generation (typically the pipeline's
    # most expensive stage: a blocked cosine join or a within-cell GEMM)
    # runs twice (guide §5). Skipped if the caller already persisted it;
    # unpersisted right after both checkpoints are materialized.
    own_persist = pairs.storageLevel.useMemory is False and (
        pairs.storageLevel.useDisk is False
    )
    if own_persist:
        pairs = pairs.persist()
    e0 = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # materialize `edges` FIRST: e0 references `pairs` exactly once, so
    # this job populates the persist cache in a single pair-generation
    # pass; `nodes`' two union branches are INDEPENDENT stages the DAG
    # scheduler runs concurrently, and on a cold cache each recomputed
    # the pair pipeline (profiled: two parallel ~32 executor-s GEMM
    # stages in semdedup_prune_stats). Ordered after edges, both
    # branches read cached blocks.
    edges = e0.localCheckpoint()
    nodes = (
        pairs.select(F.col(id_a).alias("node"))
        .union(pairs.select(F.col(id_b).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    if own_persist:
        pairs.unpersist()

    def fingerprint(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # modular sum keeps the ANSI-mode long addition overflow-free
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1_000_000_007))).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = None
    converged = False
    for _ in range(max_iter):
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmin = sym.groupBy("u").agg(F.min("v").alias("mn"))
        lmin = lmin.select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
        ls = (
            sym.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        smin = ls.groupBy("u").agg(F.min("v").alias("m"))
        withm = ls.join(smin, "u")
        ss = (
            withm.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smin.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        fp = fingerprint(ss)
        edges = ss
        if fp == prev:
            converged = True
            break
        prev = fp
    if not converged:
        # a non-star edge set would silently yield multi-row / wrong
        # labels downstream; fail loudly instead (raise max_iter — the
        # round count is O(log^2 n), so 25 covers any realistic graph)
        raise RuntimeError(
            f"star contraction did not converge within {max_iter} rounds"
        )
    return nodes.join(
        edges.select(F.col("u").alias("node"), F.col("v").alias("cluster")),
        "node",
        "left",
    ).select("node", F.coalesce("cluster", "node").alias("cluster"))


def keep_list_from_pairs(pairs: DataFrame, ids: DataFrame, id_col: str) -> DataFrame:
    """The SemDeDup keep-list tail shared by the batch operators and the
    streaming keep-lists (streaming/duals.py): components of the
    near-dup ``pairs`` (id_a, id_b) by :func:`duplicate_clusters_star`,
    left-joined onto every document of ``ids`` (id). Output:
    ``(id_col, rep_id, is_kept)``, rep_id = component minimum, a
    document with no duplicate keeps itself."""
    clusters = duplicate_clusters_star(pairs)
    return ids.join(
        clusters.select(F.col("node").alias("id"), "cluster"), "id", "left"
    ).select(
        F.col("id").alias(id_col),
        F.coalesce("cluster", "id").alias("rep_id"),
        (F.coalesce("cluster", F.col("id")) == F.col("id")).alias("is_kept"),
    )


# --- embedding near-dup -------------------------------------------------------


def semantic_dedup(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): map EVERY document to the representative of its
    semantic-duplicate cluster and flag which copy survives.

    Composition of the two scale-safe pieces already in this module:
    blocked cosine near-dup pairs (:func:`embedding_neardup_pairs` —
    the pair space is bounded by the blocking key: cluster/label/LSH
    bucket/IVF cell) resolved into components by large-star/small-star
    (:func:`duplicate_clusters_star`, diameter-independent), keeper =
    component minimum id. Documents with no semantic duplicate keep
    themselves.

    Output: ``(id, rep_id, is_kept)`` for every input document — the
    keep-list join every pretraining corpus prune applies.
    """
    pairs = embedding_neardup_pairs(
        df, emb_col=emb_col, id_col=id_col, block_col=block_col,
        threshold=threshold,
    )
    return keep_list_from_pairs(pairs, df.select(F.col(id_col).alias("id")), id_col)


def adaptive_band_params(
    n_rows: int,
    n_groups: int = 1,
    threshold: float = 0.4,
    target_block_rows: int = 128,
    recall_floor: float = 0.74,
    min_planes: int = 4,
    min_bands: int = 8,
) -> tuple[int, int]:
    """Corpus-scaled ``(n_planes, n_bands)`` for :func:`banded_blocks`
    — the plan change the round-10 sf3 probe demanded (cluster_safe_
    splits top-end alpha 1.72 at sf1->sf3 under FIXED 4-plane bands).

    The failure mode is the round-5 fixed-cardinality-blocking-key law
    applied to LSH bit counts: with ``label x 2^4`` buckets, bucket
    COUNT is constant, so bucket SIZE grows with the corpus and the
    within-bucket pair space grows quadratically. The cure is the
    standard LSH scaling: planes per band grow ~log2 of the expected
    bucket size,

        r = max(min_planes, ceil(log2(n_rows / (n_groups * target))))

    so each band's buckets hold ~``target_block_rows`` rows at ANY
    corpus size (random-pair collisions per band fall from
    O(n^2 / 2^r) to O(n * target) — linear), and the band count is
    re-derived from the S-curve so pair recall at ``threshold`` never
    drops below ``recall_floor``:

        p = 1 - acos(threshold)/pi;  b = ceil(ln(1-floor)/ln(1-p^r))

    Oracle-stability contract: at EVERY committed-artifact scale
    (sf0.001-sf0.1 at 500-2000 vectors AND the sf1 sweep tier at
    20000, all over 10 labels) this resolves to exactly the registered
    queries' static (4, 8) — pinned by test — so the DuckDB oracles'
    unrolled band SQL stays bit-identical everywhere an artifact
    hashes it, while the same code picks (5, 13) at 20.5k+ vectors and
    (6, 21) at 60k (the sf3 tier where the quadratic was measured).
    target=128 is what aligns the formula's adaptation point with the
    oracle tier boundary BY THE SIZING RULE, not a special case: a
    2000/16-row bucket at sf0.1 and a 20000/160 at sf1 are both within
    2x of target. Band cost grows as the Indyk-Motwani n^(1+rho)
    (b ~ (n/g/t)^rho, rho ~ 0.66 at threshold 0.4); the n^2 term is
    gone.
    """
    import math

    r = min_planes
    if n_rows > 0 and n_groups > 0:
        per = n_rows / (n_groups * target_block_rows)
        if per > 1:
            r = max(min_planes, math.ceil(math.log2(per)))
    p = 1.0 - math.acos(threshold) / math.pi
    b = math.ceil(math.log(1.0 - recall_floor) / math.log(1.0 - p**r))
    return r, max(min_bands, b)


def banded_blocks(
    emb: Column,
    label: Column | None,
    dim: int,
    n_planes: int = 4,
    n_bands: int = 8,
    seed: int = 7,
) -> Column:
    """Multi-band OR blocking key set for embedding near-dup (ADVICE r5):
    ``n_bands`` INDEPENDENT sign-LSH bucket sets (band b uses planes
    seeded ``seed + b`` — the lsh_topk multi-table construction), each
    band's bucket composed with the category label. A pair is a
    candidate if it collides in ANY band — the minhash-banding OR that
    a single AND-composed bucket lacks.

    Pair recall at cosine c: one plane preserves the pair w.p.
    ``p = 1 - acos(c)/pi``; one r-plane band w.p. ``p^r``; B bands OR
    to ``1 - (1 - p^r)^B``. At the registered queries' threshold 0.4
    with r=4, B=8: 0.75 at c=0.4 rising to 0.98 at c=0.8 and ~1.0
    above 0.9 — versus 0.16 at c=0.4 for the old single band (the
    recall loss ADVICE r5 flagged). Block sizes per band are unchanged
    (still label x 2^r buckets); candidate volume grows ~B-fold, the
    standard recall-for-candidates trade, and r still grows
    ~log2(corpus / target_block) at scale so each band stays bounded.

    Returns an ``array<string>`` of ``label:band:bucket`` keys — band
    index baked into the key so bands never cross-match.
    """
    from rapids_and_rivers_spark.operators.similarity import (
        _deterministic_planes,
        lsh_bucket_multi,
    )

    lab = label.cast("string") if label is not None else F.lit("0")
    # all n_bands bucket ids from ONE Arrow-batched kernel call
    # (bit-identical to the per-band fold — see lsh_bucket_multi); the
    # old form built bands x planes x dim literal dots and paid ~2 s of
    # Catalyst analysis per query across the neardup family
    plane_sets = [
        _deterministic_planes(dim, n_planes, seed=seed + b)
        for b in range(n_bands)
    ]
    buckets = lsh_bucket_multi(emb, dim, plane_sets)
    return F.transform(
        buckets,
        lambda bkt, i: F.concat_ws(
            ":", lab, i.cast("string"), bkt.cast("string")
        ),
    )


def embedding_neardup_pairs(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = "label",
    threshold: float = 0.95,
    ndigits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= threshold).

    Blocking on ``block_col`` bounds the pair space; pass None for full
    pairwise (test scale only). A SCALAR block column (cluster/label/
    LSH bucket) joins directly; an ARRAY column (the
    :func:`banded_blocks` multi-band OR set) goes through the postings
    path — explode to narrow ``(id, block)`` postings, equi-join the
    postings (ids only, no vectors through the multi-way join),
    collapse band duplicates, then fetch each side's vector ONCE for
    the cosine verify.

    The blocking key's cardinality must GROW with the corpus: a
    fixed-cardinality categorical key alone gives block sizes ~ n/|key|
    and a pair space quadratic in n (measured: the label-only catalog
    form hit alpha 1.21 sf0.1->sf1 — SCALING.md round 5). Compose the
    category with LSH sign-buckets sized
    ``n_planes ~ log2(corpus / target_block)``, the same rule the IVF
    family uses for n_cells; use :func:`banded_blocks` to hold recall
    while doing so.
    """
    from pyspark.sql.types import ArrayType

    src = spread(df, id_col)
    if block_col is not None and isinstance(
        src.schema[block_col].dataType, ArrayType
    ):
        base = src.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(emb_col).cast("array<double>").alias("emb"),
            F.col(block_col).alias("blocks"),
        ).withColumn("nrm", norm(F.col("emb")))
        posts = base.select("id", F.explode("blocks").alias("block"))
        cand = (
            posts.alias("pl")
            .join(
                posts.alias("pr"),
                (F.col("pl.block") == F.col("pr.block"))
                & (F.col("pl.id") < F.col("pr.id")),
            )
            .select(
                F.col("pl.id").alias("id_a"), F.col("pr.id").alias("id_b")
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        slim = base.select("id", "emb", "nrm")
        return (
            cand.join(
                slim.select(
                    F.col("id").alias("id_a"),
                    F.col("emb").alias("emb_a"),
                    F.col("nrm").alias("nrm_a"),
                ),
                "id_a",
            )
            .join(
                slim.select(
                    F.col("id").alias("id_b"),
                    F.col("emb").alias("emb_b"),
                    F.col("nrm").alias("nrm_b"),
                ),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.round(
                    S_dot_rows(F.col("emb_a"), F.col("emb_b"))
                    / (F.col("nrm_a") * F.col("nrm_b")),
                    ndigits,
                ).alias("cos"),
            )
            .filter(F.col("cos") >= threshold)
        )
    base = neardup_base(src, emb_col, id_col, block_col)
    l, r = base.alias("l"), base.alias("r")
    return (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block")) & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            cosine_pair_expr(ndigits).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def neardup_base(
    df: DataFrame, emb_col: str, id_col: str, block_col: str | None
) -> DataFrame:
    """``(id, emb, block, nrm)``: the normalized-pair-join input shared by
    batch :func:`embedding_neardup_pairs`/:func:`semantic_dedup` and the
    streaming ``semdedup_foreach_batch`` index — the batch/stream duality
    depends on both sides using THIS construction. Norms are per-ROW
    quantities computed once before the join instead of per PAIR inside
    cosine (saves 2 of 3 O(dim) array passes per pair); the id/block
    casts stabilize the schema across parquet round-trips."""
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(emb_col).cast("array<double>").alias("emb"),
        (F.col(block_col) if block_col else F.lit(0)).cast("string").alias("block"),
    ).withColumn("nrm", norm(F.col("emb")))


def cosine_pair_expr(ndigits: int = 4) -> Column:
    """Rounded pair cosine over two :func:`neardup_base` sides aliased
    ``l`` and ``r`` — formula stays dot/(na*nb) so rounding matches the
    DuckDB oracles. The dot is the Arrow-batched sequential-fold kernel
    (similarity.dot_rows, bit-identical to the HOF fold — guide §4.2):
    the per-pair interpreted fold dominated the verify stages."""
    from rapids_and_rivers_spark.operators.similarity import dot_rows

    return F.round(
        dot_rows(F.col("l.emb"), F.col("r.emb"))
        / (F.col("l.nrm") * F.col("r.nrm")),
        ndigits,
    )


# --- exact shared-substring spans (Lee et al. 2021) ---------------------------


def shared_span_runs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 6,
    min_span: int = 7,
    common_gram_cap: int | None = None,
) -> DataFrame:
    """Exact shared-SUBSTRING detection between documents: for every doc
    pair, the maximal runs of tokens that appear verbatim in both — the
    operator behind "dedup exact substrings >= 50 tokens" from Lee et
    al. 2021 ("Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499), which shingle-SET similarity (MinHash /
    Jaccard) cannot express: a 50-token verbatim quote inside two
    otherwise-different documents barely moves Jaccard but is exactly
    what substring dedup must find.

    Distributed construction (no suffix arrays): hash every k-token
    gram with its position, equi-join grams across documents (8-byte
    md5-prefix key) into anchors ``(id_a, id_b, pos_a, pos_b)``, then
    chain anchors along the DIAGONAL ``d = pos_a - pos_b`` — consecutive
    anchor positions on one diagonal are one contiguous shared run
    (the gaps-and-islands trick: group key ``pos_a - row_number()``).
    A run of ``c`` consecutive anchors is a shared span of ``c + k - 1``
    tokens; runs shorter than ``min_span`` are dropped.

    Scale notes: the only shuffles are the gram-hash equi-join and the
    per-(pair, diagonal) window — both keyed, never |corpus|² (a pair
    appears only if it shares a k-gram). Boilerplate k-grams shared by
    thousands of docs quadratically inflate the anchor join;
    ``common_gram_cap`` drops grams whose document frequency exceeds the
    cap BEFORE the join (the standard recall trade — a span composed
    ONLY of ultra-common grams is then missed; Lee et al. pipelines do
    the same). Output: ``(id_a, id_b, a_start, b_start, span_tokens)``,
    positions 1-based.
    """
    grams = positioned_grams(spread(df, id_col), col, id_col, k)
    if common_gram_cap is not None:
        rare = grams.groupBy("g").agg(
            F.count_distinct("id").alias("gdf")
        ).filter(F.col("gdf") <= common_gram_cap)
        grams = grams.join(rare.select("g"), "g")
    anchors = (
        grams.alias("a")
        .join(
            grams.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.pos").alias("pa"),
            F.col("b.pos").alias("pb"),
        )
    )
    return runs_from_anchors(anchors, k, min_span)


def positioned_grams(
    df: DataFrame, col: str, id_col: str, k: int
) -> DataFrame:
    """``(id, pos, g)``: the md5 hash of every k-token gram with its
    1-based position. Shared by :func:`shared_span_runs` and the
    streaming ``spans_index_foreach_batch`` — the batch/stream span
    duality depends on both sides using THIS gram construction."""
    toked = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.split(F.trim(F.col(col)), r"\s+").alias("ts"),
    )
    n_grams = F.size("ts") - F.lit(k - 1)
    gram_structs = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(F.array_join(F.slice(F.col("ts"), i, k), " ")).alias("g"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,g:string>>"))
    return toked.select("id", F.explode(gram_structs).alias("pg")).select(
        "id", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g")
    )


def runs_from_anchors(anchors: DataFrame, k: int, min_span: int) -> DataFrame:
    """Chain ``(id_a, id_b, pa, pb)`` k-gram anchors into maximal shared
    runs along the ``pa - pb`` diagonal (gaps-and-islands: group key
    ``pa - row_number()``); a run of c anchors spans ``c + k - 1``
    tokens. Shared by the batch and streaming span operators."""
    from pyspark.sql import Window as W

    d = (F.col("pa") - F.col("pb")).alias("d")
    w = W.partitionBy("id_a", "id_b", "d").orderBy("pa")
    runs = anchors.select("id_a", "id_b", d, "pa", "pb").withColumn(
        "grp", F.col("pa") - F.row_number().over(w)
    )
    return (
        runs.groupBy("id_a", "id_b", "d", "grp")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            (F.count(F.lit(1)) + F.lit(k - 1)).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span)
        .select(
            "id_a",
            "id_b",
            F.col("a_start").cast("bigint").alias("a_start"),
            F.col("b_start").cast("bigint").alias("b_start"),
            F.col("span_tokens").cast("bigint").alias("span_tokens"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
    shingle_n: int = 3,
    threshold: float = 0.5,
    ndigits: int = 4,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs: ``C(A in B) = |A∩B| / |A|``
    (Broder 1997's "containment" companion to resemblance) — the measure
    Jaccard structurally misses: a short document wholly quoted inside a
    long one has tiny Jaccard (union is dominated by the long doc) but
    containment ~1. This is the quote/boilerplate/sub-document duplication
    detector of a training-data pipeline.

    Same inverted-index shape as :func:`ngram_jaccard_pairs` (one
    exploded self-equi-join on (block, 64-bit shingle hash), pair space
    only where shingles collide, 8-byte join keys) — one extra projection
    computes BOTH directions; a pair qualifies when either direction
    clears ``threshold``.

    Output: (id_a, id_b, cont_a_in_b, cont_b_in_a) with id_a < id_b.
    """
    base = shingled(
        spread(df, id_col), col, id_col, extra_cols=[block_col], n=shingle_n
    ).withColumnRenamed(block_col, "block").withColumn("sz", F.size("shingles"))
    ex = base.select(
        "id", "block", "sz", F.explode_outer("shingles").alias("sh")
    ).filter(F.col("sh").isNotNull())
    l, r = ex.alias("l"), ex.alias("r")
    inter = (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.sh") == F.col("r.sh"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .groupBy(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sz").alias("sz_a"),
            F.col("r.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    c_ab = F.round(F.col("inter") / F.col("sz_a").cast("double"), ndigits)
    c_ba = F.round(F.col("inter") / F.col("sz_b").cast("double"), ndigits)
    return (
        inter.withColumn("cont_a_in_b", c_ab)
        .withColumn("cont_b_in_a", c_ba)
        .filter(
            (F.col("cont_a_in_b") >= threshold)
            | (F.col("cont_b_in_a") >= threshold)
        )
        .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a")
    )


# --- k-means cluster blocking (SemDeDup proper) ------------------------------


def adaptive_cell_count(
    n_rows: int,
    target_cluster_rows: int = 2000,
    min_cells: int = 16,
) -> int:
    """Corpus-scaled k-means cell count for cluster-blocked semantic
    dedup — the round-10 sf3 conclusion (SCALING.md): the banded-LSH
    blocking family sits at its Indyk-Motwani floor n^1.66 at cosine
    threshold 0.4, and the genuinely-linear design is SemDeDup's own
    (Abbas et al. 2023, arXiv:2303.09540 §2) corpus-scaled k-means
    blocking: ``k ∝ n`` keeps the EXPECTED cluster size constant, so the
    within-cluster pair space is O(n · target_cluster_rows) — linear —
    while cross-cluster pairs are explicitly out of contract (the
    SemDeDup semantic, not an approximation of all-pairs).

        k = max(min_cells, ceil(n_rows / target_cluster_rows))

    Oracle-stability contract (the adaptive_band_params discipline —
    parameters resolve to the static oracle's value at EVERY scale an
    artifact hashes, BY THE SIZING RULE, not by special case): at
    sf0.001/sf0.01 (500 vectors), sf0.1 (2000), the sf0.3 curve tier
    (6000) and the sf1 sweep tier (20000) this resolves to exactly the
    registered oracle's 16 cells — a 2000-row corpus over 16 cells is
    125 rows/cluster, comfortably under target — while at the sf3
    measurement tier (60000) it picks 30, holding ~2000-row clusters.
    Pinned by test_adaptive_cell_count_oracle_scales.
    """
    import math

    if n_rows <= 0:
        return min_cells
    return max(min_cells, math.ceil(n_rows / target_cluster_rows))


def cell_blocked_neardup_pairs(
    df: DataFrame,
    dim: int,
    codebook: list[list[float]] | None = None,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    scale: int = 1000,
    ndigits: int = 4,
    batch_rows: int = 1024,
    cell_col: str | None = None,
    new_col: str | None = None,
) -> DataFrame:
    """Within-cluster embedding-cosine pairs (cos >= threshold) under
    k-means cell blocking: every vector is assigned to its nearest
    coarse centroid (similarity.assign_cells — the IVF building block,
    snapped-dot argmax, ties -> lowest cell) and pairs are generated
    ONLY inside a cell — the SemDeDup blocking contract. One shuffle on
    ``cell``, then one grouped Arrow batch per cell running a chunked
    int64 GEMM (the knn_self_join scoring kernel): exact integer dots of
    ``floor(x * scale)`` vectors, one double division per pair, rounding
    at the output boundary only — the knn_self_join exactness contract,
    which is what lets a DuckDB oracle reproduce every cosine
    bit-for-bit.

    Scale shape: cells grow with the corpus (:func:`adaptive_cell_count`)
    so per-cell work is O(target²) and total work O(n · target) — the
    linear fix for the banded-LSH family's n^1.66 floor. Per-task memory
    is O(cluster_rows · dim); a pathologically skewed cell (k-means does
    not guarantee balance) degrades latency, not correctness — if skew
    ever dominates, the knn_self_join target-salting template applies
    (block-paired sub-GEMMs within the cell).

    ``cell_col`` accepts PRE-ASSIGNED cells (the streaming-index path:
    rows carry the cell they got at ingest under the frozen codebook —
    ``codebook`` may then be None); ``new_col`` names a boolean flag
    restricting output to pairs with at least one new member (the
    incremental later-member contract of
    duals.semdedup_clustered_foreach_batch — old-old pairs were emitted
    at their own epoch and never recompute).
    """
    import numpy as np
    import pandas as pd

    from rapids_and_rivers_spark.operators.similarity import assign_cells

    flag = (
        [F.col(new_col).cast("boolean").alias("is_new")] if new_col else []
    )
    if cell_col is None:
        cells = assign_cells(
            df.select(
                F.col(id_col).alias("id"), *flag,
                F.col(emb_col).alias("c_emb"),
            ),
            codebook,
            emb_col="c_emb",
        )
    else:
        # pre-assigned cells (the streaming store path: rows carry the
        # cell they were assigned at ingest under the FROZEN codebook)
        cells = df.select(
            F.col(id_col).alias("id"), *flag,
            F.col(emb_col).alias("c_emb"),
            F.col(cell_col).cast("long").alias("cell"),
        )
    # inner raw-sim cutoff: a superset of "round(sim, ndigits) >= t"
    # (round half-up keeps x >= t - 0.5*10^-ndigits), final filter on the
    # ROUNDED value below so the boundary is decided by F.round exactly
    # as the oracle's SQL round decides it
    raw_cut = threshold - 0.5 * 10 ** (-ndigits) - 1e-12

    def pairs_in_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []})
        Q = np.floor(
            np.stack(pdf["c_emb"].to_numpy()).astype(np.float64) * scale
        ).astype(np.int64)
        n2 = (Q * Q).sum(axis=1)
        ids = pdf["id"].to_numpy().astype(np.int64)
        newf = (
            pdf["is_new"].to_numpy().astype(bool)
            if "is_new" in pdf.columns
            else None
        )
        out_a, out_b, out_s = [], [], []
        for lo in range(0, n, batch_rows):
            hi = min(lo + batch_rows, n)
            dots = Q[lo:hi] @ Q.T  # exact int64 GEMM
            sims = dots.astype(np.float64) / np.sqrt(
                np.outer(n2[lo:hi], n2).astype(np.float64)
            )
            for i in range(lo, hi):
                # strict upper triangle: each unordered pair exactly once
                js = np.nonzero(sims[i - lo, i + 1 :] >= raw_cut)[0] + i + 1
                if newf is not None and len(js):
                    # incremental contract: only pairs with at least one
                    # NEW member — old-old pairs were found at their own
                    # later-member epoch and never recompute
                    js = js[newf[i] | newf[js]]
                if len(js):
                    out_a.append(np.full(len(js), ids[i]))
                    out_b.append(ids[js])
                    out_s.append(sims[i - lo, js])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []})
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "sim": np.concatenate(out_s),
            }
        )

    raw = cells.groupBy("cell").applyInPandas(
        pairs_in_cell, schema="id_a long, id_b long, sim double"
    )
    return (
        raw.withColumn("cos", F.round("sim", ndigits))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def semantic_dedup_clustered(
    df: DataFrame,
    dim: int,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    n_cells: int | None = None,
    target_cluster_rows: int = 2000,
    scale: int = 1000,
    seed: int = 13,
    sample_per_cell: int = 32,
    lloyd_iters: int = 8,
    codebook: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup with its OWN blocking (Abbas et al. 2023 §2): global
    k-means clusters as the candidate blocks, replacing the banded-LSH
    family that the round-10 sf3 probe measured at its n^1.66 theory
    floor. ``k ∝ n`` (:func:`adaptive_cell_count`) keeps cluster size
    constant, so candidate generation is O(n · cluster) — the linear
    100 TB shape — and cross-cluster near-dups are out of contract BY
    THE OPERATOR'S DEFINITION (the paper dedups within clusters), not a
    recall loss against it.

    Pipeline: deterministic spherical k-means codebook (md5-ordered
    sample + grid-snapped driver Lloyd — similarity.lloyd_codebook, the
    exact chain the IVF oracles already unroll in SQL) -> cell
    assignment -> within-cell GEMM pairs
    (:func:`cell_blocked_neardup_pairs`) -> large-star/small-star
    components -> keep-list ``(id, rep_id, is_kept)`` over EVERY input
    row, keeper = component minimum id.

    Reference anchor: the dedup extension mandate (SURVEY.md §7.2 M5);
    same output contract as :func:`semantic_dedup`.
    """
    from rapids_and_rivers_spark.operators.similarity import (
        codebook_sample,
        lloyd_codebook,
    )

    if codebook is None:
        if n_cells is None:
            n_cells = adaptive_cell_count(
                df.count(), target_cluster_rows=target_cluster_rows
            )
        codebook = lloyd_codebook(
            codebook_sample(df, id_col, emb_col, sample_per_cell * n_cells, seed),
            dim,
            n_cells,
            lloyd_iters,
            seed,
            quantize=1024,
        )
    pairs = cell_blocked_neardup_pairs(
        df,
        dim,
        codebook,
        emb_col=emb_col,
        id_col=id_col,
        threshold=threshold,
        scale=scale,
    )
    return keep_list_from_pairs(pairs, df.select(F.col(id_col).alias("id")), id_col)
