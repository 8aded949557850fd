"""Operator semantics tests: dedup, similarity, text analysis."""

from pyspark.sql import functions as F

from rapids_and_rivers_spark.operators import dedup as D
from rapids_and_rivers_spark.operators import similarity as S
from rapids_and_rivers_spark.operators import text as T


def docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t, f"src{i % 2}") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )


def test_exact_groups(spark):
    df = docs_df(spark, ["a b c", "a b c", "x y z"])
    rows = {r.keep_id: r.n for r in D.exact_groups(df).collect()}
    assert rows == {0: 2, 2: 1}


def test_minhash_identical_texts_found(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = docs_df(spark, [base, base, "entirely different words here nothing shared at all ok"])
    pairs = D.minhash_lsh_pairs(df, threshold=0.9).collect()
    assert [(p.id_a, p.id_b, p.jaccard) for p in pairs] == [(0, 1, 1.0)]


def test_minhash_near_duplicate_found(spark):
    a = "one two three four five six seven eight nine ten eleven twelve"
    b = "one two three four five six seven eight nine ten eleven thirteen"
    df = docs_df(spark, [a, b])
    pairs = D.minhash_lsh_pairs(df, threshold=0.3).collect()
    assert len(pairs) == 1 and pairs[0].jaccard > 0.5


def test_minhash_degenerate_docs_produce_no_candidates(spark):
    """Docs with < shingle_n tokens get a NULL signature; the NULL-sig
    guard must keep them out of band buckets entirely. Without it, 200
    one-word docs would collide in every band -> 19900 candidate pairs."""
    long_a = "the quick brown fox jumps over the lazy dog again and again"
    texts = [long_a, long_a] + [f"w{i}" for i in range(200)]
    df = docs_df(spark, texts)
    base = D.shingled(df, "text", "doc_id").withColumn(
        "sig", D.minhash_signature(F.col("shingles"), 32)
    )
    cands = D.lsh_candidate_pairs(base).collect()
    # only the one real duplicate pair — candidate count stays linear
    assert [(c.id_a, c.id_b) for c in cands] == [(0, 1)]
    # and the end-to-end output is unchanged
    pairs = D.minhash_lsh_pairs(df, threshold=0.9).collect()
    assert [(p.id_a, p.id_b, p.jaccard) for p in pairs] == [(0, 1, 1.0)]


def test_simhash_identical_is_zero_distance(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    df = docs_df(spark, [base, base])
    pairs = D.simhash_pairs(df, max_hamming=0).collect()
    assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(0, 1, 0)]


def test_jaccard_pairs_blocked(spark):
    # doc 0 and 2 share source block src0 and are near-identical
    df = docs_df(
        spark,
        [
            "one two three four five six",
            "unrelated text entirely different",
            "one two three four five seven",
        ],
    )
    pairs = D.ngram_jaccard_pairs(df, threshold=0.2).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(0, 2)]


def test_brute_force_topk_exact(spark):
    import math

    vecs = {
        0: [1.0, 0.0],  # query
        10: [1.0, 0.0],  # identical -> cos 1
        11: [1.0, 1.0],  # cos ~0.7071
        12: [0.0, 1.0],  # cos 0
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = df.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    rows = S.brute_force_topk(q, c, k=2).collect()
    assert [(r.neighbor_id, r.cos) for r in rows] == [
        (10, 1.0),
        (11, round(1 / math.sqrt(2), 4)),
    ]


def test_lsh_bucket_groups_identical_vectors(spark):
    df = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [1.0] * 8), (2, [-1.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    out = df.select(
        "vec_id", S.lsh_bucket(F.col("embedding"), dim=8, n_planes=4).alias("b")
    ).collect()
    buckets = {r.vec_id: r.b for r in out}
    assert buckets[0] == buckets[1] != buckets[2]


def test_text_functions(spark):
    df = spark.createDataFrame([("The cat and the dog!",)], "text string")
    row = df.select(
        T.token_count(F.col("text")).alias("n"),
        T.stopword_ratio(F.col("text"), ["the", "and"]).alias("sw"),
        T.punct_ratio(F.col("text")).alias("punct"),
        T.fingerprint(F.col("text")).alias("fp"),
        T.lang_id(F.col("text")).alias("lang"),
    ).collect()[0]
    assert row.n == 5
    assert row.sw == round(2 / 5, 4)  # 'and', 'the' (second); 'The' is cased
    assert row.punct == round(1 / 20, 4)
    assert len(row.fp) == 32
    assert row.lang == "en"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",)], "text string"
    )
    fps = [r.fp for r in df.select(T.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_repetition_signals(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "w x y z")], "doc_id long, text string"
    )
    toked = df.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    rows = {
        r.doc_id: r
        for r in toked.select(
            "doc_id",
            T.distinct_token_ratio(F.col("toks")).alias("dr"),
            T.top_token_ratio(F.col("toks")).alias("tr"),
            T.dup_bigram_fraction(F.col("toks")).alias("bf"),
        ).collect()
    }
    assert rows[1].dr == 0.5  # {a, b} of 4
    assert rows[1].tr == 0.75  # 'a' 3 of 4
    assert rows[1].bf == round(1 / 3, 4)  # 'a a' repeats once in 3 bigrams
    assert rows[2].dr == 1.0 and rows[2].tr == 0.25 and rows[2].bf == 0.0


def test_symbol_ratio(spark):
    df = spark.createDataFrame([("ab #$%",)], "text string")
    row = df.select(T.symbol_ratio(F.col("text")).alias("s")).collect()[0]
    assert row.s == 0.5  # 3 symbol chars of 6


def test_contamination_check(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps high")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high today"),  # heavy overlap
            (2, "completely unrelated words appear in this document"),
            (3, "hi"),  # degenerate: no shingles
        ],
        "doc_id long, text string",
    )
    rows = {r.id: r for r in D.contamination_check(corpus, bench, threshold=0.5).collect()}
    assert rows[1].contaminated and rows[1].n_hit == 4  # 4 of 5 shingles shared
    assert not rows[2].contaminated and rows[2].n_hit == 0
    assert rows[3].n_shingles == 0 and rows[3].overlap_frac is None
    assert not rows[3].contaminated


def test_embedding_neardup_threshold(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 1),
            (1, [0.99, 0.1], 1),
            (2, [0.0, 1.0], 1),
            (3, [1.0, 0.0], 2),  # other block: never paired with 0
        ],
        "vec_id long, embedding array<double>, label int",
    )
    pairs = D.embedding_neardup_pairs(df, threshold=0.95).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(0, 1)]


def test_adaptive_band_params_oracle_scales():
    """The corpus-scaled band shape (round-10 sf3 fix) must resolve to
    EXACTLY the (4, 8) the registered DuckDB oracles unroll at every
    oracle scale (sf0.001: 500 vectors / sf0.01: 500 / sf0.1: 2000,
    all over 10 labels) — and grow past them, with the recall S-curve
    floor holding at every derived shape."""
    import math

    # the sf1 sweep tier (20000 over 10 labels) must ALSO resolve to
    # (4, 8): CORRECTNESS_sf1 hashes cluster_safe_splits against the
    # static oracle there (the target=128 alignment, round 10)
    assert D.adaptive_band_params(500, 10) == (4, 8)
    assert D.adaptive_band_params(2000, 10) == (4, 8)
    assert D.adaptive_band_params(20000, 10) == (4, 8)
    # growth past the artifact tiers: planes track
    # log2(rows/label/128), bands re-derive from the S-curve
    assert D.adaptive_band_params(20481, 10) == (5, 13)
    r3, b3 = D.adaptive_band_params(60000, 10)
    assert (r3, b3) == (6, 21)
    # the recall floor holds at every derived shape
    p = 1.0 - math.acos(0.4) / math.pi
    for n in (500, 2000, 20000, 60000, 600000):
        r, b = D.adaptive_band_params(n, 10)
        assert 1.0 - (1.0 - p**r) ** b >= 0.74, (n, r, b)
        # and buckets stay ~target-sized: expected rows per (label,
        # band-bucket) <= 2x target once past the minimum shape
        if n / (10 * 128) > 16:
            assert n / (10 * (1 << r)) <= 2 * 128, (n, r)


def test_adaptive_cell_count_oracle_scales():
    """The corpus-scaled k-means cell count (round-11 cluster-blocked
    SemDeDup) must resolve to EXACTLY the 16 cells the registered
    DuckDB oracles unroll at every artifact-hashed scale — sf0.001/
    sf0.01 (500 vectors), sf0.1 (2000), the sf0.3 curve tier (6000)
    and the sf1 sweep tier (20000) — by the sizing rule
    (target_cluster_rows=2000), and grow past them: k ∝ n keeps the
    expected cluster size ~constant (the linear SemDeDup shape)."""
    for n in (500, 2000, 6000, 20000, 32000):
        assert D.adaptive_cell_count(n) == 16, n
    # growth past the artifact tiers
    assert D.adaptive_cell_count(60000) == 30
    assert D.adaptive_cell_count(1_000_000) == 500
    # cluster size stays ~target at any corpus size
    for n in (60000, 600000, 50_000_000):
        k = D.adaptive_cell_count(n)
        assert n / k <= 2000, (n, k)


def test_cell_blocked_neardup_pairs_within_cell_exact(spark):
    """Every emitted pair shares a k-means cell, each unordered pair
    appears exactly once, and the cosine matches the int64-quantized
    brute-force value bit-for-bit (the knn_self_join exactness
    contract applied to all-pairs-above-threshold)."""
    import numpy as np

    from rapids_and_rivers_spark.operators.similarity import (
        assign_cells,
        lloyd_codebook,
    )

    rng = np.random.RandomState(11)
    base = rng.randn(6, 64)
    # plant near-dup groups: rows 10..29 are jittered copies of 6 bases
    vecs = np.vstack([
        base[i % 6] + 0.05 * rng.randn(64) for i in range(30)
    ]).round(3)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = lloyd_codebook([list(v) for v in vecs[:16]], 64, 4, 4, 13,
                        quantize=1024)
    got = D.cell_blocked_neardup_pairs(
        df, 64, cb, threshold=0.4
    ).collect()
    # brute-force reference restricted to same-cell pairs
    cells = {
        r["id"]: r["cell"]
        for r in assign_cells(
            df.select(F.col("vec_id").alias("id"),
                      F.col("embedding").alias("c_emb")),
            cb,
        ).collect()
    }
    Q = np.floor(vecs.astype(np.float64) * 1000).astype(np.int64)
    n2 = (Q * Q).sum(axis=1)
    want = {}
    for a in range(30):
        for b in range(a + 1, 30):
            if cells[a] != cells[b]:
                continue
            sim = float(Q[a] @ Q[b]) / float(
                np.sqrt(float(n2[a] * n2[b]))
            )
            # decimal round half-up, matching F.round / SQL round
            from decimal import Decimal, ROUND_HALF_UP

            cos = float(
                Decimal(repr(sim)).quantize(
                    Decimal("0.0001"), rounding=ROUND_HALF_UP
                )
            )
            if cos >= 0.4:
                want[(a, b)] = cos
    got_pairs = {(r.id_a, r.id_b): r.cos for r in got}
    assert set(got_pairs) == set(want)
    for k, v in want.items():
        assert abs(got_pairs[k] - v) < 5e-10, (k, got_pairs[k], v)
    assert len(want) > 0  # the planted dups actually collide


def test_semantic_dedup_clustered_keeplist_contract(spark):
    """Keep-list invariants: one row per input id, rep_id is the
    component minimum, is_kept iff id == rep_id, and reps are
    self-mapped (rep of a rep is itself)."""
    import numpy as np

    from rapids_and_rivers_spark.operators.similarity import lloyd_codebook

    rng = np.random.RandomState(3)
    base = rng.randn(5, 64)
    vecs = np.vstack([
        base[i % 5] + 0.03 * rng.randn(64) for i in range(25)
    ]).round(3)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(25)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = lloyd_codebook([list(v) for v in vecs[:8]], 64, 4, 4, 13,
                        quantize=1024)
    out = D.semantic_dedup_clustered(
        df, dim=64, threshold=0.6, codebook=cb
    ).collect()
    assert len(out) == 25
    rep = {r.vec_id: r.rep_id for r in out}
    kept = {r.vec_id: r.is_kept for r in out}
    assert all(rep[i] <= i for i in rep)
    assert all(kept[i] == (rep[i] == i) for i in rep)
    assert all(rep[rep[i]] == rep[i] for i in rep)
    # the jittered copies actually deduplicate
    assert sum(kept.values()) < 25


def test_banded_blocks_recall_floor(spark):
    """Multi-band OR blocking (ADVICE r5) must recover most qualifying
    near-dup pairs: vs the exhaustive within-label truth at threshold
    0.4 on the sf0.001 embeddings (whose qualifying pairs all sit near
    cos 0.4 — the WORST regime: theory gives 1-(1-p^4)^8 = 0.75 there),
    measured recall is 0.80. The old single AND-composed band surviving
    w.p. ~0.16 would fail this floor decisively. Deterministic data +
    deterministic planes, so the pin is tight."""
    from conftest import sf_dir

    from rapids_and_rivers_spark.operators.similarity import as_double_array
    from rapids_and_rivers_spark.sources import load_table

    emb = load_table(spark, sf_dir(), "embeddings")
    truth = {
        (r.id_a, r.id_b)
        for r in D.embedding_neardup_pairs(
            emb, block_col="label", threshold=0.4
        ).collect()
    }
    banded = emb.withColumn(
        "blk",
        D.banded_blocks(
            as_double_array(F.col("embedding")), F.col("label"), 64,
            n_planes=4, n_bands=8, seed=7,
        ),
    )
    found = {
        (r.id_a, r.id_b)
        for r in D.embedding_neardup_pairs(
            banded, block_col="blk", threshold=0.4
        ).collect()
    }
    assert truth, "fixture drift: no qualifying pairs at threshold 0.4"
    assert found <= truth  # blocking can only MISS pairs, never invent
    recall = len(found & truth) / len(truth)
    assert recall >= 0.75, f"banded recall collapsed: {recall:.3f}"


def test_banded_pairs_match_scalar_blocking_semantics(spark):
    """The array-block postings path must compute the same cosines as
    the scalar path restricted to colliding pairs: every banded pair is
    a label pair with an identical rounded cosine."""
    from conftest import sf_dir

    from rapids_and_rivers_spark.operators.similarity import as_double_array
    from rapids_and_rivers_spark.sources import load_table

    emb = load_table(spark, sf_dir(), "embeddings")
    by_label = {
        (r.id_a, r.id_b): r.cos
        for r in D.embedding_neardup_pairs(
            emb, block_col="label", threshold=0.4
        ).collect()
    }
    banded = emb.withColumn(
        "blk",
        D.banded_blocks(
            as_double_array(F.col("embedding")), F.col("label"), 64,
            n_planes=4, n_bands=8, seed=7,
        ),
    )
    for r in D.embedding_neardup_pairs(
        banded, block_col="blk", threshold=0.4
    ).collect():
        assert by_label[(r.id_a, r.id_b)] == r.cos


def test_ivf_topk_finds_self_cell_neighbors(spark):
    """IVF ANN: identical vectors land in the same cell and rank first."""
    from rapids_and_rivers_spark.operators import similarity as S
    from pyspark.sql import functions as F

    dim = 8
    base = [float(i % 3 - 1) for i in range(dim)]
    rows = [(0, base), (10, base), (11, [-x for x in base])]
    df = spark.createDataFrame(rows, "vec_id int, emb array<double>")
    q = df.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    c = df.filter("vec_id >= 10").select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("c_emb")
    )
    out = S.ivf_topk(q, c, dim=dim, k=2, n_cells=4, nprobe=2).collect()
    by_id = {r.neighbor_id: r.cos for r in out}
    assert by_id.get(10) == 1.0  # identical vector found with cos 1


def test_duplicate_clusters_chain_and_island(spark):
    """Connected components: a chain 1-2-3 collapses to cluster 1; the
    separate pair (7,9) keeps cluster 7."""
    from rapids_and_rivers_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id_a bigint, id_b bigint"
    )
    got = {r.node: r.cluster for r in D.duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_skew_safe_agg_matches_plain_groupby(spark):
    """Two-phase salted aggregation == plain groupBy results."""
    from rapids_and_rivers_spark.operators.skew import skew_safe_agg
    from pyspark.sql import functions as F

    rows = [("hot", i, float(i)) for i in range(500)] + [
        ("cold", i, float(i)) for i in range(7)
    ]
    df = spark.createDataFrame(rows, "k string, i int, x double")
    got = {
        r.k: (r.n, r.mx)
        for r in skew_safe_agg(
            df,
            keys=["k"],
            aggs={"n": ("sum", F.count(F.lit(1))), "mx": ("max", F.max("x"))},
            tiebreak="i",
            buckets=8,
        ).collect()
    }
    assert got == {"hot": (500, 499.0), "cold": (7, 6.0)}


def test_symspell_join_complete_vs_bruteforce(spark):
    """SymSpell candidate generation must not MISS any distance-1 pair
    (substitution, insertion, deletion, plus a distance-2 non-pair)."""
    from pyspark.sql import functions as F

    from rapids_and_rivers_spark.operators.fuzzy import symspell_join

    words = ["cat", "bat", "cart", "ca", "dog", "dig", "", "a"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        (r.s_a, r.s_b, r.dist) for r in symspell_join(df, "w").collect()
    }
    import itertools

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    expected = {
        (a, b, lev(a, b))
        for a, b in itertools.combinations(sorted(words), 2)
        if lev(a, b) <= 1
    }
    assert got == expected


def test_star_cc_matches_label_propagation(spark):
    """large-star/small-star CC must produce the same components as
    min-label propagation — on random graphs AND a long chain (the
    diameter case star exists for: 40 rounds of propagation vs ~log)."""
    import random

    from rapids_and_rivers_spark.operators.dedup import (
        duplicate_clusters,
        duplicate_clusters_star,
    )

    rng = random.Random(11)
    random_edges = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(80)
    ]
    chain = [(i, i + 1) for i in range(100, 140)]  # path graph, diameter 40
    star_in = [(200, 200 + i) for i in range(1, 8)]
    edges = [(a, b) for a, b in random_edges + chain + star_in if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    plain = {
        (r.node, r.cluster) for r in duplicate_clusters(df, max_iter=60).collect()
    }
    star = {
        (r.node, r.cluster) for r in duplicate_clusters_star(df).collect()
    }
    assert star == plain
    # chain collapses to its minimum
    assert all(c == 100 for (n, c) in star if 100 <= n <= 140)


def test_duplicate_clusters_raises_when_not_converged(spark):
    """Min-label propagation needs one round per unit of diameter: a
    13-node path under max_iter=3 must raise, not come back as 10
    unfinished clusters; with enough rounds it is one cluster."""
    import pytest

    from rapids_and_rivers_spark.operators.dedup import duplicate_clusters

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(path, max_iter=3)
    done = duplicate_clusters(path, max_iter=20).collect()
    assert len(done) == 13 and {r.cluster for r in done} == {0}


def test_minhash_signature_table_materialization_roundtrip(spark, tmp_path):
    """The documented 100 TB pattern executed: the (id, shingles, sig)
    base is MATERIALIZED to parquet once, and candidate banding + Jaccard
    verification run from the saved table — identical pairs to the
    in-memory persist() path (signatures are deterministic, so the table
    is reusable across runs/pipelines)."""
    from rapids_and_rivers_spark.operators.dedup import (
        jaccard,
        lsh_candidate_pairs,
        minhash_lsh_pairs,
        minhash_signature,
        shingled,
    )
    from rapids_and_rivers_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    direct = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(
            docs, num_hashes=32, bands=8, threshold=0.3
        ).collect()
    }

    sig_path = str(tmp_path / "signatures")
    base = shingled(docs, "text", "doc_id", n=3).withColumn(
        "sig", minhash_signature(F.col("shingles"), 32)
    )
    base.write.parquet(sig_path)

    saved = spark.read.parquet(sig_path)
    candidates = lsh_candidate_pairs(saved, num_hashes=32, bands=8)
    sh = saved.select("id", "shingles")
    from_table = {
        (r.id_a, r.id_b, r.jaccard)
        for r in candidates.join(
            sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4))
        .filter(F.col("jaccard") >= 0.3)
        .select("id_a", "id_b", "jaccard")
        .collect()
    }
    assert from_table == direct and len(direct) > 0


def test_shared_span_runs_finds_maximal_verbatim_spans(spark):
    """Constructed docs: a 9-token verbatim quote shared by docs 1 and 2
    is reported as ONE maximal run (not several overlapping k-gram hits);
    a gap splits runs; docs shorter than k produce no grams; unrelated
    docs produce no rows."""
    from rapids_and_rivers_spark.operators.dedup import shared_span_runs

    quote = "alpha beta gamma delta epsilon zeta eta theta iota"  # 9 tokens
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {quote} trailing bits"),
            (2, f"{quote} completely different ending text now"),
            # doc 3 shares two SEPARATE 6-token pieces with doc 1 -> if
            # they were adjacent they'd merge; the gap must split them
            (3, "intro words here alpha beta gamma GAP epsilon zeta eta theta iota trailing"),
            (4, "totally unrelated content with no overlap whatsoever at all ok"),
            (5, "tiny doc"),  # shorter than k: no grams
        ],
        "doc_id long, text string",
    )
    rows = {
        (r.id_a, r.id_b): (r.a_start, r.b_start, r.span_tokens)
        for r in shared_span_runs(docs, k=6, min_span=6).collect()
    }
    # docs 1&2: the quote is 9 tokens; doc1 has 3 tokens before it
    assert rows[(1, 2)] == (4, 1, 9)
    # docs 4,5 appear in no pair
    assert all(4 not in p and 5 not in p for p in rows)
    # doc3's two fragments are < 6 anchors each after the gap: with k=6
    # neither 'intro words here alpha beta gamma' (one anchor, span 6)
    # nor the 5-token tail piece qualifies beyond its own anchor run;
    # the shared 6-token prefix with doc 1 IS one exact anchor
    assert rows.get((1, 3), (None, None, None))[2] in (6, None)


def test_shared_span_runs_common_gram_cap_drops_boilerplate(spark):
    from pyspark.sql import functions as F

    from rapids_and_rivers_spark.operators.dedup import shared_span_runs

    boiler = "subscribe to our newsletter for updates every single day"
    docs = spark.createDataFrame(
        [(i, f"doc number {i} says {boiler}") for i in range(1, 6)],
        "doc_id long, text string",
    )
    uncapped = shared_span_runs(docs, k=6, min_span=6).count()
    capped = shared_span_runs(docs, k=6, min_span=6, common_gram_cap=2).count()
    assert uncapped == 10  # all C(5,2) pairs share the boilerplate span
    assert capped == 0  # grams in >2 docs dropped before the join


# --- prefix-filter set-similarity join --------------------------------------


def _pf_corpus(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog today",   # 0
        "the quick brown fox jumps over the lazy dog today",   # 1: exact dup of 0
        "the quick brown fox jumps over the lazy dog tonight",  # 2: near dup of 0
        "completely different words about spark catalyst engines",  # 3
        "tiny doc",                                            # 4: < n tokens
        "another unrelated sentence mentioning training data pipelines",  # 5
    ]
    return docs_df(spark, texts)


def test_prefix_filter_equals_brute_force(spark):
    """Prefix filtering is lossless: output == all-pairs Jaccard filter."""
    df = _pf_corpus(spark)
    got = sorted(
        map(tuple, D.prefix_filter_pairs(df, threshold=0.5).collect())
    )
    # brute force over string shingles
    from itertools import combinations

    rows = df.collect()
    sh = {}
    for r in rows:
        toks = r.text.lower().split()
        sh[r.doc_id] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
    want = []
    for a, b in combinations(sorted(sh), 2):
        if not sh[a] or not sh[b]:
            continue
        inter = len(sh[a] & sh[b])
        j = round(inter / len(sh[a] | sh[b]), 4)
        if j >= 0.5:
            want.append((a, b, j))
    assert got == sorted(want)
    # the exact dup pair and the near dup pair are both present
    ids = {(a, b) for a, b, _ in got}
    assert (0, 1) in ids and (0, 2) in ids and (1, 2) in ids


def test_prefix_filter_candidate_space_is_pruned(spark):
    """The prefix posting join generates strictly fewer candidate pairs
    than the full inverted index: frequent shingles never reach the
    join. Pinned as sum-of-C(list,2) over posting lists (the structural
    sub-quadratic guard, same technique as the LSH cost test)."""
    df = _pf_corpus(spark)
    toked = df.select(
        F.col("doc_id").alias("id"),
        T.tokens(T.normalized(F.col("text"))).alias("toks"),
    )
    sized = (
        toked.select("id", D.word_shingles(F.col("toks"), 3).alias("sh"))
        .filter(F.size("sh") > 0)
        .withColumn("sz", F.size("sh"))
    )
    post = sized.select("id", "sz", F.explode("sh").alias("t"))
    full_space = (
        post.groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("p"))
        .collect()[0]["p"]
    )
    dfreq = post.groupBy("t").agg(F.count(F.lit(1)).alias("dfr"))
    from pyspark.sql import Window as W

    w = W.partitionBy("id").orderBy("dfr", "t")
    plen = F.col("sz") - F.ceil(F.lit(0.5) * F.col("sz")).cast("int") + 1
    prefix = (
        post.join(dfreq, "t")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= plen)
    )
    prefix_space = (
        prefix.groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("p"))
        .collect()[0]["p"]
    )
    assert prefix_space < full_space
    assert prefix_space > 0  # the dup pairs still collide in the prefix


# --- sorted-neighborhood dedup ----------------------------------------------


def test_sorted_neighborhood_finds_suffix_edits(spark):
    """Pairs whose edits come AFTER a shared prefix are caught; window
    semantics (rank distance <= window) and the levenshtein bound hold."""
    from rapids_and_rivers_spark.operators.fuzzy import sorted_neighborhood_pairs

    texts = [
        "template header alpha ends with tail one",      # 0
        "template header alpha ends with tail two",      # 1: suffix edit of 0
        "template header alpha ends with other words",   # 2: bigger suffix edit
        "zzz totally unrelated document body here",      # 3
    ]
    df = docs_df(spark, texts)
    got = {
        (r.id_a, r.id_b): r.lev
        for r in sorted_neighborhood_pairs(
            df, "text", "doc_id", block_chars=8, key_chars=80,
            window=2, max_distance=10,
        ).collect()
    }
    assert (0, 1) in got and got[(0, 1)] == 3  # one->two is 3 edits
    # doc 3 is in its own block: never paired
    assert not any(3 in p for p in got)
    # every reported pair respects the bound
    assert all(v <= 10 for v in got.values())


def test_sorted_neighborhood_window_is_rank_bounded(spark):
    """With window=1 only adjacent-in-sort pairs appear; widening the
    window can only add pairs (monotone candidate growth)."""
    from rapids_and_rivers_spark.operators.fuzzy import sorted_neighborhood_pairs

    texts = [
        "prefix aaaa", "prefix aaab", "prefix aaac", "prefix aaad",
    ]
    df = docs_df(spark, texts)
    w1 = {
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(
            df, "text", "doc_id", window=1, max_distance=5
        ).collect()
    }
    w3 = {
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(
            df, "text", "doc_id", window=3, max_distance=5
        ).collect()
    }
    assert w1 == {(0, 1), (1, 2), (2, 3)}
    assert w1 < w3 and (0, 3) in w3


# --- pagerank ----------------------------------------------------------------


def test_pagerank_star_hub_dominates(spark):
    """Undirected star: the hub outranks every leaf; probability mass
    is conserved (ranks sum to 1)."""
    from rapids_and_rivers_spark.operators.graph import pagerank

    leaves = [f"leaf{i}" for i in range(5)]
    e = [("hub", l, 1.0) for l in leaves] + [(l, "hub", 1.0) for l in leaves]
    edges = spark.createDataFrame(e, "src string, dst string, weight double")
    ranks = {r.node: r.pr for r in pagerank(edges, iters=5).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert all(ranks["hub"] > ranks[l] for l in leaves)
    # leaves are symmetric -> identical ranks
    assert len({round(ranks[l], 12) for l in leaves}) == 1


def test_pagerank_ring_is_uniform(spark):
    """A symmetric ring is rank-uniform at every iteration count."""
    from rapids_and_rivers_spark.operators.graph import pagerank

    n = 6
    e = []
    for i in range(n):
        j = (i + 1) % n
        e += [(f"v{i}", f"v{j}", 1.0), (f"v{j}", f"v{i}", 1.0)]
    edges = spark.createDataFrame(e, "src string, dst string, weight double")
    ranks = [r.pr for r in pagerank(edges, iters=3).collect()]
    assert len(ranks) == n
    assert max(ranks) - min(ranks) < 1e-12
    assert abs(sum(ranks) - 1.0) < 1e-9


def test_pagerank_weight_bias(spark):
    """Heavier in-edges pull rank: b receives 3x the weight c does from
    the same source -> pr(b) > pr(c)."""
    from rapids_and_rivers_spark.operators.graph import pagerank

    e = [("a", "b", 3.0), ("b", "a", 3.0), ("a", "c", 1.0), ("c", "a", 1.0)]
    edges = spark.createDataFrame(e, "src string, dst string, weight double")
    ranks = {r.node: r.pr for r in pagerank(edges, iters=4).collect()}
    assert ranks["b"] > ranks["c"]


# --- DSIR importance selection ----------------------------------------------


def test_dsir_ranks_target_like_docs_high(spark):
    """Docs drawn from the target vocabulary score above docs from a
    disjoint vocabulary; target rows themselves rank on top."""
    from rapids_and_rivers_spark.operators.selection import dsir_scores

    tgt = [f"alpha beta gamma delta epsilon tok{i}" for i in range(6)]
    off = [f"zebra yak xylo walrus vulture not{i}" for i in range(6)]
    mixed = ["alpha beta gamma zebra yak xylo"]
    rows = (
        [(i, t, True) for i, t in enumerate(tgt)]
        + [(100 + i, t, False) for i, t in enumerate(off)]
        + [(200, mixed[0], False)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    from pyspark.sql import functions as F

    out = {
        r.doc_id: r.dsir_score
        for r in dsir_scores(df, F.col("tgt"), buckets=256).collect()
    }
    tgt_scores = [out[i] for i in range(6)]
    off_scores = [out[100 + i] for i in range(6)]
    assert min(tgt_scores) > max(off_scores)
    # the half-and-half doc sits strictly between
    assert max(off_scores) < out[200] < min(tgt_scores)


def test_dsir_length_normalized(spark):
    """Repeating a doc's text doesn't change its per-token average."""
    from rapids_and_rivers_spark.operators.selection import dsir_scores
    from pyspark.sql import functions as F

    base = "alpha beta gamma delta"
    df = spark.createDataFrame(
        [(1, base, True), (2, base + " " + base, True)],
        "doc_id long, text string, tgt boolean",
    )
    out = {r.doc_id: r for r in dsir_scores(df, F.col("tgt")).collect()}
    assert out[1].dsir_score == out[2].dsir_score
    assert out[2].n_tokens == 2 * out[1].n_tokens


def test_label_propagation_two_cliques(spark):
    """Two dense cliques joined by one weak bridge resolve into two
    communities labeled by their smallest member."""
    from rapids_and_rivers_spark.operators.graph import label_propagation

    def clique(names, w):
        e = []
        for a in names:
            for b in names:
                if a != b:
                    e.append((a, b, w))
        return e

    e = clique(["a1", "a2", "a3"], 5.0) + clique(["b1", "b2", "b3"], 5.0)
    e += [("a1", "b1", 1.0), ("b1", "a1", 1.0)]  # weak bridge
    edges = spark.createDataFrame(e, "src string, dst string, weight double")
    labels = {r.node: r.label for r in label_propagation(edges, iters=3).collect()}
    assert labels["a2"] == labels["a3"] == labels["a1"]
    assert labels["b2"] == labels["b3"] == labels["b1"]
    assert labels["a1"] != labels["b1"]


def test_label_propagation_tie_breaks_to_min_label(spark):
    """Equal-weight neighbors: the smaller label wins deterministically."""
    from rapids_and_rivers_spark.operators.graph import label_propagation

    e = [("m", "a", 1.0), ("m", "z", 1.0), ("a", "m", 1.0), ("z", "m", 1.0)]
    edges = spark.createDataFrame(e, "src string, dst string, weight double")
    labels = {r.node: r.label for r in label_propagation(edges, iters=1).collect()}
    # m sees labels {a, z} at equal weight -> adopts 'a'
    assert labels["m"] == "a"


def test_label_propagation_partitioning_invariant(spark):
    from rapids_and_rivers_spark.operators.graph import label_propagation
    from pyspark.sql import functions as F

    e = [(f"v{i}", f"v{(i+1) % 7}", float(1 + i % 3)) for i in range(7)]
    e += [(d, s, w) for s, d, w in e]
    edges = spark.createDataFrame(e, "src string, dst string, weight double")
    a = sorted(map(tuple, label_propagation(edges.repartition(1), iters=2).collect()))
    b = sorted(
        map(
            tuple,
            label_propagation(edges.repartition(13, F.col("dst")), iters=2).collect(),
        )
    )
    assert a == b


def test_pagerank_warm_start_composes(spark):
    """Warm-starting j rounds from an i-round result equals a cold
    i+j-round run — the incremental daily-rank contract."""
    from rapids_and_rivers_spark.operators.graph import pagerank

    e = [("a", "b", 2.0), ("b", "a", 2.0), ("b", "c", 1.0), ("c", "b", 1.0)]
    edges = spark.createDataFrame(e, "src string, dst string, weight double")
    cold = {r.node: r.pr for r in pagerank(edges, iters=3).collect()}
    warm1 = pagerank(edges, iters=1)
    warm = {
        r.node: r.pr
        for r in pagerank(edges, iters=2, init_ranks=warm1).collect()
    }
    assert set(cold) == set(warm)
    assert all(abs(cold[k] - warm[k]) < 1e-12 for k in cold)


def test_pagerank_rejects_reset_plus_init_ranks(spark):
    """Personalized teleport and warm start are mutually exclusive —
    passing both must raise, not silently drop init_ranks."""
    import pytest

    from rapids_and_rivers_spark.operators.graph import pagerank

    e = [("a", "b", 1.0), ("b", "a", 1.0)]
    edges = spark.createDataFrame(e, "src string, dst string, weight double")
    seed = spark.createDataFrame([("a", 1.0)], "node string, r double")
    warm = spark.createDataFrame([("a", 0.5), ("b", 0.5)], "node string, pr double")
    with pytest.raises(ValueError, match="not both"):
        pagerank(edges, iters=1, reset=seed, init_ranks=warm)


def test_negative_samples_excludes_near_dups_and_self(spark):
    from rapids_and_rivers_spark.operators.selection import negative_samples

    ids = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    # doc 0 and 1 are declared near-dups: neither may sample the other
    dup = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    out = negative_samples(ids, k=4, buckets=8, exclude_pairs=dup).collect()
    assert all(r.id != r.neg_id for r in out)
    pairs = {(min(r.id, r.neg_id), max(r.id, r.neg_id)) for r in out}
    assert (0, 1) not in pairs
    # every emitted slot is one of the k draws; each doc emits <= k rows
    from collections import Counter

    per_doc = Counter(r.id for r in out)
    assert max(per_doc.values()) <= 4
    assert all(1 <= r.slot <= 4 for r in out)


def test_negative_samples_deterministic_across_partitioning(spark):
    from rapids_and_rivers_spark.operators.selection import negative_samples
    from pyspark.sql import functions as F

    ids = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    a = sorted(map(tuple, negative_samples(ids.repartition(1), k=3).collect()))
    b = sorted(
        map(tuple, negative_samples(ids.repartition(11, F.col("doc_id")), k=3).collect())
    )
    assert a == b and len(a) > 0


# --- data-quality validation suite ------------------------------------------


def test_validation_checks_catch_corruption(spark):
    """Each check fires on deliberately corrupted data and passes on
    clean data."""
    from rapids_and_rivers_spark.operators import validation as V

    clean = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, v double"
    )
    dirty = spark.createDataFrame(
        [(1, 10.0), (1, -5.0), (4, None)], "id long, v double"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pid long")

    def row(df):
        return df.collect()[0]

    assert row(V.check_unique(clean, ["id"], "u")).passed
    r = row(V.check_unique(dirty, ["id"], "u"))
    assert not r.passed and r.metric == 1.0  # one duplicate key
    assert row(V.check_referential(clean, parent, "id", "pid", "ri")).passed
    r = row(V.check_referential(dirty, parent, "id", "pid", "ri"))
    assert not r.passed and r.metric == 1.0  # id=4 orphan
    assert row(V.check_range(clean, "v", 0, 100, "rg")).passed
    r = row(V.check_range(dirty, "v", 0, 100, "rg"))
    assert not r.passed and r.metric == 1.0  # -5 out of range; NULL ignored
    assert row(V.check_null_fraction(clean, "v", 0.0, "nf")).passed
    r = row(V.check_null_fraction(dirty, "v", 0.1, "nf"))
    assert not r.passed and r.metric == round(1 / 3, 4)


def test_validation_suite_unions_verdicts(spark):
    from rapids_and_rivers_spark.operators import validation as V

    df = spark.createDataFrame([(1,), (2,)], "id long")
    out = V.run_suite(
        [
            V.check_unique(df, ["id"], "a"),
            V.check_null_fraction(df, "id", 0.0, "b"),
        ]
    ).collect()
    assert {r.check for r in out} == {"a", "b"}
    assert all(r.passed for r in out)


# --- CDC merge apply ---------------------------------------------------------


def test_cdc_apply_upsert_delete_insert(spark):
    from rapids_and_rivers_spark.operators.cdc import apply_changes

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 1, "U"),   # update
            (3, "xx", 1, "D"),   # delete
            (4, "d", 1, "U"),    # insert
            (2, "b3", 2, "U"),   # later update wins
        ],
        "k long, v string, seq int, op string",
    )
    out = {r.k: r.v for r in apply_changes(base, changes, ["k"], "seq").collect()}
    assert out == {1: "a", 2: "b3", 4: "d"}


def test_cdc_latest_change_tie_break(spark):
    """Equal seq: 'U' outranks 'D' (documented total order)."""
    from rapids_and_rivers_spark.operators.cdc import latest_changes

    changes = spark.createDataFrame(
        [(1, "x", 5, "D"), (1, "y", 5, "U")], "k long, v string, seq int, op string"
    )
    rows = latest_changes(changes, ["k"], "seq").collect()
    assert len(rows) == 1 and rows[0].op == "U" and rows[0].v == "y"


def test_cdc_apply_is_idempotent(spark):
    """Re-applying the same resolved change set yields the same snapshot."""
    from rapids_and_rivers_spark.operators.cdc import apply_changes

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    changes = spark.createDataFrame(
        [(2, "b2", 1, "U"), (1, "zz", 1, "D")], "k long, v string, seq int, op string"
    )
    once = apply_changes(base, changes, ["k"], "seq")
    twice = apply_changes(once, changes, ["k"], "seq")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_containment_catches_subdocument_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment ~1 while
    Jaccard stays below a typical dup threshold — the asymmetric case
    the operator exists for."""
    from rapids_and_rivers_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    long_doc = filler + " " + short + " " + " ".join(
        f"z{i} q{i} r{i}" for i in range(30)
    )
    df = spark.createDataFrame(
        [(1, short, "s"), (2, long_doc, "s")],
        "doc_id long, text string, source string",
    )
    cont = ngram_containment_pairs(df, threshold=0.9).collect()
    assert len(cont) == 1
    row = cont[0]
    assert row["id_a"] == 1 and row["cont_a_in_b"] == 1.0
    assert row["cont_b_in_a"] < 0.1
    jac = ngram_jaccard_pairs(df, threshold=0.2).collect()
    assert jac == []  # jaccard alone would have missed the duplication


# --- Arrow-kernel bit-exactness vs the Catalyst fold formulations -----------
#
# lsh_bucket_multi and dot_rows replaced interpreted F.aggregate folds on
# the candidate-verify hot paths (round 11). Their contract is BIT
# identity with the fold: the kernels accumulate element-sequentially in
# the fold's left-to-right order, so every double (and every sign bit /
# rounded cosine derived from it) must match exactly. These tests pin
# that contract against the original expressions, built inline here.


def _fold_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _embeddings_df(spark, dim=16, n=60):
    # deterministic, sign-boundary-rich values: scaled sin-like LCG grid
    rows = []
    state = 99
    for i in range(n):
        vec = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            vec.append((state / float(1 << 31)) * 2.0 - 1.0)
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_lsh_bucket_multi_matches_fold_expression(spark):
    dim, n_planes = 16, 6
    df = _embeddings_df(spark, dim=dim)
    kernel = df.select(
        "vec_id",
        S.lsh_bucket(F.col("embedding"), dim, n_planes=n_planes, seed=7).alias("b"),
    )
    # the pre-kernel formulation, verbatim
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(S._deterministic_planes(dim, n_planes, 7)):
        p = F.array(*[F.lit(x) for x in plane])
        bit = (_fold_dot(F.col("embedding"), p) > 0).cast("long")
        bucket = bucket + (bit * (1 << i))
    fold = df.select("vec_id", bucket.alias("b"))
    assert sorted(map(tuple, kernel.collect())) == sorted(map(tuple, fold.collect()))


def test_lsh_bucket_multi_null_vector_gives_null(spark):
    df = spark.createDataFrame(
        [(0, [0.5, -0.25]), (1, None)], "vec_id long, embedding array<double>"
    )
    rows = {
        r.vec_id: r.b
        for r in df.select(
            "vec_id", S.lsh_bucket(F.col("embedding"), 2, n_planes=3, seed=3).alias("b")
        ).collect()
    }
    assert rows[1] is None and rows[0] is not None


def test_dot_rows_matches_fold_bitwise_and_propagates_null(spark):
    df = _embeddings_df(spark, dim=16)
    paired = df.alias("l").join(
        df.alias("r"), F.col("l.vec_id") < F.col("r.vec_id")
    ).select(
        F.col("l.vec_id").alias("ia"),
        F.col("r.vec_id").alias("ib"),
        F.col("l.embedding").alias("ea"),
        F.col("r.embedding").alias("eb"),
    )
    both = paired.select(
        "ia",
        "ib",
        S.dot_rows(F.col("ea"), F.col("eb")).alias("k"),
        _fold_dot(F.col("ea"), F.col("eb")).alias("f"),
    )
    # bit identity: compare the raw doubles, not a rounded form
    bad = both.filter(
        ~(F.col("k") == F.col("f"))
    ).count()
    assert bad == 0
    nulls = spark.createDataFrame(
        [(1, [1.0, 2.0], None)], "i long, a array<double>, b array<double>"
    ).select(S.dot_rows(F.col("a"), F.col("b")).alias("d"))
    assert nulls.collect()[0].d is None


def test_dot_rows_nan_stays_nan_not_null(spark):
    """ADVICE r11 (similarity.py:221): outside the finite-embedding
    contract a genuinely-NaN dot must surface as NaN — the Catalyst
    fold's answer — not be coerced to SQL NULL at the Arrow boundary;
    NULL is reserved for NULL-input rows."""
    import math

    rows = spark.createDataFrame(
        [
            (1, [float("nan"), 2.0], [1.0, 1.0]),  # genuine NaN dot
            (2, [1.0, 2.0], None),                 # NULL input
            (3, [1.0, 2.0], [3.0, 4.0]),           # finite: 11.0
        ],
        "i long, a array<double>, b array<double>",
    ).select("i", S.dot_rows(F.col("a"), F.col("b")).alias("d"))
    got = {r.i: r.d for r in rows.collect()}
    assert got[1] is not None and math.isnan(got[1])
    assert got[2] is None
    assert got[3] == 11.0
