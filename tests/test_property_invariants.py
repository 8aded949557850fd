"""Property-based invariants (hypothesis): open-schema preservation and
predicate/oracle agreement hold for ARBITRARY JSON — not just the
example corpus. The reference pins behavior with exhaustive examples
(JsonMessageTest.kt); these generalize the two invariants a bus cannot
violate: (1) parse→serialize loses nothing, (2) the vectorized Column
predicates agree with a plain-Python reference on any input."""

from __future__ import annotations

import json
import math

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

from rapids_and_rivers_spark.packet import Packet  # noqa: E402

# JSON-safe scalars: no NaN/inf (not JSON), ints within i64 (Jackson/
# Spark long range), text without surrogates
scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(max_size=40),
)
json_values = st.recursive(
    scalars,
    lambda inner: st.one_of(
        st.lists(inner, max_size=5),
        st.dictionaries(st.text(min_size=1, max_size=12), inner, max_size=5),
    ),
    max_leaves=20,
)
json_objects = st.dictionaries(st.text(min_size=1, max_size=12), json_values, max_size=8)


@settings(max_examples=200, deadline=None)
@given(obj=json_objects)
def test_packet_roundtrip_preserves_open_schema(obj):
    """T1/T2: every undeclared field survives parse → mutate-nothing →
    serialize bit-faithfully (modulo the envelope stamp keys)."""
    packet = Packet(json.dumps(obj), stamp=False)
    assert not packet.problems.has_errors()
    out = json.loads(packet.to_json())
    assert out == obj


@settings(max_examples=200, deadline=None)
@given(obj=json_objects)
def test_packet_stamp_adds_only_envelope_keys(obj):
    """The envelope stamp adds/bumps exactly @id/@opprettet/
    system_read_count/system_participating_services and touches nothing
    else (JsonMessage.kt:127-135)."""
    for k in ("@id", "@opprettet", "system_read_count", "system_participating_services"):
        obj.pop(k, None)
    packet = Packet(json.dumps(obj), service_name="svc", instance_id="i-1")
    out = json.loads(packet.to_json())
    assert out["system_read_count"] == 0
    assert out["@id"] and out["@opprettet"]
    assert out["system_participating_services"][0]["service"] == "svc"
    for k, v in obj.items():
        assert out[k] == v or (
            isinstance(v, float) and math.isclose(out[k], v)
        )


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    objs=st.lists(json_objects, min_size=1, max_size=6),
    key=st.sampled_from(["a", "b", "k1", "missing"]),
)
def test_require_key_matches_python_reference(spark, objs, key):
    """The Column-compiled require_key verdict agrees with the plain
    definition (present and non-null) on arbitrary messages."""
    from pyspark.sql import functions as F

    from rapids_and_rivers_spark.functions import json_ops as J
    from rapids_and_rivers_spark.functions import predicates as P

    msgs = [json.dumps(o) for o in objs]
    df = spark.createDataFrame([(m,) for m in msgs], "value string").withColumn(
        "v", J.parse(F.col("value"))
    )
    (rule,) = P.require_key(key)
    got = [bool(r.ok) for r in df.select(rule.ok(F.col("v")).alias("ok")).collect()]
    expected = [o.get(key) is not None for o in objs]
    assert got == expected


# --- River.pass_expr equals the verdict on arbitrary messages and rivers ------

rule_values = st.one_of(
    st.none(),
    st.booleans(),
    st.sampled_from([3, 3.5, "3", "x", "y", "2020-01-02"]),
    st.lists(st.sampled_from(["a", "b", 2, None]), max_size=3),
)
rule_messages = st.one_of(
    st.fixed_dictionaries(
        {},
        optional={
            "k": rule_values,
            "s": rule_values,
            "tags": rule_values,
            "a": st.one_of(rule_values, st.fixed_dictionaries({}, optional={"b": rule_values})),
        },
    ).map(json.dumps),
    st.sampled_from(["not json", "{", "[1, 2]", "null", "3"]),
)


def _rule_makers():
    from rapids_and_rivers_spark.functions import predicates as P

    return [
        lambda sev: P.require_key("k", severity=sev)[0],
        lambda sev: P.require_key("a.b", severity=sev)[0],
        lambda sev: P.require_value("k", 3, severity=sev),
        lambda sev: P.require_value("s", "x", severity=sev),
        lambda sev: P.require_any("s", ["x", "y"], severity=sev),
        lambda sev: P.require_all("tags", ["a", "b"], severity=sev),
        lambda sev: P.require_contains("tags", "a", severity=sev),
        lambda sev: P.require_array("tags", severity=sev),
        lambda sev: P.require_parseable("k", "number", severity=sev),
        lambda sev: P.forbid("a.b", severity=sev)[0],
        lambda sev: P.forbid_value("k", 3, severity=sev),
    ]


river_specs = st.lists(
    st.tuples(
        st.lists(
            st.tuples(st.integers(0, len(_rule_makers()) - 1), st.booleans()),
            min_size=1,
            max_size=5,
        ),
        st.integers(0, 5),
    ),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(msgs=st.lists(rule_messages, min_size=1, max_size=8), specs=river_specs)
def test_pass_expr_matches_verdict_on_arbitrary_rivers(spark, msgs, specs):
    """A river's flat PASS test agrees with ``verdict == 'pass'`` for
    any mix of rules, severities and precondition/validation split."""
    from pyspark.sql import functions as F

    from rapids_and_rivers_spark.functions import json_ops as J
    from rapids_and_rivers_spark.functions.predicates import DEMAND, REQUIRE
    from rapids_and_rivers_spark.river import VARIANT_COL, VERDICT_COL, River, Verdict

    makers = _rule_makers()
    rivers = []
    for picks, split in specs:
        rules = [makers[i](DEMAND if demand else REQUIRE) for i, demand in picks]
        rivers.append(River().precondition(rules[:split]).validate(rules[split:]))
    v = F.col(VARIANT_COL)
    rows = (
        spark.createDataFrame([(m,) for m in msgs], "value string")
        .withColumn(VARIANT_COL, J.parse(F.col("value")))
        .select(
            *(r.pass_expr().alias(f"p{i}") for i, r in enumerate(rivers)),
            *(r.verdict_expr(v)[VERDICT_COL].alias(f"v{i}") for i, r in enumerate(rivers)),
        )
        .collect()
    )
    for row in rows:
        for i in range(len(rivers)):
            assert row[f"p{i}"] is (row[f"v{i}"] == Verdict.PASS)


# --- sketch / retrieval invariants on arbitrary corpora -----------------------

corpus_keys = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=4), min_size=1, max_size=60
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(keys=corpus_keys)
def test_cms_one_sided_error_on_arbitrary_keys(spark, keys):
    """CMS never underestimates, for ANY key multiset — even with a
    4-cell-wide sketch where everything collides."""
    from pyspark.sql import functions as F

    from rapids_and_rivers_spark.operators.sketch import cms_build, cms_estimate

    df = spark.createDataFrame([(k,) for k in keys], "k string").coalesce(2)
    sketch = cms_build(df, "k", width=4, depth=2)
    exact = {
        r.k: r.n for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    est = {
        r.k: r.est
        for r in cms_estimate(
            df.select("k").distinct(), sketch, "k", width=4, depth=2
        ).collect()
    }
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)
    # total mass bound: every row estimate <= total insertions
    assert all(est[k] <= len(keys) for k in exact)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=30), min_size=1, max_size=12
    )
)
def test_retrieval_invariants_on_arbitrary_corpora(spark, texts):
    """Inverted-index df equals the distinct-doc count per token, and the
    MLE bigram LM never yields a positive log-prob — for arbitrary
    whitespace corpora including empty and single-token docs."""
    from rapids_and_rivers_spark.operators import retrieval as R

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    postings = R.inverted_postings(df).collect()
    # reference token sets computed in plain Python
    doc_tokens = {
        i: [w for w in t.strip().lower().split() if w] for i, t in enumerate(texts)
    }
    for row in postings:
        docs_with = {i for i, toks in doc_tokens.items() if row.token in toks}
        assert row.df == len(docs_with)
        assert set(map(int, row.postings.split(","))) <= docs_with
    lm = R.bigram_logprob(df).collect()
    assert all(r.avg_logprob <= 0.0 for r in lm)
    assert all(r.n_bigrams >= 1 for r in lm)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
            min_size=4,
            max_size=4,
        ),
        min_size=3,
        max_size=24,
    )
)
def test_knn_self_join_exact_equals_numpy_bruteforce(spark, vecs):
    """The cell-blocked kNN self-join in exact mode (probe all cells)
    must reproduce brute-force top-k under (sim DESC, id ASC) for
    ARBITRARY small corpora — not just the driver embeddings: random
    vector sets exercise degenerate cells, ties, and tiny groups."""
    import numpy as np

    from rapids_and_rivers_spark.operators.similarity import knn_self_join

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    k = 3
    got = {}
    for r in knn_self_join(
        df, dim=4, k=k, n_cells=4, nprobe=None, sample_per_cell=8
    ).collect():
        got.setdefault(r.t, []).append((r.rk, r.c, r.sim))
    Q = np.floor(
        np.array([list(map(float, v)) for v in vecs], dtype=np.float64) * 1000
    ).astype(np.int64)
    n2 = (Q * Q).sum(axis=1)
    # all-zero quantized vectors produce zero norms -> NaN sims; the
    # operator and reference agree only on well-defined rows
    ids = np.arange(len(vecs), dtype=np.int64)
    sims = (Q @ Q.T).astype(np.float64) / np.sqrt(
        np.outer(n2, n2).astype(np.float64)
    )
    import math

    for i in range(len(vecs)):
        row = sims[i].copy()
        row[i] = -np.inf
        order = np.lexsort((ids, -row))
        expect = [
            (int(ids[j]), float(row[j]))
            for j in order[:k]
            if row[j] > -np.inf and not math.isnan(row[j])
        ]
        mine = sorted(got.get(i, []))
        got_pairs = [(c, s) for _, c, s in mine]
        # compare only when sims are well-defined (non-NaN)
        if all(not math.isnan(s) for _, s in expect):
            assert got_pairs == expect, (i, got_pairs, expect)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),  # group
            st.integers(min_value=0, max_value=10**6),  # id
            st.floats(min_value=-100, max_value=100, allow_nan=False),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[1],
    )
)
def test_quantile_sample_merge_and_determinism(spark, rows):
    """For arbitrary (group, id, value) rows: the hash-sample sketch is
    (1) invariant to input partitioning and (2) exactly mergeable —
    bottom-k of the union == re-truncated union of the halves'
    bottom-k's."""
    from rapids_and_rivers_spark.operators import sketch as K

    k = 8
    df = spark.createDataFrame(list(rows), "g int, id long, v double")

    def sample(d):
        out = {}
        for r in K.quantile_sample(d, ["g"], "id", "v", k=k).collect():
            out[r.g] = (r.n, tuple(r.vals))
        return out

    whole = sample(df)
    repart = sample(df.repartition(5))
    assert whole == repart
    # mergeability via the hashed pairs
    hashed = df.select(
        "g", K.kmv_hash(df["id"].cast("string")).alias("h"), "v"
    ).collect()
    byg = {}
    for r in hashed:
        byg.setdefault(r.g, []).append((r.h, r.v))
    half_a = {g: sorted(p for p in ps if p[0] % 2 == 0)[:k] for g, ps in byg.items()}
    half_b = {g: sorted(p for p in ps if p[0] % 2 == 1)[:k] for g, ps in byg.items()}
    for g, ps in byg.items():
        merged = sorted(half_a.get(g, []) + half_b.get(g, []))[:k]
        assert merged == sorted(ps)[:k]
        n, vals = whole[g]
        assert n == len(merged)
        assert tuple(sorted(v for _, v in merged)) == vals


# --- unigram Viterbi: DP equals brute-force over ALL segmentations ----------

_ug_words = st.lists(
    st.text(alphabet="ab", min_size=1, max_size=6), min_size=1, max_size=4
)
_ug_counts = st.lists(st.integers(1, 50), min_size=3, max_size=3)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(words=_ug_words, counts=_ug_counts)
def test_unigram_viterbi_equals_bruteforce(spark, words, counts):
    """The relational DP's (pieces, negsum, path) must equal the
    brute-force minimum over EVERY possible segmentation — the
    optimality contract, not just plausibility."""
    from rapids_and_rivers_spark.operators import text as T

    vocab = [
        ("a", 1, counts[0]),
        ("b", 1, counts[1]),
        ("ab", 2, counts[2]),
        ("ba", 2, 7),
        ("aa", 2, 11),
    ]
    cnt = {p: c for p, _, c in vocab}
    wdf = spark.createDataFrame(
        [(w, 1) for w in sorted(set(words))], "word string, n long"
    )
    got = {
        r["word"]: (r["pieces"], r["negsum"], r["path"])
        for r in T.unigram_viterbi(wdf, [(p, c) for p, _, c in vocab]).collect()
    }

    def segs(w):
        if not w:
            yield []
            return
        for l in (1, 2):
            if l <= len(w) and w[:l] in cnt:
                for rest in segs(w[l:]):
                    yield [w[:l]] + rest

    for w in set(words):
        best = min(
            (len(s), -sum(cnt[p] for p in s), "|".join(s)) for s in segs(w)
        )
        assert got[w] == best, (w, got[w], best)


# --- WordPiece greedy: aggregate walk equals reference longest-match --------

_wp_words = st.lists(
    st.text(alphabet="ab", min_size=1, max_size=8), min_size=1, max_size=5
)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(words=_wp_words, start_ab=st.booleans(), cont_ba=st.booleans())
def test_wordpiece_greedy_equals_bruteforce(spark, words, start_ab, cont_ba):
    """The higher-order-aggregate greedy walk must equal a reference
    longest-match-first scan for every word, under a POSITION-AWARE
    vocabulary (start pieces distinct from ##-continuations) whose
    multi-char membership hypothesis varies per example."""
    from rapids_and_rivers_spark.operators import text as T

    vocab = [("a", False), ("b", False), ("a", True), ("b", True),
             ("ab", True), ("aba", False)]
    if start_ab:
        vocab.append(("ab", False))
    if cont_ba:
        vocab.append(("ba", True))
    V = set(vocab)
    wdf = spark.createDataFrame(
        [(w, 1) for w in sorted(set(words))], "word string, n long"
    )
    got = {
        r["word"]: (r["toks"], r["path"], r["ok"])
        for r in T.wordpiece_greedy(wdf, vocab).collect()
    }

    def ref(w):
        pos, path = 0, []
        while pos < len(w):
            for l in range(min(4, len(w) - pos), 0, -1):
                if (w[pos:pos + l], pos > 0) in V:
                    path.append(("##" + w[pos:pos + l]) if pos else w[pos:pos + l])
                    pos += l
                    break
            else:
                return len(path), "|".join(path), False
        return len(path), "|".join(path), True

    for w in set(words):
        assert got[w] == ref(w), (w, got[w], ref(w))


def test_wordpiece_greedy_dead_end_marks_unk(spark):
    """A word the vocabulary cannot continue must come back ok=false
    with the walk frozen at the dead end — the [UNK] contract (cannot
    arise when the vocab came from wordpiece_vocab on the same corpus,
    where every char holds both roles)."""
    from rapids_and_rivers_spark.operators import text as T

    wdf = spark.createDataFrame([("ba", 1), ("ab", 1)], "word string, n long")
    # 'b' can START a word but nothing can CONTINUE past position 1
    vocab = [("a", False), ("b", False)]
    got = {r["word"]: (r["toks"], r["path"], r["ok"])
           for r in T.wordpiece_greedy(wdf, vocab).collect()}
    assert got["ba"] == (1, "b", False)
    assert got["ab"] == (1, "a", False)


def test_wordpiece_greedy_keeps_fully_unmatched_words(spark):
    """A word whose characters are entirely absent from the vocabulary's
    start role must still come back (toks=0, ok=false) — an inner join
    would silently drop it, diverging from the SQL oracle's LEFT-JOIN
    walk (which keeps every word)."""
    from rapids_and_rivers_spark.operators import text as T

    wdf = spark.createDataFrame([("zz", 1), ("ab", 1)], "word string, n long")
    vocab = [("a", False), ("b", True)]
    got = {r["word"]: (r["toks"], r["path"], r["ok"])
           for r in T.wordpiece_greedy(wdf, vocab).collect()}
    assert got["zz"] == (0, "", False)
    assert got["ab"] == (2, "a|##b", True)


# --- r12 Arrow-kernel encodes: differential vs the Catalyst reference -------

_dk_words = st.lists(
    st.text(alphabet="abz9", min_size=0, max_size=10), min_size=1, max_size=6
)


_dk_reachable = st.lists(
    st.text(alphabet="ab", min_size=0, max_size=10), min_size=1, max_size=6
)


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(words=_dk_reachable)
def test_unigram_viterbi_kernel_matches_expr(spark, words):
    """The r12 Arrow kernel must be ROW-IDENTICAL to the retained
    Catalyst reference over every reachable word. (The alphabet is
    vocab-COMPLETE here because the reference expression hard-crashes —
    UnsafeWriter NPE on a null DP array element — for words with an
    unreachable position; that latent bug never fired in queries, whose
    vocabularies always cover the corpus chars. The kernel's defined
    behavior for that regime is pinned separately below.)"""
    from rapids_and_rivers_spark.operators import text as T

    vocab = [("a", 3), ("b", 5), ("ab", 11), ("ba", 7), ("aab", 2)]
    wdf = spark.createDataFrame(
        [(w, 1) for w in sorted(set(words))], "word string, n long"
    )
    vdf = spark.createDataFrame(vocab, "piece string, cnt long")
    kern = {
        r["word"]: (r["pieces"], r["negsum"], r["path"])
        for r in T.unigram_viterbi(wdf, vocab).collect()
    }
    ref = {
        r["word"]: (r["pieces"], r["negsum"], r["path"])
        for r in T.unigram_viterbi_expr(wdf, vdf).collect()
    }
    assert kern == ref


def test_unigram_viterbi_kernel_unreachable_and_drop_contract(spark):
    """Kernel-defined semantics outside the vocab-complete contract:
    a word with SOME vocab span but an unreachable end segments to all
    NULLs (the poisoned-min flow), and a word with NO vocab span at all
    is dropped (the reference's inner-groupBy contract). The reference
    expression NPEs on the first class, so this pins the kernel
    directly."""
    from rapids_and_rivers_spark.operators import text as T

    wdf = spark.createDataFrame(
        [("az", 1), ("zz", 1), ("ab", 1)], "word string, n long"
    )
    vocab = [("a", 3), ("b", 5), ("ab", 11)]
    got = {
        r["word"]: (r["pieces"], r["negsum"], r["path"])
        for r in T.unigram_viterbi(wdf, vocab).collect()
    }
    assert got["az"] == (None, None, None)  # reachable start, dead end
    assert "zz" not in got                  # zero spans: row dropped
    assert got["ab"] == (1, -11, "ab")


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(words=_dk_words)
def test_wordpiece_greedy_kernel_matches_expr(spark, words):
    """Same differential for the WordPiece greedy kernel: dead ends,
    fully-unmatched words (LEFT-join keep), and role-aware matching all
    behave exactly like the Catalyst reference."""
    from rapids_and_rivers_spark.operators import text as T

    vocab = [("a", False), ("b", False), ("a", True),
             ("ab", True), ("ba", True), ("aba", False)]
    wdf = spark.createDataFrame(
        [(w, 1) for w in sorted(set(words))], "word string, n long"
    )
    vdf = spark.createDataFrame(vocab, "piece string, cont boolean")
    kern = {
        r["word"]: (r["toks"], r["path"], r["ok"])
        for r in T.wordpiece_greedy(wdf, vocab).collect()
    }
    ref = {
        r["word"]: (r["toks"], r["path"], r["ok"])
        for r in T.wordpiece_greedy_expr(wdf, vdf).collect()
    }
    assert kern == ref
