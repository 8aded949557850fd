"""Round-8 additions: association rules, decision stump (+streaming
duals), Adamic-Adar link prediction, BFS levels, SES forecast.

Each operator gets (a) a hand-computable correctness check on crafted
data, (b) where the design claims mergeability/duality, the merge or
stream-equals-batch property pinned explicitly (the repo's duality
discipline), and (c) replay idempotence for the stateful stages.
"""

import math
import os

from pyspark.sql import functions as F

from rapids_and_rivers_spark.operators import forecast as FC
from rapids_and_rivers_spark.operators import graph as G
from rapids_and_rivers_spark.operators import mining as MN
from rapids_and_rivers_spark.streaming.duals import (
    assoc_items_foreach_batch,
    assoc_rules_from_store,
    stump_from_stats,
    stump_stats_foreach_batch,
)


# --------------------------------------------------------------------------
# association rules
# --------------------------------------------------------------------------


def _baskets(spark):
    # 4 baskets: {a,b,c}, {a,b}, {a,c}, {b} — hand-enumerable supports
    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "b"),
    ]
    return spark.createDataFrame(rows, "basket int, item string")


def test_association_rules_hand_counts(spark):
    out = {
        (r["antecedent"], r["consequent"]): r
        for r in MN.association_rules(
            _baskets(spark), 4, min_item_support=1, min_pair_support=1
        ).collect()
    }
    # c(a)=3, c(b)=3, c(c)=2, c(ab)=2, c(ac)=2, c(bc)=1
    ab = out[("a", "b")]
    assert ab["c_ab"] == 2 and ab["c_a"] == 3 and ab["c_b"] == 3
    assert ab["confidence"] == round(2 / 3, 4)
    assert ab["lift"] == round(2 * 4 / 9, 4)
    ca = out[("c", "a")]
    assert ca["confidence"] == 1.0  # c always co-occurs with a
    assert ("b", "c") in out and out[("b", "c")]["c_ab"] == 1
    # symmetric directions present
    assert ("b", "a") in out and ("a", "c") in out


def test_association_rules_thresholds_prune(spark):
    rules = MN.association_rules(
        _baskets(spark), 4, min_item_support=3, min_pair_support=2
    ).collect()
    # c has support 2 < 3: every rule touching c is gone; bc support 1 < 2
    items = {r["antecedent"] for r in rules} | {r["consequent"] for r in rules}
    assert items == {"a", "b"}
    assert len(rules) == 2  # a->b and b->a only


def test_assoc_stream_equals_batch_and_replay(spark, tmp_path):
    """Baskets straddling epochs: pair counted once, at the later
    member's arrival; replaying an epoch changes nothing."""
    bi = _baskets(spark).withColumn("par", F.pmod(F.xxhash64(F.col("item")), F.lit(2)))
    store = str(tmp_path / "assoc")
    stage = assoc_items_foreach_batch(store, expected_items=8)
    stage(bi.filter(F.col("par") == 0).select("basket", "item"), 0)
    stage(bi.filter(F.col("par") == 1).select("basket", "item"), 1)
    got = assoc_rules_from_store(
        spark, store, min_item_support=1, min_pair_support=1
    ).collect()
    want = MN.association_rules(
        _baskets(spark), 4, min_item_support=1, min_pair_support=1
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # replay epoch 1: overwrite must be byte-idempotent at the result level
    stage(bi.filter(F.col("par") == 1).select("basket", "item"), 1)
    replay = assoc_rules_from_store(
        spark, store, min_item_support=1, min_pair_support=1
    ).collect()
    assert sorted(map(tuple, replay)) == sorted(map(tuple, want))


def test_assoc_stream_duplicate_membership_across_epochs(spark, tmp_path):
    """The same (basket, item) arriving again in a later epoch must NOT
    double-count (monotone store by anti-join)."""
    rows0 = [(1, "a"), (1, "b")]
    rows1 = [(1, "a"), (1, "c")]  # (1,a) repeats
    store = str(tmp_path / "assoc_dup")
    stage = assoc_items_foreach_batch(store, expected_items=4)
    stage(spark.createDataFrame(rows0, "basket int, item string"), 0)
    stage(spark.createDataFrame(rows1, "basket int, item string"), 1)
    got = {
        (r["antecedent"], r["consequent"]): r["c_ab"]
        for r in assoc_rules_from_store(
            spark, store, min_item_support=1, min_pair_support=1
        ).collect()
    }
    assert got[("a", "b")] == 1 and got[("a", "c")] == 1 and got[("b", "c")] == 1


# --------------------------------------------------------------------------
# decision stump
# --------------------------------------------------------------------------


def _labeled(spark):
    # y == 1 iff x <= 3 (pure split at x=3); z is noise
    rows = [(x, z, 1 if x <= 3 else 0) for x in range(1, 9) for z in (0, 1)]
    return spark.createDataFrame(rows, "x int, z int, y int")


def test_best_stump_finds_pure_split(spark):
    stats = MN.stump_stats(_labeled(spark), ["x", "z"], "y")
    best = MN.best_stump(stats, top_k=1).collect()[0]
    assert best["feature"] == "x" and best["threshold"] == 3
    assert best["n_left"] == 6 and best["pos_left"] == 6
    assert best["n_right"] == 10 and best["pos_right"] == 0
    # pure split: score = nL + nR = N
    assert best["score"] == 16.0


def test_stump_stats_merge_property(spark):
    """Grid from two disjoint halves, summed, equals the full grid —
    the mergeability the streaming dual relies on."""
    df = _labeled(spark)
    full = {
        (r["feature"], r["value"]): (r["n"], r["pos"])
        for r in MN.stump_stats(df, ["x", "z"], "y").collect()
    }
    h1 = MN.stump_stats(df.filter(F.col("x") <= 4), ["x", "z"], "y")
    h2 = MN.stump_stats(df.filter(F.col("x") > 4), ["x", "z"], "y")
    merged = {
        (r["feature"], r["value"]): (r["n"], r["pos"])
        for r in h1.unionByName(h2)
        .groupBy("feature", "value")
        .agg(F.sum("n").alias("n"), F.sum("pos").alias("pos"))
        .collect()
    }
    assert merged == full


def test_stump_stream_equals_batch(spark, tmp_path):
    df = _labeled(spark)
    out_dir = str(tmp_path / "stump")
    stage = stump_stats_foreach_batch(out_dir, ["x", "z"], "y")
    stage(df.filter(F.col("z") == 0), 0)
    stage(df.filter(F.col("z") == 1), 1)
    got = stump_from_stats(spark, out_dir, top_k=5).collect()
    want = MN.best_stump(MN.stump_stats(df, ["x", "z"], "y"), top_k=5).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # replay epoch 0: overwrite idempotence
    stage(df.filter(F.col("z") == 0), 0)
    replay = stump_from_stats(spark, out_dir, top_k=5).collect()
    assert [tuple(r) for r in replay] == [tuple(r) for r in want]


# --------------------------------------------------------------------------
# adamic-adar + bfs
# --------------------------------------------------------------------------


def _path_graph(spark):
    # path 1-2-3-4 plus edge 2-4's ABSENCE is what AA should score:
    # 1-3 share {2}, 2-4 share {3}, 1-4 share nothing
    und = [(1, 2), (2, 3), (3, 4)]
    rows = und + [(b, a) for a, b in und]
    return spark.createDataFrame(rows, "src int, dst int")


def test_adamic_adar_path_graph(spark):
    got = {
        (r["node_a"], r["node_b"]): r
        for r in G.adamic_adar(_path_graph(spark)).collect()
    }
    assert set(got) == {(1, 3), (2, 4)}
    # shared neighbor 2 has deg 2 -> round(1e6/ln 2); neighbor 3 likewise
    w = round(1_000_000 / math.log(2))
    assert got[(1, 3)]["common_neighbors"] == 1
    assert got[(1, 3)]["aa_micro"] == w
    assert got[(2, 4)]["aa_micro"] == w


def test_adamic_adar_excludes_existing_edges(spark):
    # triangle 1-2-3 plus pendant 4 on node 3: candidate (1,2) shares 3
    # but IS an edge -> excluded; (1,4) and (2,4) share 3 -> included
    und = [(1, 2), (2, 3), (1, 3), (3, 4)]
    rows = und + [(b, a) for a, b in und]
    e = spark.createDataFrame(rows, "src int, dst int")
    got = {(r["node_a"], r["node_b"]) for r in G.adamic_adar(e).collect()}
    assert got == {(1, 4), (2, 4)}


def test_bfs_levels_min_hop(spark):
    # 1-2-3-4 path, seed {1}: hops 0,1,2,3; max_hops=2 drops node 4
    e = _path_graph(spark)
    seeds = spark.createDataFrame([(1,)], "node int")
    got = {r["node"]: r["hop"] for r in G.bfs_levels(e, seeds, max_hops=2).collect()}
    assert got == {1: 0, 2: 1, 3: 2}
    # two seeds: node 3 reached at hop 1 from seed 4, not hop 2 from seed 1
    seeds2 = spark.createDataFrame([(1,), (4,)], "node int")
    got2 = {r["node"]: r["hop"] for r in G.bfs_levels(e, seeds2, max_hops=3).collect()}
    assert got2 == {1: 0, 4: 0, 2: 1, 3: 1}


# --------------------------------------------------------------------------
# SES forecast
# --------------------------------------------------------------------------


def test_ses_backtest_closed_form(spark):
    # series 100, 200, 400 cents (alpha .5):
    # s1=100; err=|200-100|=100, s2=150; err+=|400-150|=250 -> 350
    # level = 250/100? no: s3=(400+150)/2=275 -> 2.75; mae=350/(2*100)=1.75
    daily = spark.createDataFrame(
        [("k", 1, 100), ("k", 2, 200), ("k", 3, 400)], "key string, day int, cents int"
    )
    row = FC.ses_backtest(daily, alpha=0.5).collect()[0]
    assert row["n_obs"] == 3
    assert row["level"] == 2.75
    assert row["mae"] == 1.75


def test_ses_backtest_single_point_has_null_mae(spark):
    daily = spark.createDataFrame([("k", 1, 500)], "key string, day int, cents int")
    row = FC.ses_backtest(daily).collect()[0]
    assert row["n_obs"] == 1 and row["level"] == 5.0 and row["mae"] is None


def test_ses_fold_order_is_by_day_not_arrival(spark):
    # rows deliberately out of day order: fold must sort by day
    daily = spark.createDataFrame(
        [("k", 3, 400), ("k", 1, 100), ("k", 2, 200)], "key string, day int, cents int"
    )
    row = FC.ses_backtest(daily, alpha=0.5).collect()[0]
    assert row["level"] == 2.75 and row["mae"] == 1.75


# --------------------------------------------------------------------------
# k-center greedy + streaming SES
# --------------------------------------------------------------------------


def test_kcenter_greedy_picks_farthest(spark):
    from rapids_and_rivers_spark.operators.selection import kcenter_greedy

    # 1D embeddings at 0, 0.001, 0.9, 0.5 (ids 1..4): seed = id 1 (min),
    # then the farthest-first picks. float32 0.9 is 0.89999997..., so
    # floor(x*1000) quantizes to 899 (the oracle floors the SAME float32
    # value): 2nd = id 3 (d=899^2), 3rd = id 4 (q=500, min d to {0,899}
    # = 399^2 beats id 2's 1)
    rows = [(1, [0.0]), (2, [0.001]), (3, [0.9]), (4, [0.5])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    trace = kcenter_greedy(emb, k=3)
    assert trace == [(1, 1, None), (2, 3, 899 * 899), (3, 4, 399 * 399)]


def test_kcenter_radius_is_monotone_nonincreasing(spark):
    from rapids_and_rivers_spark.operators.selection import kcenter_greedy

    from rapids_and_rivers_spark.sources import load_table

    emb = load_table(spark, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"), "embeddings")
    trace = kcenter_greedy(emb, k=5)
    radii = [r for _, _, r in trace if r is not None]
    assert radii == sorted(radii, reverse=True)
    assert len({c for _, c, _ in trace}) == 5  # distinct centers


def test_ses_stream_equals_batch_with_split_days(spark, tmp_path):
    """A day whose rows straddle epochs must still sum exactly before
    the fold (mergeable daily buckets)."""
    from rapids_and_rivers_spark.streaming.duals import (
        ses_daily_foreach_batch,
        ses_from_store,
    )

    rows = [("k", 1, 40), ("k", 1, 60), ("k", 2, 200), ("k", 3, 150), ("k", 3, 250)]
    df = spark.createDataFrame(rows, "key string, day int, cents long")
    out = str(tmp_path / "ses")
    stage = ses_daily_foreach_batch(out)
    # split so days 1 and 3 straddle epochs
    stage(spark.createDataFrame(rows[::2], "key string, day int, cents long"), 0)
    stage(spark.createDataFrame(rows[1::2], "key string, day int, cents long"), 1)
    got = ses_from_store(spark, out).collect()
    want = FC.ses_backtest(
        df.groupBy("key", "day").agg(F.sum("cents").alias("cents"))
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # replay epoch 0
    stage(spark.createDataFrame(rows[::2], "key string, day int, cents long"), 0)
    assert [tuple(r) for r in ses_from_store(spark, out).collect()] == [
        tuple(r) for r in want
    ]


# --------------------------------------------------------------------------
# positional phrase search + CUSUM
# --------------------------------------------------------------------------


def test_phrase_adjacency_positions(spark):
    from rapids_and_rivers_spark.operators.retrieval import (
        phrase_adjacency,
        positional_postings,
    )

    docs = spark.createDataFrame(
        [(1, "big data big data"), (2, "big big data")], "doc_id long, text string"
    )
    post = positional_postings(docs)
    adj = {
        (r["doc_id"], r["w1"], r["w2"], r["pos"])
        for r in phrase_adjacency(post).collect()
    }
    # doc 1: (big,data)@0, (data,big)@1, (big,data)@2; doc 2: (big,big)@0, (big,data)@1
    assert adj == {
        (1, "big", "data", 0), (1, "data", "big", 1), (1, "big", "data", 2),
        (2, "big", "big", 0), (2, "big", "data", 1),
    }


def test_cusum_detects_level_shift(spark):
    from rapids_and_rivers_spark.operators.forecast import cusum_alarms

    # 10 days at 100 then 10 days at 300 (global mean 200): the low
    # half deviates DOWN from the mean, the high half UP — a two-sided
    # CUSUM against the series mean must fire each direction only in
    # its own half
    rows = [("k", d, 100 if d <= 10 else 300) for d in range(1, 21)]
    daily = spark.createDataFrame(rows, "key string, day int, cents long")
    alarms = cusum_alarms(daily).collect()
    assert any(a["direction"] == "up" and a["day"] > 10 for a in alarms)
    assert any(a["direction"] == "down" and a["day"] <= 10 for a in alarms)
    assert not any(a["direction"] == "up" and a["day"] <= 10 for a in alarms)
    assert not any(a["direction"] == "down" and a["day"] > 10 for a in alarms)
    # alarms are deterministic: re-run produces the identical rows
    again = cusum_alarms(daily).collect()
    assert [tuple(r) for r in alarms] == [tuple(r) for r in again]


def test_cusum_flat_series_no_alarms(spark):
    from rapids_and_rivers_spark.operators.forecast import cusum_alarms

    daily = spark.createDataFrame(
        [("k", d, 500) for d in range(1, 15)], "key string, day int, cents long"
    )
    assert cusum_alarms(daily).count() == 0


def test_cusum_negative_total_no_alarm_storm(spark):
    """ADVICE r8: a refund-heavy key whose cents sum NEGATIVE must use
    |T| as the threshold — with a raw (negative) total every row fires
    both directions with daily resets. The series here mirrors the
    level-shift test, negated: alarms must still be one-sided per half,
    and in particular NOT fire both directions on the same day."""
    from rapids_and_rivers_spark.operators.forecast import cusum_alarms

    rows = [("k", d, -(100 if d <= 10 else 300)) for d in range(1, 21)]
    daily = spark.createDataFrame(rows, "key string, day int, cents long")
    alarms = cusum_alarms(daily).collect()
    fired = {(a["day"], a["direction"]) for a in alarms}
    assert not any(
        (d, "up") in fired and (d, "down") in fired for d in range(1, 21)
    )
    # negated series: early half is ABOVE the (negative) mean → up,
    # late half below → down
    assert any(a["direction"] == "up" and a["day"] <= 10 for a in alarms)
    assert any(a["direction"] == "down" and a["day"] > 10 for a in alarms)
    # and an all-zero series stays silent (|T| = 0, d = 0 identically)
    zero = spark.createDataFrame(
        [("z", d, 0) for d in range(1, 15)], "key string, day int, cents long"
    )
    assert cusum_alarms(zero).count() == 0


def test_cusum_stream_equals_batch(spark, tmp_path):
    """One daily store, two readers: the CUSUM reader over the merged
    epochs equals batch alarms over the union (all-integer merge)."""
    from rapids_and_rivers_spark.operators.forecast import cusum_alarms
    from rapids_and_rivers_spark.streaming.duals import (
        cusum_from_store,
        ses_daily_foreach_batch,
    )

    rows = [("k", d, (100 if d <= 10 else 300) + (d % 3)) for d in range(1, 21)]
    df = spark.createDataFrame(rows, "key string, day int, cents long")
    out = str(tmp_path / "cusum")
    stage = ses_daily_foreach_batch(out)
    stage(df.filter(F.col("day") % 2 == 0), 0)
    stage(df.filter(F.col("day") % 2 == 1), 1)
    got = cusum_from_store(spark, out).collect()
    want = cusum_alarms(
        df.groupBy("key", "day").agg(F.sum("cents").alias("cents"))
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(want) > 0  # the shift must actually fire


def test_adamic_adar_duplicate_edges_invariant(spark):
    """ADVICE r8: the dedup contract is now ENFORCED, not documented —
    feeding every edge twice must produce byte-identical scores (deg,
    common_neighbors, aa_micro all came out doubled before the fix)."""
    path = [(1, 2), (2, 3), (3, 4), (1, 3)]
    rows = path + [(b, a) for a, b in path]
    clean = spark.createDataFrame(rows, "src int, dst int")
    dup = clean.unionAll(clean)
    want = sorted(tuple(r) for r in G.adamic_adar(clean).collect())
    got = sorted(tuple(r) for r in G.adamic_adar(dup).collect())
    assert got == want and len(want) > 0


def test_adamic_adar_recovers_held_out_edges(spark):
    """Quality, not just correctness: on two planted 6-cliques, remove
    one edge from each; AA over the remainder must rank BOTH missing
    edges at the very top (clique members share 4 neighbors; no other
    non-adjacent pair shares more than 1)."""
    cliq1 = [(a, b) for a in range(1, 7) for b in range(1, 7) if a < b]
    cliq2 = [(a, b) for a in range(11, 17) for b in range(11, 17) if a < b]
    bridge = [(6, 11)]
    held_out = {(1, 2), (12, 13)}
    kept = [e for e in cliq1 + cliq2 + bridge if e not in held_out]
    rows = kept + [(b, a) for a, b in kept]
    e = spark.createDataFrame(rows, "src int, dst int")
    top = (
        G.adamic_adar(e)
        .orderBy(F.desc("aa_micro"), "node_a", "node_b")
        .limit(2)
        .collect()
    )
    assert {(r["node_a"], r["node_b"]) for r in top} == held_out


def test_assoc_stream_empty_first_epoch(spark, tmp_path):
    """An empty epoch-0 batch leaves a part-file-less store; epoch 1
    must not crash on schema inference over it."""
    store = str(tmp_path / "assoc_empty")
    stage = assoc_items_foreach_batch(store, expected_items=4)
    empty = spark.createDataFrame([], "basket int, item string")
    stage(empty, 0)
    stage(spark.createDataFrame([(1, "a"), (1, "b")], "basket int, item string"), 1)
    got = {
        (r["antecedent"], r["consequent"]): r["c_ab"]
        for r in assoc_rules_from_store(
            spark, store, min_item_support=1, min_pair_support=1
        ).collect()
    }
    assert got == {("a", "b"): 1, ("b", "a"): 1}
