"""Round-9 additions: Pareto frontier (skyline) + mergeable streaming
dual, ER survivorship, cluster-safe splits, rolling HLL windows.

Same discipline as the round-8 test file: hand-computable correctness,
the claimed algebraic property (mergeability / leakage invariant)
pinned explicitly, replay idempotence for the stateful stage.
"""


from pyspark.sql import functions as F

from rapids_and_rivers_spark.operators.frontier import skyline_2d, skyline_merge
from rapids_and_rivers_spark.streaming.duals import (
    skyline_foreach_batch,
    skyline_from_store,
)


def _pts(spark, rows):
    return spark.createDataFrame(rows, "id int, x long, y long")


def test_skyline_hand_case(spark):
    # frontier of {(1,5),(2,4),(3,3),(4,9),(2,6),(5,1)} minimizing both:
    # (1,5) no smaller-x; (2,4) beats (1,5)? no—(1,5) has x<2,y=5>4 so
    # (2,4) survives; (3,3) survives; (4,9) dominated by (1,5);
    # (2,6) dominated by (2,4) same-x smaller-y; (5,1) survives.
    rows = [(1, 1, 5), (2, 2, 4), (3, 3, 3), (4, 4, 9), (5, 2, 6), (6, 5, 1)]
    got = {r.id for r in skyline_2d(_pts(spark, rows), bucket_width=2).collect()}
    assert got == {1, 2, 3, 6}


def test_skyline_duplicates_and_ties(spark):
    # exact duplicate frontier points BOTH survive (neither strictly
    # dominates); same-x non-minimal y dies; y-tie across larger x dies
    # (x strictly larger, y equal -> dominated)
    rows = [(1, 1, 5), (2, 1, 5), (3, 1, 7), (4, 2, 5)]
    got = {r.id for r in skyline_2d(_pts(spark, rows), bucket_width=10).collect()}
    assert got == {1, 2}


def test_skyline_bucket_width_invariant(spark):
    # the bucket width is a physical knob, never a semantic one
    rows = [(i, (i * 37) % 101, (i * 91) % 97) for i in range(1, 200)]
    a = sorted(r.id for r in skyline_2d(_pts(spark, rows), bucket_width=1).collect())
    b = sorted(r.id for r in skyline_2d(_pts(spark, rows), bucket_width=7).collect())
    c = sorted(r.id for r in skyline_2d(_pts(spark, rows), bucket_width=1000).collect())
    assert a == b == c and len(a) > 0


def test_skyline_negative_and_huge_x_bucket_exact(spark):
    """ADVICE r9: the bucket must be MATHEMATICAL floor(x/width) in
    int64 — pmod-based div, not double division. Negative x exercises
    floor-vs-truncate; |x| > 2^53 exercises the double-rounding hole
    (1<<53 and (1<<53)+1 collapse to the same double)."""
    big = 1 << 53
    rows = [
        (1, -5, 10),
        (2, -4, 12),   # dominated by (-5,10)
        (3, 3, 3),
        (4, big, 2),
        (5, big + 1, 1),   # survives: strictly larger x but smaller y
        (6, big + 2, 1),   # y-tie with strictly larger x -> dominated
    ]
    got = {r.id for r in skyline_2d(_pts(spark, rows), bucket_width=3).collect()}
    assert got == {1, 3, 4, 5}
    # bucket-width invariance must hold across the negative/huge range
    got2 = {r.id for r in skyline_2d(_pts(spark, rows), bucket_width=1000).collect()}
    assert got2 == got


def test_skyline_bucket_guard_raises_past_max(spark):
    """VERDICT r9 #3: the x-domain contract is enforced mechanically —
    the plan itself raises when touched buckets exceed max_buckets
    (the partition-less cross-bucket window would otherwise silently
    become an unbounded single-task sort)."""
    import pytest

    rows = [(i, i * 10, 1000 - i) for i in range(200)]
    df = _pts(spark, rows)
    with pytest.raises(Exception, match="skyline_2d bucket contract"):
        skyline_2d(df, bucket_width=1, max_buckets=100).collect()
    # same data under the limit: exact frontier, guard silent
    ok = skyline_2d(df, bucket_width=1, max_buckets=5000)
    assert ok.count() == 200  # strictly decreasing y: all on frontier


def test_skyline_mergeability(spark):
    """skyline(A ∪ B) == skyline(skyline(A) ∪ skyline(B)) — the
    algebraic law the streaming dual rests on."""
    rows = [(i, (i * 53) % 211, (i * 17) % 193) for i in range(1, 400)]
    df = _pts(spark, rows)
    a, b = df.filter(F.col("id") % 2 == 0), df.filter(F.col("id") % 2 == 1)
    direct = sorted(tuple(r) for r in skyline_2d(df, bucket_width=16).collect())
    merged = sorted(
        tuple(r)
        for r in skyline_merge(
            skyline_2d(a, bucket_width=16).unionByName(
                skyline_2d(b, bucket_width=16)
            ),
            bucket_width=16,
        ).collect()
    )
    assert direct == merged


def test_skyline_stream_equals_batch_and_replay(spark, tmp_path):
    rows = [(i, (i * 53) % 211, (i * 17) % 193) for i in range(1, 400)]
    df = _pts(spark, rows)
    store = str(tmp_path / "sky")
    stage = skyline_foreach_batch(store, bucket_width=16)
    stage(df.filter(F.col("id") % 3 == 0), 0)
    stage(df.filter(F.col("id") % 3 == 1), 1)
    stage(df.filter(F.col("id") % 3 == 2), 2)
    got = sorted(tuple(r) for r in skyline_from_store(spark, store, bucket_width=16).collect())
    want = sorted(tuple(r) for r in skyline_2d(df, bucket_width=16).collect())
    assert got == want and len(want) > 0
    # at-least-once replay of epoch 1 must change nothing
    stage(df.filter(F.col("id") % 3 == 1), 1)
    again = sorted(tuple(r) for r in skyline_from_store(spark, store, bucket_width=16).collect())
    assert again == want


def test_cluster_safe_split_no_leakage(spark):
    """The invariant the query exists for: every near-dup cluster lands
    in exactly ONE split (assignment is a function of the rep)."""
    from rapids_and_rivers_spark.catalog import _neardup_blocked
    from rapids_and_rivers_spark.operators import dedup as D
    from rapids_and_rivers_spark.operators import text as T
    from rapids_and_rivers_spark.sources import load_table

    emb = _neardup_blocked(spark, "/root/testdata/sf0.001")
    sd = D.semantic_dedup(
        emb, emb_col="embedding", id_col="vec_id", block_col="blk",
        threshold=0.4,
    )
    bucket = T.token_hash_bucket(F.col("rep_id").cast("string"), 100)
    assigned = sd.withColumn(
        "split",
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"),
    )
    spans = (
        assigned.groupBy("rep_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert spans == 0
    # and the naive per-doc split WOULD leak on this data (the hole the
    # operator closes) — at least one multi-member cluster straddles
    naive = T.token_hash_bucket(F.col("vec_id").cast("string"), 100)
    naive_assigned = sd.withColumn(
        "split",
        F.when(naive < 90, "train").when(naive < 95, "val").otherwise("test"),
    )
    multi = naive_assigned.groupBy("rep_id").agg(
        F.countDistinct("split").alias("n_splits"),
        F.count(F.lit(1)).alias("n"),
    )
    assert multi.filter((F.col("n") > 1) & (F.col("n_splits") > 1)).count() > 0


# --------------------------------------------------------------------------
# epoch-store compaction
# --------------------------------------------------------------------------


def _count_files(root):
    import os

    n = 0
    for r, _d, files in os.walk(root):
        n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n


def _baskets_df(spark, n=400):
    rows = [(i % 97, f"item{(i * 7) % 23}") for i in range(n)]
    return spark.createDataFrame(rows, "basket int, item string")


def test_assoc_compaction_contract_invisible(spark, tmp_path):
    """Reader output identical before/after compaction; file count
    collapses; ingest AFTER compaction still anti-joins correctly
    against the compacted memberships (no double counting)."""
    from rapids_and_rivers_spark.streaming.duals import (
        assoc_compact_store,
        assoc_items_foreach_batch,
        assoc_rules_from_store,
    )

    df = _baskets_df(spark)
    out_a = str(tmp_path / "cp_a")
    out_b = str(tmp_path / "cp_b")
    for out in (out_a, out_b):
        stage = assoc_items_foreach_batch(out, expected_items=1000)
        stage(df.filter(F.col("basket") % 3 == 0), 0)
        stage(df.filter(F.col("basket") % 3 == 1), 1)
        if out == out_b:
            assoc_compact_store(spark, out_b, through_epoch=1)
        stage(df.filter(F.col("basket") % 3 == 2), 2)
    want = sorted(tuple(r) for r in assoc_rules_from_store(spark, out_a).collect())
    got = sorted(tuple(r) for r in assoc_rules_from_store(spark, out_b).collect())
    assert got == want and len(want) > 0
    assert _count_files(out_b) < _count_files(out_a)


def test_compaction_resumes_after_simulated_crash(spark, tmp_path):
    """Crash between the _SUCCESS-gated temp write and the swap: the
    next call must finish the swap without rebuilding or losing rows."""
    import os

    from rapids_and_rivers_spark.streaming.duals import (
        assoc_items_foreach_batch,
        compact_epoch_store,
    )

    df = _baskets_df(spark)
    out = str(tmp_path / "cp_crash")
    stage = assoc_items_foreach_batch(out, expected_items=1000)
    stage(df.filter(F.col("basket") % 2 == 0), 0)
    stage(df.filter(F.col("basket") % 2 == 1), 1)
    items = os.path.join(out, "items")
    # materialize NOW: the lazy plan would re-read files the compaction
    # deletes
    before_rows = sorted(
        map(tuple, spark.read.parquet(items).select("basket", "item").collect())
    )
    n_before = len(before_rows)

    # simulate: temp dir fully written (with _SUCCESS) but old epoch
    # dirs still present — i.e. a crash right before the delete loop
    tmp = os.path.join(items, "_compact_tmp_e1")
    (
        spark.read.parquet(items)
        .filter(F.col("epoch") <= 1)
        .drop("epoch")
        .repartition("bkt")
        .write.partitionBy("bkt")
        .mode("overwrite")
        .parquet(tmp)
    )
    assert os.path.exists(os.path.join(tmp, "_SUCCESS"))
    compact_epoch_store(spark, items, 1, partition_col="bkt")
    after = spark.read.parquet(items).select("basket", "item")
    assert after.count() == n_before
    assert sorted(map(tuple, after.collect())) == before_rows
    # exactly one epoch dir remains
    eps = [d for d in os.listdir(items) if d.startswith("epoch=")]
    assert eps == ["epoch=1"]


def test_versioned_delta_compaction_resumes_after_delete_crash(spark, tmp_path):
    """ADVICE r9 (high): crash AFTER the delete loop removed every v*
    dir but BEFORE the rename — a re-run finds versions empty with a
    completed _compact_tmp_v{E} pending. The old code early-returned
    there, stranding the compacted data (readers silently saw zero
    counts); the fix must finish the rename and lose nothing."""
    import os

    from rapids_and_rivers_spark.streaming.duals import (
        assoc_items_foreach_batch,
        compact_versioned_deltas,
        read_epoch_table,
    )

    df = _baskets_df(spark)
    out = str(tmp_path / "vd_crash")
    stage = assoc_items_foreach_batch(out, expected_items=1000)
    stage(df.filter(F.col("basket") % 2 == 0), 0)
    stage(df.filter(F.col("basket") % 2 == 1), 1)
    pd_dir = os.path.join(out, "pair_delta")
    want = sorted(
        map(
            tuple,
            read_epoch_table(spark, pd_dir)
            .groupBy("ia", "ib")
            .agg(F.sum("c_ab").cast("long").alias("c_ab"))
            .collect(),
        )
    )
    assert want, "fixture must produce pair deltas"

    # simulate the crash state: completed temp (with _SUCCESS), every
    # v* dir already deleted, rename never ran
    tmp = os.path.join(pd_dir, "_compact_tmp_v1")
    (
        read_epoch_table(spark, pd_dir)
        .groupBy("ia", "ib")
        .agg(F.sum("c_ab").cast("long").alias("c_ab"))
        .write.mode("overwrite")
        .parquet(tmp)
    )
    assert os.path.exists(os.path.join(tmp, "_SUCCESS"))
    import shutil

    for name in os.listdir(pd_dir):
        if name.startswith("v") and name[1:].isdigit():
            shutil.rmtree(os.path.join(pd_dir, name))

    compact_versioned_deltas(
        spark, pd_dir, 1, key_cols=["ia", "ib"], sum_col="c_ab"
    )
    got = sorted(
        map(
            tuple,
            read_epoch_table(spark, pd_dir)
            .groupBy("ia", "ib")
            .agg(F.sum("c_ab").cast("long").alias("c_ab"))
            .collect(),
        )
    )
    assert got == want
    assert os.path.isdir(os.path.join(pd_dir, "v1"))
    assert not os.path.exists(tmp)
    # and a second call over the already-compacted store is a no-op
    compact_versioned_deltas(
        spark, pd_dir, 1, key_cols=["ia", "ib"], sum_col="c_ab"
    )
    assert sorted(
        map(
            tuple,
            read_epoch_table(spark, pd_dir)
            .groupBy("ia", "ib")
            .agg(F.sum("c_ab").cast("long").alias("c_ab"))
            .collect(),
        )
    ) == want


# --------------------------------------------------------------------------
# systematic PPS sampling
# --------------------------------------------------------------------------


def test_pps_systematic_hand_case(spark):
    """Weights 50,30,20 with n=2 and T=100: thresholds at 50,100.
    Item a's span (0,50] hits 50; c's span (80,100] hits 100; b's
    (50,80] hits nothing."""
    from rapids_and_rivers_spark.operators.selection import pps_systematic

    df = spark.createDataFrame(
        [("s", 1, 50), ("s", 2, 30), ("s", 3, 20)],
        "source string, doc_id int, n_tokens int",
    )
    got = {(r.doc_id, r.slots) for r in pps_systematic(df, n_per_group=2).collect()}
    assert got == {(1, 1), (3, 1)}


def test_pps_systematic_certainty_and_slot_conservation(spark):
    """A heavier-than-T/n item is selected with certainty and absorbs
    multiple slots; slots always sum to exactly n per group."""
    from rapids_and_rivers_spark.operators.selection import pps_systematic

    rows = [("a", 1, 70), ("a", 2, 10), ("a", 3, 10), ("a", 4, 10)] + [
        ("b", i, (i * 13) % 7 + 1) for i in range(1, 40)
    ]
    df = spark.createDataFrame(rows, "source string, doc_id int, n_tokens int")
    out = pps_systematic(df, n_per_group=5).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.source, []).append(r)
    # the 70-weight item spans 3.5 of the 5 quanta -> >= 3 slots
    heavy = [r for r in by_g["a"] if r.doc_id == 1]
    assert heavy and heavy[0].slots >= 3
    for g, rs in by_g.items():
        assert sum(r.slots for r in rs) == 5, (g, rs)
    # deterministic: identical rerun
    again = pps_systematic(df, n_per_group=5).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
