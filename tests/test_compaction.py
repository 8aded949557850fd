"""Round-10: epoch-store compaction for the remaining store families
(VERDICT r9 #3 — ER record store, graph adjacency/edge stores,
membership/index stores grew one directory per epoch forever).

Test discipline mirrors tests/test_frontier.py's assoc-compaction
section: a CONTROL run without compaction and a compacted run must be
reader-identical, post-compaction ingest must keep working (the
anti-join/LWW/delta contracts), and the long-run test pins the actual
lifecycle claim — file counts stay bounded over 50+ epochs while the
derived result stays exactly equal to batch.
"""

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from rapids_and_rivers_spark.streaming import duals as D


def _count_dirs(root, prefix):
    if not os.path.isdir(root):
        return 0
    return sum(1 for d in os.listdir(root) if d.startswith(prefix))


def _count_files(root):
    n = 0
    for _r, _d, files in os.walk(root):
        n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n


# --------------------------------------------------------------------------
# ER store
# --------------------------------------------------------------------------

_ER_ROWS = [
    (1, "Acme Corporation Oslo Norway registered office"),
    (2, "Acme Corporation Oslo Norway registered offices"),  # near-dup of 1
    (3, "Globex Industries Bergen Norway headquarters west"),
    (4, "Globex Industries Bergen Norway headquarter west"),  # near-dup of 3
    (5, "Initech Solutions Trondheim Norway branch north"),
    (6, "Acme Corporation Oslo Norway registered offic"),  # near-dup of 1/2
    (7, "Umbrella Research Stavanger Norway lab facility"),
]


def _er_batch(spark, ids):
    rows = [(i, t) for i, t in _ER_ROWS if i in ids]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_er_compaction_contract_invisible(spark, tmp_path):
    """er_compact_store folds every channel (records epoch dirs,
    ssj_* and snm_* v-dirs); er_current_entities is identical before
    and after, post-compaction ingest still resolves cross-epoch
    near-dups, and a replay after compaction stays idempotent."""
    from rapids_and_rivers_spark.streaming.duals import (
        er_compact_store,
        er_current_entities,
        er_index_foreach_batch,
    )

    out_a = str(tmp_path / "erc_a")
    out_b = str(tmp_path / "erc_b")
    for out in (out_a, out_b):
        stage = er_index_foreach_batch(out)
        stage(_er_batch(spark, {1, 3}), 0)
        stage(_er_batch(spark, {2, 5}), 1)
        if out == out_b:
            er_compact_store(spark, out_b, through_epoch=1)
        # post-compaction ingest: docs 4 and 6 must still pair with
        # their epoch-0/1 partners through the compacted indexes
        stage(_er_batch(spark, {4, 6, 7}), 2)
    want = sorted(
        tuple(r) for r in er_current_entities(spark, out_a).collect()
    )
    got = sorted(
        tuple(r) for r in er_current_entities(spark, out_b).collect()
    )
    assert got == want and len(want) > 0
    # the cross-compaction near-dup families actually resolved
    assert any(n > 1 for (_c, n, _m) in want)
    assert _count_files(out_b) < _count_files(out_a)
    # one records epoch dir from the fold + one from the new epoch
    assert _count_dirs(os.path.join(out_b, "records"), "epoch=") == 2
    for sub in ("ssj_prefix", "ssj_shingles", "ssj_pairs",
                "snm_pairs", "snm_touched"):
        assert _count_dirs(os.path.join(out_b, sub), "v") == 2, sub
    # replay of the post-compaction epoch is still idempotent
    stage(_er_batch(spark, {4, 6, 7}), 2)
    again = sorted(
        tuple(r) for r in er_current_entities(spark, out_b).collect()
    )
    assert again == want
    shutil.rmtree(out_a, ignore_errors=True)
    shutil.rmtree(out_b, ignore_errors=True)


# --------------------------------------------------------------------------
# ER sequences reuse the JVM's generated classes and the stores' schemas
# --------------------------------------------------------------------------


def _er_docs(spark):
    """60 documents, an ER sequence the size of the benchmark's warm-up:
    the first 54 of the sf0.001 corpus and near-duplicates of six of
    them (the text plus a marker word, as the benchmark's generator
    makes them), so there are entities to resolve."""
    from conftest import sf_dir

    from rapids_and_rivers_spark.sources import load_table

    docs = load_table(spark, sf_dir(), "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") < 6).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat("text", F.lit(" dup")).alias("text"),
    )
    return docs.filter(F.col("doc_id") < 54).unionByName(dups)


def _er_ingest(spark, docs, index_dir, epochs):
    stage = D.er_index_foreach_batch(index_dir, expected_records=60)
    for e in epochs:
        stage(docs.filter(F.col("doc_id") % 3 == e), e)


class _JobGroup:
    """Run a block under a Spark job group and count its jobs."""

    def __init__(self, spark, name):
        self.sc, self.name = spark.sparkContext, name

    def __enter__(self):
        self.sc.setJobGroup(self.name, self.name)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @property
    def jobs(self):
        return len(self.sc.statusTracker().getJobIdsForGroup(self.name))


def _schema_fields(df):
    return [(f.name, f.dataType, f.nullable) for f in df.schema.fields]


def test_second_er_sequence_compiles_no_generated_class(spark, tmp_path):
    """A warm ER sequence (3 epochs, compaction, entity read) finds every
    generated class it needs in the JVM's cache: the session's
    ``spark.sql.codegen.cache.maxEntries`` default holds the sequence's
    ~200 classes, where Spark's default of 100 recompiled ~325 per
    sequence."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    docs = _er_docs(spark)

    def sequence(index_dir):
        spark.catalog.clearCache()
        _er_ingest(spark, docs, index_dir, [0, 1])
        D.er_compact_store(spark, index_dir, through_epoch=1)
        _er_ingest(spark, docs, index_dir, [2])
        return sorted(tuple(r) for r in D.er_current_entities(spark, index_dir).collect())

    first = sequence(str(tmp_path / "first"))
    before = compiles.getCount()
    second = sequence(str(tmp_path / "second"))
    assert compiles.getCount() - before == 0
    assert second == first and any(n > 1 for (_c, n, _m) in first)


def test_continuing_er_stream_recompiles_only_epoch_literal_classes(spark, tmp_path):
    """A long-running ER stream gets new documents and a new epoch id
    every epoch, so it never repeats a sequence. A new epoch still finds
    most classes it needs in the cache. It compiles only those whose
    code holds a value of this epoch as a literal: the epoch id (the
    ``epoch`` column ER adds to its ``snm_*`` writes), its batch filter,
    and a touched-bucket IN list of up to 10 buckets it has not seen in
    that order. Here that is 14-16 classes per epoch, and a later
    compaction compiles none. With Spark's 100-entry cache the same
    epochs recompiled 86-99 classes and each compaction 19."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    docs = _er_docs(spark)
    index_dir = str(tmp_path)
    stage = D.er_index_foreach_batch(index_dir, expected_records=60)
    new_epoch, compaction = [], []
    for e in range(6):
        if e in (2, 4):
            before = compiles.getCount()
            D.er_compact_store(spark, index_dir, through_epoch=e - 1)
            compaction.append(compiles.getCount() - before)
        before = compiles.getCount()
        stage(docs.filter(F.col("doc_id") % 6 == e), e)
        new_epoch.append(compiles.getCount() - before)
    assert compaction[1] == 0
    assert max(new_epoch[3:]) <= 20, new_epoch


def test_store_schema_cache_serves_compaction_and_reads_like_a_cold_read(
    spark, tmp_path
):
    """Two identical ER indexes: one compacted and read with the schemas
    its writes and prior reads recorded (warm), one with
    ``_STORE_SCHEMA_CACHE`` cleared before its compaction and before each
    read (cold). The Hive ``records`` store, a ``v{E}`` union store and
    ``er_current_entities`` return the same rows and the same schema
    (columns, order, types, nullability) either way, and the warm
    compaction runs fewer jobs than the cold one."""
    docs = _er_docs(spark)
    warm, cold = str(tmp_path / "warm"), str(tmp_path / "cold")
    for index_dir in (warm, cold):
        _er_ingest(spark, docs, index_dir, [0, 1])

    def reads(index_dir, cold_read):
        out = {}
        for name, read in (
            ("records", lambda: D.read_store(spark, os.path.join(index_dir, "records"))),
            ("ssj_prefix", lambda: D.read_epoch_table(spark, os.path.join(index_dir, "ssj_prefix"))),
            ("entities", lambda: D.er_current_entities(spark, index_dir)),
        ):
            if cold_read:
                D._STORE_SCHEMA_CACHE.clear()
            df = read()
            out[name] = (_schema_fields(df), sorted(tuple(r) for r in df.collect()))
        return out

    assert os.path.join(warm, "ssj_prefix") in D._STORE_SCHEMA_CACHE
    assert os.path.join(warm, "records") in D._STORE_SCHEMA_CACHE
    with _JobGroup(spark, "schema-cache-warm-compaction") as warm_jobs:
        D.er_compact_store(spark, warm, through_epoch=1)
    want = reads(warm, cold_read=False)
    D._STORE_SCHEMA_CACHE.clear()
    with _JobGroup(spark, "schema-cache-cold-compaction") as cold_jobs:
        D.er_compact_store(spark, cold, through_epoch=1)
    got = reads(cold, cold_read=True)
    assert warm_jobs.jobs < cold_jobs.jobs
    for name in want:
        assert got[name][0] == want[name][0], name
        assert got[name][1] == want[name][1] and got[name][1], name


def test_epoch_store_write_records_the_cold_read_schema(spark, tmp_path):
    """The first ``records`` write of an ER index records the schema a
    cold read infers (data columns, then ``epoch`` and ``blk_bucket`` as
    int although the bucket is written as bigint), so epoch 1's prior
    read of the store runs no footer-inference job."""
    docs = _er_docs(spark)
    index_dir = str(tmp_path)
    D._STORE_SCHEMA_CACHE.clear()
    _er_ingest(spark, docs, index_dir, [0])
    records = D._er_stores(index_dir)[0]
    with _JobGroup(spark, "records-prior-epoch-1") as jobs:
        prior = records.prior(spark, 1)
    assert jobs.jobs == 0
    D._STORE_SCHEMA_CACHE.clear()
    cold = D.read_store(spark, records.root)
    assert _schema_fields(prior) == _schema_fields(cold)
    assert [f.name for f in cold.schema.fields][-2:] == ["epoch", "blk_bucket"]
    assert sorted(tuple(r) for r in prior.collect()) == sorted(
        tuple(r) for r in cold.collect()
    )


# --------------------------------------------------------------------------
# triangles: the 50+ epoch lifecycle run (VERDICT r9 #3 "done" bar)
# --------------------------------------------------------------------------


def test_triangles_longrun_50_epochs_bounded_files(spark, tmp_path):
    """52 epochs of delta edges with triangles_compact_store every 10
    epochs (watermark = last committed epoch - 1, honoring the
    at-least-once safety contract): epoch-directory counts stay
    BOUNDED (never more than compaction-interval + 1 per store), and
    the final snapshot still equals batch graph.triangles over the
    union of every edge ever ingested."""
    from rapids_and_rivers_spark.operators.graph import triangles
    from rapids_and_rivers_spark.streaming.duals import (
        read_latest_tricounts,
        triangles_foreach_batch,
    )
    from rapids_and_rivers_spark.streaming.duals import (
        triangles_compact_store,
    )

    state_dir = str(tmp_path / "tric")
    stage = triangles_foreach_batch(state_dir, expected_adj_rows=1000)
    all_edges = []
    max_epoch_dirs = 0
    n_epochs = 52
    compact_every = 10
    for e in range(n_epochs):
        # epoch e adds (e, e+1) and (e, e+2); epoch e+1's (e+1, e+2)
        # closes triangle {e, e+1, e+2} — every epoch both extends the
        # graph and closes a cross-epoch triangle
        batch = [(e, e + 1), (e, e + 2)]
        all_edges.extend(batch)
        stage(spark.createDataFrame(batch, "src long, dst long"), e)
        if e > 0 and e % compact_every == 0:
            # strictly below the last committed epoch: a replay of
            # epoch e itself must find its own dirs intact
            triangles_compact_store(spark, state_dir, through_epoch=e - 1)
        for sub, pre in (("edges", "epoch="), ("adj", "epoch="),
                         ("counts", "v")):
            max_epoch_dirs = max(
                max_epoch_dirs,
                _count_dirs(os.path.join(state_dir, sub), pre),
            )
    triangles_compact_store(spark, state_dir, through_epoch=n_epochs - 1)
    # bounded: interval worth of live dirs + the compacted one (+1 for
    # the counts store, whose prune keeps one snapshot per fold)
    assert max_epoch_dirs <= compact_every + 2, max_epoch_dirs
    assert _count_dirs(os.path.join(state_dir, "edges"), "epoch=") == 1
    assert _count_dirs(os.path.join(state_dir, "adj"), "epoch=") == 1
    assert _count_dirs(os.path.join(state_dir, "counts"), "v") == 1
    got = {
        (r.node, r.deg, r.tri)
        for r in read_latest_tricounts(spark, state_dir).collect()
    }
    batch_df = spark.createDataFrame(all_edges, "src long, dst long")
    want = {(r.node, r.deg, r.tri) for r in triangles(batch_df).collect()}
    assert got == want and len(want) > 0
    # the long chain really closed one triangle per epoch transition
    assert sum(r[2] for r in want) > 0
    shutil.rmtree(state_dir, ignore_errors=True)


def test_triangles_post_compaction_ingest_and_replay(spark, tmp_path):
    """After compaction, the NEXT epoch's delta anti-join (epoch <
    current over compacted rows) and adjacency probes still see the
    full prior graph; replaying that epoch changes nothing."""
    from rapids_and_rivers_spark.operators.graph import triangles
    from rapids_and_rivers_spark.streaming.duals import (
        read_latest_tricounts,
        triangles_compact_store,
        triangles_foreach_batch,
    )

    state_dir = str(tmp_path / "trip")
    stage = triangles_foreach_batch(state_dir, expected_adj_rows=1000)
    stage(spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long"), 0)
    stage(spark.createDataFrame([(3, 4)], "src long, dst long"), 1)
    triangles_compact_store(spark, state_dir, through_epoch=1)
    # (1,3) closes triangle {1,2,3} against compacted adjacency; the
    # duplicate (2,3) must be caught by the anti-join over compacted
    # edges (epoch value 1 < 2)
    closing = spark.createDataFrame([(1, 3), (2, 3)], "src long, dst long")
    stage(closing, 2)
    got = {
        (r.node, r.deg, r.tri)
        for r in read_latest_tricounts(spark, state_dir).collect()
    }
    union = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3)], "src long, dst long"
    )
    want = {(r.node, r.deg, r.tri) for r in triangles(union).collect()}
    assert got == want
    stage(closing, 2)  # replay
    again = {
        (r.node, r.deg, r.tri)
        for r in read_latest_tricounts(spark, state_dir).collect()
    }
    assert again == want
    shutil.rmtree(state_dir, ignore_errors=True)


# --------------------------------------------------------------------------
# kcore / pagerank: union edge log + latest-only snapshots
# --------------------------------------------------------------------------


def test_kcore_compaction_invisible(spark, tmp_path):
    from rapids_and_rivers_spark.streaming.duals import (
        kcore_compact_store,
        kcore_foreach_batch,
        read_latest_core,
    )

    ring = [(i, (i + 1) % 6) for i in range(6)]
    out_a = str(tmp_path / "kcc_a")
    out_b = str(tmp_path / "kcc_b")
    for out in (out_a, out_b):
        stage = kcore_foreach_batch(out, k=2, rounds=3)
        stage(spark.createDataFrame(ring[:3], "src long, dst long"), 0)
        stage(spark.createDataFrame(ring[3:5], "src long, dst long"), 1)
        if out == out_b:
            kcore_compact_store(spark, out_b, through_epoch=1)
        # the ring-closing edge arrives post-compaction: every node
        # enters the 2-core only if the compacted edge log is intact
        stage(spark.createDataFrame(ring[5:], "src long, dst long"), 2)
    want = sorted(tuple(r) for r in read_latest_core(spark, out_a).collect())
    got = sorted(tuple(r) for r in read_latest_core(spark, out_b).collect())
    assert got == want and len(want) == 6
    assert _count_dirs(os.path.join(out_b, "edges"), "v") == 2
    assert _count_dirs(os.path.join(out_b, "core"), "v") == 2
    shutil.rmtree(out_a, ignore_errors=True)
    shutil.rmtree(out_b, ignore_errors=True)


def test_pagerank_compaction_invisible(spark, tmp_path):
    from rapids_and_rivers_spark.streaming.duals import (
        pagerank_compact_store,
        pagerank_foreach_batch,
        read_latest_ranks,
    )

    e1 = [("a", "b", 2.0), ("b", "a", 2.0), ("b", "c", 1.0), ("c", "b", 1.0)]
    e2 = [("c", "d", 1.0), ("d", "c", 1.0)]
    out_a = str(tmp_path / "prc_a")
    out_b = str(tmp_path / "prc_b")
    for out in (out_a, out_b):
        stage = pagerank_foreach_batch(out, iters_per_epoch=2)
        stage(
            spark.createDataFrame(e1, "src string, dst string, weight double"),
            0,
        )
        if out == out_b:
            pagerank_compact_store(spark, out_b, through_epoch=0)
        stage(
            spark.createDataFrame(e2, "src string, dst string, weight double"),
            1,
        )
    want = {r.node: r.pr for r in read_latest_ranks(spark, out_a).collect()}
    got = {r.node: r.pr for r in read_latest_ranks(spark, out_b).collect()}
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) < 1e-12 for k in want)
    shutil.rmtree(out_a, ignore_errors=True)
    shutil.rmtree(out_b, ignore_errors=True)


# --------------------------------------------------------------------------
# minhash index + IVF postings
# --------------------------------------------------------------------------


def test_minhash_compaction_invisible(spark, tmp_path):
    from rapids_and_rivers_spark.streaming.duals import (
        minhash_compact_store,
        minhash_index_foreach_batch,
        read_epoch_table,
    )

    body = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank today"
    )
    b1 = [(1, body), (2, body.replace("lazy", "sleepy")),
          (3, "completely different words about spark windows and state "
              "stores here")]
    b2 = [(20, body.replace("today", "tonight")),
          (21, "another unrelated document mentioning joins shuffles and "
               "partitions only")]
    b3 = [(30, body.replace("quick", "swift"))]  # pairs with 1/2/20
    outs = {}
    for tag in ("a", "b"):
        idx = str(tmp_path / f"mhc_{tag}_i")
        pairs = str(tmp_path / f"mhc_{tag}_p")
        stage = minhash_index_foreach_batch(idx, pairs, threshold=0.3)
        stage(spark.createDataFrame(b1, "doc_id long, text string"), 0)
        stage(spark.createDataFrame(b2, "doc_id long, text string"), 1)
        if tag == "b":
            minhash_compact_store(spark, idx, pairs, through_epoch=1)
        stage(spark.createDataFrame(b3, "doc_id long, text string"), 2)
        outs[tag] = sorted(
            tuple(r) for r in read_epoch_table(spark, pairs).collect()
        )
        if tag == "b":
            assert _count_dirs(idx, "") >= 0
            assert _count_dirs(os.path.join(idx, "bands"), "v") == 2
            assert _count_dirs(pairs, "v") == 2
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(pairs, ignore_errors=True)
    assert outs["a"] == outs["b"] and len(outs["a"]) > 0
    # the post-compaction doc really matched an epoch-0 doc through the
    # compacted band index
    assert any(a == 1 and b == 30 for (a, b, _j) in outs["b"])


def test_ivf_compaction_invisible(spark, tmp_path):
    import numpy as np

    from rapids_and_rivers_spark.streaming.duals import (
        ivf_compact_store,
        ivf_index_foreach_batch,
        ivf_query_from_index,
    )

    rng = np.random.RandomState(7)
    vecs = rng.randn(80, 64).round(3)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(80)]
    cands = spark.createDataFrame(rows, "neighbor_id long, c_emb array<double>")
    queries = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(5)],
        "query_id long, q_emb array<double>",
    )

    def run(compact):
        idx = str(tmp_path / f"ivfc_{compact}")
        stage = ivf_index_foreach_batch(idx, dim=64, n_cells=8)
        stage(cands.filter(F.col("neighbor_id") % 3 == 0), 0)
        stage(cands.filter(F.col("neighbor_id") % 3 == 1), 1)
        if compact:
            ivf_compact_store(spark, idx, through_epoch=1)
        stage(cands.filter(F.col("neighbor_id") % 3 == 2), 2)
        got = sorted(
            tuple(r)
            for r in ivf_query_from_index(
                spark, idx, queries, k=5, nprobe=3
            ).collect()
        )
        dirs = _count_dirs(os.path.join(idx, "postings"), "epoch=")
        shutil.rmtree(idx, ignore_errors=True)
        return got, dirs

    want, dirs_a = run(compact=False)
    got, dirs_b = run(compact=True)
    assert got == want and len(want) == 25  # 5 queries x k=5
    assert dirs_b == 2 < dirs_a


# --------------------------------------------------------------------------
# label propagation: union edge log + latest-only snapshots (ADVICE r10)
# --------------------------------------------------------------------------


def test_label_prop_compaction_invisible(spark, tmp_path):
    """label_prop_compact_store was the only compactor without a
    dedicated contract-invisibility test (ADVICE r10): same shape as
    the kcore test — a CONTROL run and a compacted run must read
    identically, with the ring-closing edge arriving POST-compaction so
    the labels only converge if the folded edge log is intact."""
    from rapids_and_rivers_spark.streaming.duals import (
        label_prop_compact_store,
        label_prop_foreach_batch,
        read_latest_labels,
    )

    ring = [(i, (i + 1) % 6, 1.0) for i in range(6)]
    out_a = str(tmp_path / "lpc_a")
    out_b = str(tmp_path / "lpc_b")
    schema = "src long, dst long, weight double"
    for out in (out_a, out_b):
        stage = label_prop_foreach_batch(out, iters_per_epoch=3)
        stage(spark.createDataFrame(ring[:3], schema), 0)
        stage(spark.createDataFrame(ring[3:5], schema), 1)
        if out == out_b:
            label_prop_compact_store(spark, out_b, through_epoch=1)
        stage(spark.createDataFrame(ring[5:], schema), 2)
    want = sorted(tuple(r) for r in read_latest_labels(spark, out_a).collect())
    got = sorted(tuple(r) for r in read_latest_labels(spark, out_b).collect())
    assert got == want and len(want) == 6
    assert _count_dirs(os.path.join(out_b, "edges"), "v") == 2
    assert _count_dirs(os.path.join(out_b, "labels"), "v") == 2
    shutil.rmtree(out_a, ignore_errors=True)
    shutil.rmtree(out_b, ignore_errors=True)


# --------------------------------------------------------------------------
# compaction watermark manifest (ADVICE r10): a replay of a FOLDED epoch
# must refuse loudly instead of silently overwriting folded history
# --------------------------------------------------------------------------


_RING_EPOCHS = ([(0, 1), (1, 2), (2, 3)], [(3, 4), (4, 5)], [(5, 0)])


def _ring_batch(weighted):
    def batch(spark, e):
        if weighted:
            rows = [(a, b, 1.0) for a, b in _RING_EPOCHS[e]]
            return spark.createDataFrame(rows, "src long, dst long, weight double")
        return spark.createDataFrame(_RING_EPOCHS[e], "src long, dst long")

    return batch


def _vec_batch(id_col, emb_col):
    def batch(spark, e):
        import numpy as np

        vecs = np.random.RandomState(7).randn(60, 64).round(3)
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(60) if i % 3 == e]
        return spark.createDataFrame(
            rows, f"{id_col} long, {emb_col} array<double>"
        )

    return batch


_ER_EPOCHS = ({1, 3}, {2, 5}, {4, 6, 7})
_BASKET_EPOCHS = (
    [(1, 10), (1, 11), (2, 10)],
    [(2, 11), (3, 12)],
    [(3, 10), (1, 12)],
)


#: dual -> (stage factory over a state dir, its compactor, epoch batch)
_GUARD_CASES = {
    "minhash": (
        lambda out: D.minhash_index_foreach_batch(
            os.path.join(out, "idx"), os.path.join(out, "pairs"), threshold=0.3
        ),
        lambda sp, out, t: D.minhash_compact_store(
            sp, os.path.join(out, "idx"), os.path.join(out, "pairs"), t
        ),
        lambda spark, e: _er_batch(spark, _ER_EPOCHS[e]),
    ),
    "semdedup_clustered": (
        lambda out: D.semdedup_clustered_foreach_batch(
            out, dim=64, n_cells=4, threshold=0.4, expected_corpus_rows=60
        ),
        D.semdedup_clustered_compact_store,
        _vec_batch("vec_id", "embedding"),
    ),
    "er": (
        D.er_index_foreach_batch,
        D.er_compact_store,
        lambda spark, e: _er_batch(spark, _ER_EPOCHS[e]),
    ),
    "pagerank": (
        D.pagerank_foreach_batch,
        D.pagerank_compact_store,
        _ring_batch(weighted=True),
    ),
    "label_prop": (
        D.label_prop_foreach_batch,
        D.label_prop_compact_store,
        _ring_batch(weighted=True),
    ),
    "triangles": (
        lambda out: D.triangles_foreach_batch(out, expected_adj_rows=1000),
        D.triangles_compact_store,
        _ring_batch(weighted=False),
    ),
    "kcore": (
        lambda out: D.kcore_foreach_batch(out, k=2, rounds=3),
        D.kcore_compact_store,
        _ring_batch(weighted=False),
    ),
    "ivf": (
        lambda out: D.ivf_index_foreach_batch(
            out, dim=64, n_cells=4, expected_corpus_rows=60
        ),
        D.ivf_compact_store,
        _vec_batch("neighbor_id", "c_emb"),
    ),
    "assoc": (
        D.assoc_items_foreach_batch,
        D.assoc_compact_store,
        lambda spark, e: spark.createDataFrame(
            _BASKET_EPOCHS[e], "basket long, item long"
        ),
    ),
}


@pytest.mark.parametrize("dual", list(_GUARD_CASES))
def test_compaction_watermark_refuses_folded_epoch_replay(spark, dual, tmp_path):
    import glob

    make_stage, compact, batch = _GUARD_CASES[dual]
    out = str(tmp_path / f"wmg_{dual}")
    try:
        stage = make_stage(out)
        stage(batch(spark, 0), 0)
        stage(batch(spark, 1), 1)
        compact(spark, out, 1)
        marks = glob.glob(
            os.path.join(out, "**", D._WATERMARK_FILE), recursive=True
        )
        roots = [os.path.dirname(m) for m in marks]
        assert roots and all(D.compaction_watermark(r) == 1 for r in roots)
        # contract-violating replay of folded epoch 1: must raise, and
        # must NOT touch the compacted stores
        with pytest.raises(RuntimeError, match="compacted through epoch 1"):
            stage(batch(spark, 1), 1)
        # the legitimate next epoch still ingests into every store
        stage(batch(spark, 2), 2)
        for r in roots:
            assert {"v2", "epoch=2"} & set(os.listdir(r)), r
        if dual == "kcore":
            assert D.read_latest_core(spark, out).count() == 6
    finally:
        shutil.rmtree(out, ignore_errors=True)


# --------------------------------------------------------------------------
# compaction SCHEDULING policy (VERDICT r10 task 5): size-pressure
# trigger wired into the stage — bounded dirs over a long run, derived
# result identical to the never-compacted control
# --------------------------------------------------------------------------


def test_auto_compaction_bounds_dirs_over_long_run(spark, tmp_path):
    from rapids_and_rivers_spark.streaming.duals import (
        auto_compacting,
        kcore_foreach_batch,
        read_latest_core,
        store_version_dirs,
    )

    n = 24
    ring = [(i, (i + 1) % n) for i in range(n)]
    out_a = str(tmp_path / "apc_a")
    out_b = str(tmp_path / "apc_b")
    max_dirs = 6
    peak_b = 0
    for out in (out_a, out_b):
        stage = kcore_foreach_batch(out, k=2, rounds=2)
        if out == out_b:
            stage = auto_compacting(stage, max_version_dirs=max_dirs)
        for e in range(n):
            stage(spark.createDataFrame(ring[e : e + 1], "src long, dst long"), e)
            if out == out_b:
                peak_b = max(
                    peak_b, store_version_dirs(os.path.join(out_b, "edges"))
                )
    # policy keeps the edge log bounded: never more than max_dirs + 1
    # (the trigger fires AFTER the epoch that crosses the threshold)
    assert peak_b <= max_dirs + 1, peak_b
    assert store_version_dirs(os.path.join(out_a, "edges")) == n
    # reader contract: identical derived cores, and the ring closes
    want = sorted(tuple(r) for r in read_latest_core(spark, out_a).collect())
    got = sorted(tuple(r) for r in read_latest_core(spark, out_b).collect())
    assert got == want and len(want) == n
    shutil.rmtree(out_a, ignore_errors=True)
    shutil.rmtree(out_b, ignore_errors=True)


def test_semdedup_clustered_compaction_invisible(spark, tmp_path):
    """The round-11 dual's store under its compactor + the scheduling
    wrapper: ingest 3 epochs with max_version_dirs=1 (trigger fires
    mid-stream), derived keep-list identical to the never-compacted
    control, dirs bounded."""
    from pyspark.sql import functions as F

    from rapids_and_rivers_spark.sources import load_table
    from rapids_and_rivers_spark.streaming.duals import (
        auto_compacting,
        semdedup_clustered_foreach_batch,
        semdedup_clustered_keep_list,
        store_version_dirs,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    outs = {}
    for mode in ("control", "compacted"):
        idx = str(tmp_path / f"sdc_{mode}")
        stage = semdedup_clustered_foreach_batch(idx, dim=64, threshold=0.4)
        if mode == "compacted":
            stage = auto_compacting(stage, max_version_dirs=1)
        for e in range(3):
            stage(emb.filter(F.col("vec_id") % 3 == e), e)
        outs[mode] = (
            idx,
            sorted(
                tuple(r)
                for r in semdedup_clustered_keep_list(spark, idx).collect()
            ),
        )
    assert outs["control"][1] == outs["compacted"][1]
    assert len(outs["control"][1]) == emb.count()
    assert store_version_dirs(
        os.path.join(outs["compacted"][0], "pairs")
    ) < store_version_dirs(os.path.join(outs["control"][0], "pairs"))
    for idx, _ in outs.values():
        shutil.rmtree(idx, ignore_errors=True)


# --------------------------------------------------------------------------
# shared store plumbing: overlapped jobs, store probe
# --------------------------------------------------------------------------


def test_overlap_jobs_runs_every_thunk_and_reports_every_error(spark):
    from rapids_and_rivers_spark.streaming.duals import _overlap_jobs

    ran = []

    def fail(msg):
        def thunk():
            ran.append(msg)
            raise ValueError(msg)

        return thunk

    with pytest.raises(ValueError) as info:
        _overlap_jobs(
            spark, fail("first store"), lambda: ran.append("ok"), fail("third store")
        )
    assert sorted(ran) == ["first store", "ok", "third store"]
    assert str(info.value) == "first store"
    assert any("third store" in note for note in info.value.__notes__)


def test_overlap_jobs_inherit_session_tags_without_warning(spark):
    """The pool threads see a job tag the caller added before the call,
    and wrapping the thunks warns nothing (pyspark warns "Spark session
    is not provided. Tags will not be inherited." when it gets none)."""
    import warnings

    from rapids_and_rivers_spark.streaming.duals import _overlap_jobs

    seen = []
    spark.addTag("overlap-step")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            _overlap_jobs(
                spark,
                lambda: seen.append(spark.getTags()),
                lambda: seen.append(spark.getTags()),
            )
    finally:
        spark.removeTag("overlap-step")
    assert len(seen) == 2
    assert all("overlap-step" in tags for tags in seen)


def test_overlap_jobs_threads_keep_their_own_local_properties(spark):
    """Each pool thread starts from its own copy of the caller's local
    properties: a property one overlapped thunk sets is not seen by
    another thunk running at the same time, nor by the caller, and a
    SQL action in one thunk does not leave its execution id in another
    (Spark sets ``spark.sql.execution.id`` in the thread's properties
    while the action runs)."""
    import threading

    from rapids_and_rivers_spark.streaming.duals import _overlap_jobs

    sc = spark.sparkContext
    both_set = threading.Barrier(2, timeout=60)
    seen = {}

    def sets(value):
        def thunk():
            sc.setLocalProperty("rars.test.owner", value)
            both_set.wait()
            seen[value] = sc.getLocalProperty("rars.test.owner")
            seen[value + ":caller"] = sc.getLocalProperty("rars.test.caller")

        return thunk

    sc.setLocalProperty("rars.test.caller", "caller")
    try:
        _overlap_jobs(spark, sets("a"), sets("b"))
        assert seen == {"a": "a", "b": "b", "a:caller": "caller", "b:caller": "caller"}
        assert sc.getLocalProperty("rars.test.owner") is None

        done = threading.Event()
        execution_ids = []

        def action():
            # a SQL action: its task sleeps, so its execution id stays
            # set in this thread's properties for half a second
            slow = F.udf(lambda i: time.sleep(0.5) or i, "long")
            try:
                spark.range(1).select(slow("id")).collect()
            finally:
                done.set()

        def reader():
            while not done.is_set():
                execution_ids.append(sc.getLocalProperty("spark.sql.execution.id"))
                done.wait(0.02)

        _overlap_jobs(spark, action, reader)
        assert execution_ids and set(execution_ids) == {None}
    finally:
        sc.setLocalProperty("rars.test.caller", None)


def _crashed_epoch0_store(root):
    """What a crash during an epoch-0 write leaves behind: parts under
    ``_temporary`` only, plus a dotfile and a ``_``-prefixed parquet."""
    tmp = os.path.join(root, "_temporary", "0")
    os.makedirs(tmp)
    for path in (
        os.path.join(tmp, "part-0.parquet"),
        os.path.join(root, ".part-1.parquet"),
        os.path.join(root, "_part-2.parquet"),
    ):
        open(path, "w").close()


def test_has_parquet_files_ignores_hidden_paths_stdlib(monkeypatch, tmp_path):
    from rapids_and_rivers_spark.streaming import fsutil

    monkeypatch.setattr(fsutil, "_jfs", lambda path: None)
    root = str(tmp_path / "store")
    _crashed_epoch0_store(root)
    assert not fsutil.has_parquet_files(root)
    part = os.path.join(root, "__batch_id=0", "epoch=0")
    os.makedirs(part)
    open(os.path.join(part, "part-0.parquet"), "w").close()
    assert fsutil.has_parquet_files(root)


def test_has_parquet_files_ignores_hidden_paths_hadoop_fs(spark, tmp_path):
    from rapids_and_rivers_spark.streaming import fsutil

    root = "file://" + str(tmp_path / "store")
    _crashed_epoch0_store(str(tmp_path / "store"))
    assert fsutil._jfs(root) is not None
    assert not fsutil.has_parquet_files(root)
    part = tmp_path / "store" / "__batch_id=0" / "epoch=0"
    part.mkdir(parents=True)
    (part / "part-0.parquet").touch()
    assert fsutil.has_parquet_files(root)


class _StuckV0FileSystem:
    """A Hadoop FileSystem whose delete of any ``v0`` reports failure."""

    def __init__(self, fs):
        self._fs = fs

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def delete(self, jpath, recursive):
        return jpath.getName() != "v0" and self._fs.delete(jpath, recursive)


@pytest.mark.parametrize("branch", ["stdlib", "hadoop_fs"])
def test_union_compaction_raises_when_folded_dir_delete_fails(
    spark, monkeypatch, tmp_path, branch
):
    from rapids_and_rivers_spark.streaming import fsutil

    root = str(tmp_path / "edges")
    store = D.EpochStore(root, "union")
    for e in (0, 1):
        store.write(spark.createDataFrame([(e, e + 1)], "a long, b long"), e)
    stuck = os.path.join(root, "v0")
    if branch == "stdlib":
        monkeypatch.setattr(fsutil, "_jfs", lambda path: None)
        real_rmdir = os.rmdir

        def rmdir(path, *args, **kwargs):
            if os.fspath(path) == stuck:
                raise PermissionError(13, "injected", path)
            return real_rmdir(path, *args, **kwargs)

        monkeypatch.setattr(os, "rmdir", rmdir)
    else:
        real_jfs = fsutil._jfs

        def jfs(path):
            fs, jpath, jvm = real_jfs(path)
            return _StuckV0FileSystem(fs), jpath, jvm

        monkeypatch.setattr(fsutil, "_jfs", jfs)
    with pytest.raises(OSError):
        store.compact(spark, 1)
    # the folded v0 is still there, so no watermark may claim the fold
    assert os.path.isdir(stuck)
    assert D.compaction_watermark(root) is None


def test_manifest_write_failing_midway_keeps_previous_manifest(
    monkeypatch, tmp_path
):
    from rapids_and_rivers_spark.streaming import fsutil

    monkeypatch.setattr(fsutil, "_jfs", lambda path: None)
    root = str(tmp_path / "store")
    D._write_compaction_watermark(root, 1)
    # a lone surrogate cannot be encoded: the write fails after the
    # file it writes to is opened
    with pytest.raises(UnicodeEncodeError):
        fsutil.write_text(
            os.path.join(root, D._WATERMARK_FILE),
            '{"compacted_through": 2, "note": "\ud800"}',
        )
    assert D.compaction_watermark(root) == 1


# --------------------------------------------------------------------------
# store readers: crash-left snapshots and empty stores
# --------------------------------------------------------------------------


def test_latest_read_skips_a_snapshot_left_by_a_crashed_write(spark, tmp_path):
    """A crash in epoch 1's rank write leaves ``ranks/v1`` with its parts
    under ``_temporary/`` only: the newest committed snapshot is still
    ``v0``, for the public reader and for epoch 2's prior read."""
    state_dir = str(tmp_path)
    stage = D.pagerank_foreach_batch(state_dir)
    stage(spark.createDataFrame([(1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, weight double"), 0)
    want = sorted(tuple(r) for r in D.read_latest_ranks(spark, state_dir).collect())
    _crashed_epoch0_store(os.path.join(state_dir, "ranks", "v1"))
    assert sorted(tuple(r) for r in D.read_latest_ranks(spark, state_dir).collect()) == want
    prior = D._pagerank_stores(state_dir)[-1].prior(spark, 2)
    assert sorted(tuple(r) for r in prior.collect()) == want


def test_readers_without_a_snapshot_raise_file_not_found(spark, tmp_path):
    """A packing index holding only a crash-left staging dir, and a CDC
    base dir without any ``snap_v*``, have nothing to read."""
    packing = tmp_path / "packing_state" / "packing" / "_staged_v0" / "skey=ab"
    packing.mkdir(parents=True)
    (packing / "part-0.parquet").touch()
    with pytest.raises(FileNotFoundError):
        D.packing_from_index(spark, str(tmp_path / "packing_state"))
    cdc = tmp_path / "cdc"
    cdc.mkdir()
    with pytest.raises(FileNotFoundError):
        D.read_latest_snapshot(spark, str(cdc))
