"""M4 streaming extensions (SURVEY.md §7.2): event-time watermarks +
tumbling windows, dropDuplicatesWithinWatermark, and the stream-stream
@behovId join generalizing the behov/løsning protocol — all on real
Structured Streaming queries over file sources.
"""

import json
import os

import pytest
from pyspark.sql import functions as F


def write_lines(path, lines, name="part0.txt"):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def stream_json(spark, path, schema):
    raw = spark.readStream.format("text").load(path)
    return raw.select(F.from_json("value", schema).alias("m")).select("m.*")


def test_windowed_aggregation_with_watermark(spark, tmp_path):
    src = str(tmp_path / "in")
    write_lines(
        src,
        [
            json.dumps({"event_name": "click", "ts": f"2026-01-01T00:{m:02d}:00"})
            for m in (0, 1, 2, 10, 11, 30)
        ],
    )
    events = stream_json(spark, src, "event_name string, ts timestamp").withWatermark(
        "ts", "10 minutes"
    )
    agg = events.groupBy(
        F.window("ts", "10 minutes").alias("w"), "event_name"
    ).agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r.w.start.minute, r.n) for r in spark.sql("SELECT * FROM win_agg").collect()
    }
    assert rows == {(0, 3), (10, 2), (30, 1)}


def test_sliding_window_aggregation_with_watermark(spark, tmp_path):
    """Streaming dual of the window_sliding_agg catalog query: 30-minute
    windows sliding every 15 — each event lands in exactly 2 windows."""
    src = str(tmp_path / "in")
    write_lines(
        src,
        [
            json.dumps({"event_name": "click", "ts": f"2026-01-01T00:{m:02d}:00"})
            for m in (0, 5, 20, 40)
        ],
    )
    events = stream_json(spark, src, "event_name string, ts timestamp").withWatermark(
        "ts", "30 minutes"
    )
    agg = events.groupBy(
        F.window("ts", "30 minutes", "15 minutes").alias("w"), "event_name"
    ).agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.format("memory")
        .queryName("slide_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r.w.start.hour, r.w.start.minute, r.n)
        for r in spark.sql("SELECT * FROM slide_agg").collect()
    }
    # ts 00:00,00:05 -> windows starting 23:45 & 00:00; 00:20 -> 00:00 &
    # 00:15; 00:40 -> 00:15 & 00:30
    assert rows == {
        (23, 45, 2),
        (0, 0, 3),
        (0, 15, 2),
        (0, 30, 1),
    }


def test_drop_duplicates_within_watermark(spark, tmp_path):
    src = str(tmp_path / "in")
    write_lines(
        src,
        [
            json.dumps({"id": "a", "ts": "2026-01-01T00:00:00"}),
            json.dumps({"id": "a", "ts": "2026-01-01T00:00:03"}),  # dup within wm
            json.dumps({"id": "b", "ts": "2026-01-01T00:00:05"}),
        ],
    )
    events = stream_json(spark, src, "id string, ts timestamp").withWatermark(
        "ts", "1 minute"
    )
    deduped = events.dropDuplicatesWithinWatermark(["id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ids = sorted(r.id for r in spark.sql("SELECT id FROM dedup_wm").collect())
    assert ids == ["a", "b"]


def test_stream_stream_behov_join(spark, tmp_path):
    """The @behov/@løsning request-reply correlation (JsonMessage.kt:60-67,
    117-125) as a watermarked stream-stream inner join on @behovId."""
    needs_src = str(tmp_path / "needs")
    sols_src = str(tmp_path / "sols")
    write_lines(
        needs_src,
        [
            json.dumps(
                {"behovId": f"need-{i}", "behov": ["x"], "ts": f"2026-01-01T00:0{i}:00"}
            )
            for i in range(3)
        ],
    )
    write_lines(
        sols_src,
        [
            json.dumps(
                {"behovId": "need-1", "solution": 42, "ts": "2026-01-01T00:02:00"}
            ),
            json.dumps(
                {"behovId": "need-7", "solution": 9, "ts": "2026-01-01T00:03:00"}
            ),
        ],
    )
    needs = stream_json(
        spark, needs_src, "behovId string, behov array<string>, ts timestamp"
    ).withWatermark("ts", "10 minutes").alias("n")
    sols = stream_json(
        spark, sols_src, "behovId string, solution long, ts timestamp"
    ).withWatermark("ts", "10 minutes").alias("s")
    joined = needs.join(
        sols,
        F.expr(
            "n.behovId = s.behovId AND s.ts >= n.ts AND s.ts <= n.ts + INTERVAL 1 HOUR"
        ),
    ).select(F.col("n.behovId").alias("behovId"), "solution")
    q = (
        joined.writeStream.format("memory")
        .queryName("behov_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [(r.behovId, r.solution) for r in spark.sql("SELECT * FROM behov_join").collect()]
    assert rows == [("need-1", 42)]


def test_stateful_rate_limit_across_batches(spark, tmp_path):
    """applyInPandasWithState rate limiter: state survives micro-batch
    boundaries (PingPong.kt:29-35 lastPing generalized per key)."""
    from rapids_and_rivers_spark.streaming.stateful import rate_limit_by_key

    src = str(tmp_path / "in")
    # two files + maxFilesPerTrigger=1 => two micro-batches
    write_lines(
        src,
        [
            json.dumps({"k": "k1", "ts": "2026-01-01T00:00:00"}),
            json.dumps({"k": "k1", "ts": "2026-01-01T00:00:03"}),  # < 5s: drop
            json.dumps({"k": "k2", "ts": "2026-01-01T00:00:01"}),
        ],
        name="a.txt",
    )
    write_lines(
        src,
        [
            # only suppressed if k1's last_emit SURVIVED batch 1
            json.dumps({"k": "k1", "ts": "2026-01-01T00:00:04"}),
            json.dumps({"k": "k1", "ts": "2026-01-01T00:00:06"}),  # >= 5s: emit
        ],
        name="b.txt",
    )
    # the file source orders batches by modification time: pin a.txt first
    now = os.path.getmtime(os.path.join(src, "a.txt"))
    os.utime(os.path.join(src, "a.txt"), (now - 100, now - 100))
    os.utime(os.path.join(src, "b.txt"), (now + 100, now + 100))
    events = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(src)
        .select(F.from_json("value", "k string, ts timestamp").alias("m"))
        .select("m.*")
    )
    limited = rate_limit_by_key(events, "k", "ts", interval_seconds=5)
    q = (
        limited.writeStream.format("memory")
        .queryName("rate_limited")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.k, r.ts.isoformat())
        for r in spark.sql("SELECT * FROM rate_limited").collect()
    }
    assert got == {
        ("k1", "2026-01-01T00:00:00"),
        ("k1", "2026-01-01T00:00:06"),
        ("k2", "2026-01-01T00:00:01"),
    }


def test_stateful_rate_limit_on_batch_df(spark):
    """Batch/stream duality: the same operator runs on a plain DataFrame."""
    from rapids_and_rivers_spark.streaming.stateful import rate_limit_by_key

    df = spark.createDataFrame(
        [
            ("g", "2026-01-01T00:00:00"),
            ("g", "2026-01-01T00:00:02"),
            ("g", "2026-01-01T00:00:09"),
        ],
        "k string, raw string",
    ).select("k", F.col("raw").cast("timestamp").alias("ts"))
    out = rate_limit_by_key(df.select("k", "ts"), "k", "ts", interval_seconds=5)
    got = sorted(r.ts.isoformat() for r in out.collect())
    assert got == ["2026-01-01T00:00:00", "2026-01-01T00:00:09"]


def test_append_mode_emits_only_watermark_closed_windows(spark, tmp_path):
    """Append output mode: a window row is emitted exactly once, when the
    watermark passes its end — open windows stay in state. (Complete mode
    re-emits everything; append is what a parquet/Kafka sink needs.)"""
    src = str(tmp_path / "in")
    write_lines(
        src,
        [
            json.dumps({"event_name": "click", "ts": "2026-01-01T00:01:00"}),
            json.dumps({"event_name": "click", "ts": "2026-01-01T00:02:00"}),
            # late-ish arrival inside the first window, then a big jump
            # that pushes the watermark (5 min) beyond window [0,10)
            json.dumps({"event_name": "click", "ts": "2026-01-01T00:03:00"}),
            json.dumps({"event_name": "click", "ts": "2026-01-01T00:30:00"}),
        ],
    )
    events = stream_json(spark, src, "event_name string, ts timestamp").withWatermark(
        "ts", "5 minutes"
    )
    agg = events.groupBy(F.window("ts", "10 minutes").alias("w")).agg(
        F.count(F.lit(1)).alias("n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("append_win")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r.w.start.minute, r.n) for r in spark.sql("SELECT * FROM append_win").collect()
    }
    # window [00:00,00:10) closed (watermark = 00:30-5min = 00:25 > 00:10)
    # and emitted once with all 3 rows; [00:30,00:40) is still open -> absent
    assert rows == {(0, 3)}


def _two_batch_source(spark, src, batch1, batch2, schema):
    """Text-file stream with two pinned micro-batches (mtime-ordered)."""
    write_lines(src, batch1, name="a.txt")
    write_lines(src, batch2, name="b.txt")
    now = os.path.getmtime(os.path.join(src, "a.txt"))
    os.utime(os.path.join(src, "a.txt"), (now - 100, now - 100))
    os.utime(os.path.join(src, "b.txt"), (now + 100, now + 100))
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(src)
        .select(F.from_json("value", schema).alias("m"))
        .select("m.*")
    )


def test_scd2_stream_state_survives_batches(spark, tmp_path):
    """Streaming dual of the scd2_user_state catalog query: the open
    interval lives in the checkpointed state store across micro-batches;
    the upsert changelog, reduced last-write-wins on (key, valid_from),
    equals the batch result."""
    from rapids_and_rivers_spark.streaming.duals import scd2_stream

    schema = "user string, state string, ts timestamp, seq long"
    events = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [
            json.dumps({"user": "u1", "state": "browse", "ts": "2026-01-01T00:00:00", "seq": 1}),
            json.dumps({"user": "u1", "state": "cart", "ts": "2026-01-01T00:05:00", "seq": 2}),
            json.dumps({"user": "u2", "state": "browse", "ts": "2026-01-01T00:01:00", "seq": 3}),
        ],
        [
            # u1: cart -> buy closes the cart interval opened in batch 1
            json.dumps({"user": "u1", "state": "buy", "ts": "2026-01-01T00:10:00", "seq": 4}),
            # u2: same state again -> NO new interval
            json.dumps({"user": "u2", "state": "browse", "ts": "2026-01-01T00:11:00", "seq": 5}),
        ],
        schema,
    )
    out = scd2_stream(events, "user", "state", "ts", "seq")
    q = (
        out.writeStream.format("memory")
        .queryName("scd2_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last-write-wins upsert on (key, valid_from): a closed version
    # supersedes the open one
    merged = {}
    for r in spark.sql("SELECT * FROM scd2_out").collect():
        cur = merged.get((r.key, r.valid_from))
        if cur is None or (cur.is_current and not r.is_current):
            merged[(r.key, r.valid_from)] = r
    got = {
        (r.key, r.state, r.valid_from, r.valid_to, r.is_current)
        for r in merged.values()
    }
    expected = {
        ("u1", "browse", "2026-01-01T00:00:00.000000", "2026-01-01T00:05:00.000000", False),
        ("u1", "cart", "2026-01-01T00:05:00.000000", "2026-01-01T00:10:00.000000", False),
        ("u1", "buy", "2026-01-01T00:10:00.000000", None, True),
        ("u2", "browse", "2026-01-01T00:01:00.000000", None, True),
    }
    assert got == expected
    # batch/stream duality: the same operator on a plain DataFrame gives
    # the same final dimension table directly
    batch = spark.createDataFrame(
        [
            ("u1", "browse", "2026-01-01T00:00:00", 1),
            ("u1", "cart", "2026-01-01T00:05:00", 2),
            ("u2", "browse", "2026-01-01T00:01:00", 3),
            ("u1", "buy", "2026-01-01T00:10:00", 4),
            ("u2", "browse", "2026-01-01T00:11:00", 5),
        ],
        "user string, state string, raw string, seq long",
    ).select("user", "state", F.col("raw").cast("timestamp").alias("ts"), "seq")
    got_b = {
        (r.key, r.state, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_stream(batch, "user", "state", "ts", "seq").collect()
    }
    assert got_b == expected


def test_chunk_documents_runs_unchanged_on_stream(spark, tmp_path):
    """RAG chunking is pure Column ops, so the BATCH function runs
    unchanged on a streaming DataFrame and produces identical rows."""
    from rapids_and_rivers_spark.operators.text import chunk_documents

    docs = [
        {"doc_id": 1, "text": " ".join(f"w{i}" for i in range(10))},
        {"doc_id": 2, "text": "a b c"},
        {"doc_id": 3, "text": ""},
    ]
    src = str(tmp_path / "in")
    write_lines(src, [json.dumps(d) for d in docs])
    stream = stream_json(spark, src, "doc_id long, text string")
    q = (
        chunk_documents(stream, chunk_size=4, stride=3)
        .writeStream.format("memory")
        .queryName("chunks_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r) for r in spark.sql("SELECT * FROM chunks_out").collect()
    }
    batch = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], "doc_id long, text string"
    )
    expected = {tuple(r) for r in chunk_documents(batch, chunk_size=4, stride=3).collect()}
    assert got == expected and len(got) > 3


def test_tfidf_foreach_batch_incremental(spark, tmp_path):
    """Incremental tf-idf: two micro-batches maintain doc_tf/token_df/
    n_docs stats tables via foreachBatch; the final ranking equals the
    batch formula over the full corpus — without re-tokenizing it."""
    from rapids_and_rivers_spark.streaming.duals import (
        tfidf_foreach_batch,
        tfidf_from_stats,
    )

    b1 = [
        {"doc_id": 1, "text": "spark streams data data"},
        {"doc_id": 2, "text": "spark joins data"},
    ]
    b2 = [
        {"doc_id": 3, "text": "streams window state state"},
    ]
    docs = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(d) for d in b1],
        [json.dumps(d) for d in b2],
        "doc_id long, text string",
    )
    state_dir = str(tmp_path / "stats")
    q = (
        docs.writeStream.foreachBatch(tfidf_foreach_batch(state_dir))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.doc_id, r.token, r.tf, r.df, r.tfidf)
        for r in tfidf_from_stats(spark, state_dir, top_k=3).collect()
    }
    # batch reference: identical formula over the full corpus
    from pyspark.sql import Window as W

    full = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in b1 + b2], "doc_id long, text string"
    )
    toks = full.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"),
    ).filter(F.length("token") >= 3)
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        tf.join(df_, "token")
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.lit(3.0) / F.col("df")), 4))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("df"), "token")
            ),
        )
        .filter(F.col("rk") <= 3)
    )
    expected = {
        (r.doc_id, r.token, r.tf, r.df, r.tfidf)
        for r in ranked.select("doc_id", "token", "tf", "df", "tfidf").collect()
    }
    assert got == expected and len(got) > 0


def test_zscore_stream_matches_batch_prefix_semantics(spark, tmp_path):
    """Online z-score: Welford state continues across micro-batches and
    matches the batch expanding-window formulation exactly; the injected
    outlier (and only it) is flagged."""
    from rapids_and_rivers_spark.streaming.duals import zscore_stream

    base = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3]
    vals_b1 = base[:6]
    vals_b2 = base[6:] + [500.0, 10.1]  # outlier after >= 10 priors
    def rows(vals, t0):
        return [
            json.dumps({"k": "m1", "v": v, "ts": f"2026-01-01T00:{t0+i:02d}:00"})
            for i, v in enumerate(vals)
        ]
    events = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        rows(vals_b1, 0),
        rows(vals_b2, 6),
        "k string, v double, ts timestamp",
    )
    out = zscore_stream(events, "k", "v", "ts", threshold=3.0, min_prior=10)
    q = (
        out.writeStream.format("memory")
        .queryName("zscore_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.ts.isoformat(): (r.n_prior, r.z, r.is_anomaly)
        for r in spark.sql("SELECT * FROM zscore_out").collect()
    }
    assert len(got) == len(vals_b1) + len(vals_b2)
    # exactly one anomaly: the 500.0 at minute 11 (11 priors)
    anomalies = [ts for ts, (_, _, flag) in got.items() if flag]
    assert anomalies == ["2026-01-01T00:11:00"]
    assert got["2026-01-01T00:11:00"][0] == 11
    # batch duality: identical z values from the expanding window
    all_rows = [("m1", v, f"2026-01-01T00:{i:02d}:00") for i, v in
                enumerate(vals_b1 + vals_b2)]
    batch = spark.createDataFrame(all_rows, "k string, v double, raw string").select(
        "k", "v", F.col("raw").cast("timestamp").alias("ts")
    )
    got_b = {
        r.ts.isoformat(): (r.n_prior, r.z, r.is_anomaly)
        for r in zscore_stream(batch, "k", "v", "ts", threshold=3.0, min_prior=10).collect()
    }
    assert got_b == got


def test_ivf_ingest_foreach_batch(spark, tmp_path):
    """Streaming inverted-file build: embeddings arriving over two
    micro-batches land cell-partitioned; cell assignment matches the
    batch path, probes are partition-pruned reads, and ivf_topk over the
    read-back index equals ivf_topk over the batch-assembled corpus."""
    import os as _os

    from rapids_and_rivers_spark.operators import similarity as S
    from rapids_and_rivers_spark.sources import load_table
    from rapids_and_rivers_spark.streaming.duals import ivf_ingest_foreach_batch

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    dim = len(emb.select("embedding").first()[0])
    cands = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        S.as_double_array(F.col("embedding")).alias("c_emb"),
    )
    codebook = S.codebook_from_table(S.build_codebook_table(cands, dim=dim, n_cells=8))

    # stream the same vectors in two batches as JSON lines
    rows = cands.collect()
    mid = len(rows) // 2
    def enc(r):
        return json.dumps({"neighbor_id": r.neighbor_id, "c_emb": list(r.c_emb)})
    stream = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [enc(r) for r in rows[:mid]],
        [enc(r) for r in rows[mid:]],
        "neighbor_id long, c_emb array<double>",
    )
    out_dir = str(tmp_path / "ivf")
    q = (
        stream.writeStream.foreachBatch(
            ivf_ingest_foreach_batch(codebook, out_dir)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # (epoch, cell)-partitioned layout on disk: cell pruning still works,
    # epoch level makes replay a dynamic partition overwrite (idempotent)
    epoch_dirs = [d for d in _os.listdir(out_dir) if d.startswith("epoch=")]
    assert epoch_dirs
    assert any(
        c.startswith("cell=")
        for d in epoch_dirs
        for c in _os.listdir(_os.path.join(out_dir, d))
    )
    index = spark.read.parquet(out_dir)
    assert index.count() == len(rows)
    # assignment identical to the batch path
    batch_cells = {
        r.neighbor_id: r.cell
        for r in S.assign_cells(cands, codebook).collect()
    }
    got_cells = {r.neighbor_id: r.cell for r in index.collect()}
    assert got_cells == batch_cells
    # queries over the streamed index == queries over the batch corpus
    qs = emb.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("query_id"),
        S.as_double_array(F.col("embedding")).alias("q_emb"),
    )
    from_index = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(
            qs, index.select("neighbor_id", "c_emb"), dim,
            k=5, n_cells=8, codebook=codebook,
        ).collect()
    }
    from_batch = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(
            qs, cands, dim, k=5, n_cells=8, codebook=codebook
        ).collect()
    }
    assert from_index == from_batch


def test_first_seen_stream_dedups_across_batches(spark, tmp_path):
    """Streaming exact dedup: a fingerprint first seen in batch 1 is
    suppressed when it reappears in batch 2 (state survives the
    micro-batch boundary); the batch twin returns the same first rows."""
    from rapids_and_rivers_spark.streaming.duals import first_seen_stream

    schema = "fp string, doc_id long, ts timestamp"
    rows_b1 = [
        {"fp": "A", "doc_id": 1, "ts": "2026-01-01T00:00:01"},
        {"fp": "A", "doc_id": 2, "ts": "2026-01-01T00:00:00"},  # earlier in SAME batch wins
        {"fp": "B", "doc_id": 3, "ts": "2026-01-01T00:00:02"},
    ]
    rows_b2 = [
        {"fp": "A", "doc_id": 4, "ts": "2026-01-01T00:00:03"},  # dup across batches
        {"fp": "C", "doc_id": 5, "ts": "2026-01-01T00:00:04"},
    ]
    events = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(r) for r in rows_b1],
        [json.dumps(r) for r in rows_b2],
        schema,
    )
    out = first_seen_stream(events, "fp", "ts")
    q = (
        out.writeStream.format("memory")
        .queryName("first_seen")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.fp, r.doc_id) for r in spark.sql("SELECT fp, doc_id FROM first_seen").collect()
    }
    assert got == {("A", 2), ("B", 3), ("C", 5)}
    # batch twin on the union of both batches: 'first' = min ts per fp
    batch = spark.createDataFrame(
        [(r["fp"], r["doc_id"], r["ts"]) for r in rows_b1 + rows_b2],
        "fp string, doc_id long, raw string",
    ).select("fp", "doc_id", F.col("raw").cast("timestamp").alias("ts"))
    got_b = {
        (r.fp, r.doc_id) for r in first_seen_stream(batch, "fp", "ts").collect()
    }
    assert got_b == got


def test_minhash_index_foreach_batch_incremental(spark, tmp_path):
    """Incremental LSH near-dup index: docs streamed over two batches;
    only new docs pay signature cost, candidates come from new-vs-index
    joins, and the union of per-batch verified pairs equals the batch
    minhash_lsh_pairs output on the full corpus — including the
    cross-batch pair (doc 1 in batch 1 ~ doc 20 in batch 2)."""
    from rapids_and_rivers_spark.operators.dedup import minhash_lsh_pairs
    from rapids_and_rivers_spark.streaming.duals import minhash_index_foreach_batch

    body = "the quick brown fox jumps over the lazy dog near the river bank today"
    b1 = [
        {"doc_id": 1, "text": body},
        {"doc_id": 2, "text": body.replace("lazy", "sleepy")},  # near-dup of 1
        {"doc_id": 3, "text": "completely different words about spark windows and state stores here"},
    ]
    b2 = [
        {"doc_id": 20, "text": body.replace("today", "tonight")},  # near-dup of 1/2, CROSS-batch
        {"doc_id": 21, "text": "another unrelated document mentioning joins shuffles and partitions only"},
    ]
    docs = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(d) for d in b1],
        [json.dumps(d) for d in b2],
        "doc_id long, text string",
    )
    index_dir, pairs_dir = str(tmp_path / "idx"), str(tmp_path / "pairs")
    q = (
        docs.writeStream.foreachBatch(
            minhash_index_foreach_batch(index_dir, pairs_dir, threshold=0.3)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from rapids_and_rivers_spark.streaming.duals import read_epoch_table

    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in read_epoch_table(spark, pairs_dir).collect()
    }
    full = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in b1 + b2], "doc_id long, text string"
    )
    expected = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(full, threshold=0.3).collect()
    }
    assert got == expected
    # the cross-batch discovery actually happened
    assert any(a < 20 <= b or a >= 20 > b for a, b, _ in got)


def test_kmv_distinct_stream_matches_batch_sketch(spark, tmp_path):
    """Streaming KMV: the bottom-k state merges across micro-batches and
    the final estimate equals the batch kmv_sketch over everything seen
    — both in the exact-fallback regime (< k distinct) and the sketched
    regime (> k distinct)."""
    from rapids_and_rivers_spark.streaming.duals import kmv_distinct_stream

    b1 = [{"k": "small", "v": f"s{i}"} for i in range(10)] + [
        {"k": "big", "v": f"b{i}"} for i in range(80)
    ]
    # batch 2 repeats some values (distinct semantics) and adds new ones
    b2 = [{"k": "small", "v": f"s{i}"} for i in range(5, 15)] + [
        {"k": "big", "v": f"b{i}"} for i in range(60, 140)
    ]
    events = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(r) for r in b1],
        [json.dumps(r) for r in b2],
        "k string, v string",
    )
    out = kmv_distinct_stream(events, "k", "v", k=64)
    q = (
        out.writeStream.format("memory")
        .queryName("kmv_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode: take the LAST row per key (batch 2's refresh)
    rows = spark.sql("SELECT * FROM kmv_out").collect()
    final = {}
    for r in rows:
        final[r.key] = (r.n_seen, r.uk, r.estimate)
    batch = spark.createDataFrame(
        [(r["k"], r["v"]) for r in b1 + b2], "k string, v string"
    )
    expected = {
        r.key: (r.n_seen, r.uk, r.estimate)
        for r in kmv_distinct_stream(batch, "k", "v", k=64).collect()
    }
    assert final == expected
    # 'small' has 15 distinct (< k): exact fallback
    assert final["small"] == (15, None, 15.0)
    # 'big' has 140 distinct (> k): sketched estimate within KMV error band
    n_seen, uk, est = final["big"]
    assert n_seen == 64 and uk is not None and 140 * 0.6 < est < 140 * 1.4


def test_streaming_pretrain_ingest_composition(spark, tmp_path):
    """SURVEY §7.1 duality at PIPELINE level: quality screen (stateless
    Column exprs run unchanged on the stream) -> first_seen_stream exact
    dedup on the content fingerprint (stateful, cross-batch) -> RAG
    chunking (stateless) — the streaming ingest counterpart of the batch
    pipeline_pretrain_corpus composition, checked against the same
    stages composed in batch over the union of both micro-batches."""
    from rapids_and_rivers_spark.operators.text import chunk_documents
    from rapids_and_rivers_spark.streaming.duals import first_seen_stream

    good = "the quick brown fox jumps over the lazy dog again and again"
    b1 = [
        {"doc_id": 1, "text": good},
        {"doc_id": 2, "text": "x"},  # too short -> quality-dropped
        {"doc_id": 3, "text": good + " extended version here"},
    ]
    b2 = [
        {"doc_id": 4, "text": good},  # exact dup of doc 1 -> dedup-dropped
        {"doc_id": 5, "text": "the slow green turtle walks under the warm sun today"},
    ]
    docs = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(d) for d in b1],
        [json.dumps(d) for d in b2],
        "doc_id long, text string",
    )

    def stages(df):
        toks = F.split(F.trim(F.col("text")), r"\s+")
        quality = df.filter(F.size(toks) >= 5).withColumn("fp", F.md5("text"))
        deduped = first_seen_stream(
            quality.select("fp", "doc_id", "text"), "fp", "doc_id"
        )
        return chunk_documents(deduped, chunk_size=6, stride=4)

    q = (
        stages(docs)
        .writeStream.format("memory")
        .queryName("ingest_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.doc_id, r.chunk_idx, r.chunk_text)
        for r in spark.sql("SELECT * FROM ingest_out").collect()
    }
    batch = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in b1 + b2], "doc_id long, text string"
    )
    expected = {
        (r.doc_id, r.chunk_idx, r.chunk_text) for r in stages(batch).collect()
    }
    assert got == expected
    surviving_docs = {d for d, _, _ in got}
    assert surviving_docs == {1, 3, 5}  # 2 quality-dropped, 4 dedup-dropped


def test_first_seen_state_survives_query_restart(spark, tmp_path):
    """Stronger than cross-batch: the state store must survive a full
    query STOP and a brand-new query instance on the same checkpoint —
    the Kubernetes pod-restart scenario. A fingerprint seen before the
    restart stays suppressed after it."""
    from rapids_and_rivers_spark.streaming.duals import first_seen_stream

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")
    schema = "fp string, doc_id long, ts timestamp"

    def run_pass():
        events = (
            spark.readStream.format("text")
            .load(src)
            .select(F.from_json("value", schema).alias("m"))
            .select("m.*")
        )
        # parquet sink: the memory sink does not support checkpoint
        # recovery, which is the point of this test
        q = (
            first_seen_stream(events, "fp", "ts")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_lines(
        src,
        [
            json.dumps({"fp": "A", "doc_id": 1, "ts": "2026-01-01T00:00:00"}),
            json.dumps({"fp": "B", "doc_id": 2, "ts": "2026-01-01T00:00:01"}),
        ],
        name="a.txt",
    )
    run_pass()  # first query instance: emits A(1), B(2), then STOPS
    write_lines(
        src,
        [
            json.dumps({"fp": "A", "doc_id": 3, "ts": "2026-01-01T00:00:02"}),
            json.dumps({"fp": "C", "doc_id": 4, "ts": "2026-01-01T00:00:03"}),
        ],
        name="b.txt",
    )
    run_pass()  # NEW query instance, same checkpoint: A must stay suppressed
    got = {
        (r.fp, r.doc_id)
        for r in spark.read.parquet(out_dir).select("fp", "doc_id").collect()
    }
    assert got == {("A", 1), ("B", 2), ("C", 4)}


def test_bloom_prune_foreach_batch(spark, tmp_path):
    """Per-micro-batch Bloom-pruned join: the bitmap is rebuilt from the
    dim snapshot each trigger; the appended output over two fact batches
    equals the batch bloom_filter_join over the full fact table."""
    from rapids_and_rivers_spark.operators.bloomjoin import bloom_filter_join
    from rapids_and_rivers_spark.streaming.duals import bloom_prune_foreach_batch

    dim = spark.createDataFrame(
        [(1, "BUILDING"), (3, "BUILDING")], "custkey long, seg string"
    )
    b1 = [{"order_id": 10, "cust": 1}, {"order_id": 11, "cust": 2}]
    b2 = [{"order_id": 12, "cust": 3}, {"order_id": 13, "cust": 4}]
    facts = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(d) for d in b1],
        [json.dumps(d) for d in b2],
        "order_id long, cust long",
    )
    out_dir = str(tmp_path / "out")
    q = (
        facts.writeStream.foreachBatch(
            bloom_prune_foreach_batch(
                dim,
                "cust",
                "custkey",
                out_dir,
                expected_items=10,
                select=["order_id", "cust", "seg"],
            )
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.order_id, r.cust, r.seg)
        for r in spark.read.parquet(out_dir).collect()
    }
    full = spark.createDataFrame(
        [(d["order_id"], d["cust"]) for d in b1 + b2], "order_id long, cust long"
    )
    expected = {
        (r.order_id, r.cust, r.seg)
        for r in bloom_filter_join(
            full, dim, "cust", "custkey", expected_items=10
        ).select("order_id", "cust", "seg").collect()
    }
    assert got == expected == {(10, 1, "BUILDING"), (12, 3, "BUILDING")}


def test_sequence_by_key_state_survives_batches(spark, tmp_path):
    """transformWithStateInPandas: per-key sequence numbers continue
    across micro-batches from the checkpointed ValueState, and the batch
    fallback (window) gives identical output."""
    from rapids_and_rivers_spark.streaming.stateful import sequence_by_key

    src = str(tmp_path / "in")
    write_lines(
        src,
        [
            json.dumps({"k": "a", "ts": "2026-01-01T00:00:00"}),
            json.dumps({"k": "a", "ts": "2026-01-01T00:00:01"}),
            json.dumps({"k": "b", "ts": "2026-01-01T00:00:02"}),
        ],
        name="a.txt",
    )
    write_lines(
        src,
        [
            json.dumps({"k": "a", "ts": "2026-01-01T00:00:03"}),
            json.dumps({"k": "b", "ts": "2026-01-01T00:00:04"}),
        ],
        name="b.txt",
    )
    import os

    now = os.path.getmtime(os.path.join(src, "a.txt"))
    os.utime(os.path.join(src, "a.txt"), (now - 100, now - 100))
    os.utime(os.path.join(src, "b.txt"), (now + 100, now + 100))
    events = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(src)
        .select(F.from_json("value", "k string, ts timestamp").alias("m"))
        .select("m.*")
    )
    seq = sequence_by_key(events, "k", "ts")
    q = (
        seq.writeStream.format("memory")
        .queryName("seq_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.k, r.ts.isoformat(), r.seq)
        for r in spark.sql("SELECT * FROM seq_out").collect()
    }
    expected = {
        ("a", "2026-01-01T00:00:00", 0),
        ("a", "2026-01-01T00:00:01", 1),
        ("a", "2026-01-01T00:00:03", 2),  # continued from state in batch 2
        ("b", "2026-01-01T00:00:02", 0),
        ("b", "2026-01-01T00:00:04", 1),
    }
    assert got == expected
    # batch duality: same rows via the window fallback
    batch = spark.createDataFrame(
        [("a", "2026-01-01T00:00:00"), ("a", "2026-01-01T00:00:01"),
         ("a", "2026-01-01T00:00:03"), ("b", "2026-01-01T00:00:02"),
         ("b", "2026-01-01T00:00:04")],
        "k string, ts string",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    got_b = {
        (r.k, r.ts.isoformat(), r.seq)
        for r in sequence_by_key(batch, "k", "ts").collect()
    }
    assert got_b == expected


def test_tfidf_foreach_batch_epoch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying an epoch after a crash
    must not double-append term frequencies or double-count df/n_docs.
    Drives the stage function directly with a repeated epoch id — the
    exact contract Structured Streaming gives foreachBatch (ADVICE r3)."""
    from rapids_and_rivers_spark.streaming.duals import (
        tfidf_foreach_batch,
        tfidf_from_stats,
    )

    state_dir = str(tmp_path / "stats")
    stage = tfidf_foreach_batch(state_dir)
    b1 = spark.createDataFrame(
        [(1, "spark streams data data"), (2, "spark joins data")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "streams window state state")], "doc_id long, text string"
    )
    stage(b1, 0)
    stage(b2, 1)
    once = {
        (r.doc_id, r.token, r.tf, r.df, r.tfidf)
        for r in tfidf_from_stats(spark, state_dir, top_k=3).collect()
    }
    # crash-replay of epoch 1 (same batch, same epoch id)
    stage(b2, 1)
    replayed = {
        (r.doc_id, r.token, r.tf, r.df, r.tfidf)
        for r in tfidf_from_stats(spark, state_dir, top_k=3).collect()
    }
    assert replayed == once
    # n_docs did not double-count doc 3
    from rapids_and_rivers_spark.streaming.duals import _latest_version

    n = spark.read.parquet(_latest_version(state_dir, "n_docs")).first()["n"]
    assert n == 3


def test_minhash_index_foreach_batch_epoch_replay_is_idempotent(spark, tmp_path):
    """Replaying an epoch must not append duplicate band/shingle rows
    (which would multiply candidates and verified pairs) — per-epoch
    overwrite makes the index and pairs tables replay-stable (ADVICE r3)."""
    from rapids_and_rivers_spark.streaming.duals import (
        minhash_index_foreach_batch,
        read_epoch_table,
    )

    body = "the quick brown fox jumps over the lazy dog near the river bank today"
    index_dir, pairs_dir = str(tmp_path / "idx"), str(tmp_path / "pairs")
    stage = minhash_index_foreach_batch(index_dir, pairs_dir, threshold=0.3)
    b1 = spark.createDataFrame(
        [(1, body), (2, body.replace("lazy", "sleepy"))], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(20, body.replace("today", "tonight"))], "doc_id long, text string"
    )
    stage(b1, 0)
    stage(b2, 1)
    pairs_once = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in read_epoch_table(spark, pairs_dir).collect()
    )
    bands_once = read_epoch_table(spark, f"{index_dir}/bands").count()
    # crash-replay of epoch 1
    stage(b2, 1)
    pairs_replayed = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in read_epoch_table(spark, pairs_dir).collect()
    )
    assert pairs_replayed == pairs_once  # no multiplied pair rows
    assert read_epoch_table(spark, f"{index_dir}/bands").count() == bands_once


def test_semdedup_foreach_batch_matches_batch_semantic_dedup(spark, tmp_path):
    """Streaming SemDeDup: embeddings ingested over two micro-batches;
    new docs join only their block of the accumulated index, cross-batch
    near-dup pairs are discovered (index state survives the batch
    boundary), and the derived keep-list equals the batch semantic_dedup
    over the full corpus."""
    from rapids_and_rivers_spark.operators.dedup import semantic_dedup
    from rapids_and_rivers_spark.sources import load_table
    from rapids_and_rivers_spark.streaming.duals import (
        read_epoch_table,
        semdedup_foreach_batch,
        semdedup_keep_list,
    )

    from rapids_and_rivers_spark.operators.dedup import embedding_neardup_pairs

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    )
    rows = emb.collect()
    # pick the threshold from the data (5th-highest blocked cosine) so the
    # test is robust to the synthetic corpus's similarity distribution,
    # then split so a KNOWN near-dup pair spans the two micro-batches:
    # batch 2 gets the second member of the first qualifying pair
    top = (
        embedding_neardup_pairs(emb, threshold=-1.0)
        .orderBy(F.desc("cos"))
        .limit(5)
        .collect()
    )
    assert len(top) == 5, "sf0.001 embeddings must contain blocked pairs"
    threshold = top[-1].cos
    a_pair = top[0]
    b2_rows = [r for r in rows if r.vec_id == a_pair.id_b]
    b1_rows = [r for r in rows if r.vec_id != a_pair.id_b]

    def enc(r):
        return json.dumps(
            {"vec_id": r.vec_id, "embedding": list(r.embedding), "label": r.label}
        )

    stream = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [enc(r) for r in b1_rows],
        [enc(r) for r in b2_rows],
        "vec_id long, embedding array<double>, label string",
    )
    index_dir = str(tmp_path / "semdedup")
    q = (
        stream.writeStream.foreachBatch(
            semdedup_foreach_batch(index_dir, threshold=threshold)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r.vec_id, r.rep_id, r.is_kept)
        for r in semdedup_keep_list(spark, index_dir).collect()
    }
    expected = {
        (r.vec_id, r.rep_id, r.is_kept)
        for r in semantic_dedup(emb, threshold=threshold).collect()
    }
    assert got == expected and len(got) == len(rows)
    # the incremental index actually found the CROSS-batch pair (state
    # from batch 1 joined against batch 2's new doc)
    b1_ids = {r.vec_id for r in b1_rows}
    pairs = read_epoch_table(spark, f"{index_dir}/pairs").collect()
    assert any(
        (p.id_a in b1_ids) != (p.id_b in b1_ids) for p in pairs
    ), "expected at least one pair spanning the two micro-batches"


def test_semdedup_epoch_replay_is_idempotent(spark, tmp_path):
    """Replaying a SemDeDup epoch must not duplicate index docs or pair
    rows (per-epoch overwrite contract)."""
    from rapids_and_rivers_spark.streaming.duals import (
        read_epoch_table,
        semdedup_foreach_batch,
        semdedup_keep_list,
    )

    index_dir = str(tmp_path / "idx")
    stage = semdedup_foreach_batch(index_dir, threshold=0.9)
    b1 = spark.createDataFrame(
        [(1, [1.0, 0.0], "x"), (2, [0.99, 0.05], "x")],
        "vec_id long, embedding array<double>, label string",
    )
    b2 = spark.createDataFrame(
        [(3, [1.0, 0.01], "x"), (4, [0.0, 1.0], "x")],
        "vec_id long, embedding array<double>, label string",
    )
    stage(b1, 0)
    stage(b2, 1)
    keep_once = sorted(
        (r.vec_id, r.rep_id, r.is_kept)
        for r in semdedup_keep_list(spark, index_dir).collect()
    )
    docs_once = read_epoch_table(spark, f"{index_dir}/docs").count()
    stage(b2, 1)  # crash-replay
    keep_replayed = sorted(
        (r.vec_id, r.rep_id, r.is_kept)
        for r in semdedup_keep_list(spark, index_dir).collect()
    )
    assert keep_replayed == keep_once
    assert read_epoch_table(spark, f"{index_dir}/docs").count() == docs_once
    # 1,2,3 are mutual near-dups (rep 1); 4 is alone
    assert keep_once == [(1, 1, True), (2, 1, False), (3, 1, False), (4, 4, True)]


def test_decontaminate_foreach_batch_matches_batch_gate(spark, tmp_path):
    """Streaming decontamination gate: corpus docs screened on ingest
    against the static benchmark shingle table; union of per-batch rows
    equals the batch contamination_check over the same corpus."""
    from rapids_and_rivers_spark.operators.dedup import contamination_check
    from rapids_and_rivers_spark.sources import load_table
    from rapids_and_rivers_spark.streaming.duals import (
        decontaminate_foreach_batch,
        read_epoch_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    rows = corpus.collect()
    mid = len(rows) // 2

    def enc(r):
        return json.dumps({"doc_id": r.doc_id, "text": r.text})

    stream = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [enc(r) for r in rows[:mid]],
        [enc(r) for r in rows[mid:]],
        "doc_id long, text string",
    )
    out_dir = str(tmp_path / "decon")
    stage = decontaminate_foreach_batch(bench, out_dir, threshold=0.5)
    q = (
        stream.writeStream.foreachBatch(stage)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.id, r.n_shingles, r.n_hit, r.overlap_frac, r.contaminated)
        for r in read_epoch_table(spark, out_dir).collect()
    }
    expected = {
        (r.id, r.n_shingles, r.n_hit, r.overlap_frac, r.contaminated)
        for r in contamination_check(corpus, bench, threshold=0.5).collect()
    }
    assert got == expected and len(got) == len(rows)
    # the gate actually measured overlap: common 3-gram shingles between
    # corpus and bench docs exist at sf0.001, so some doc must have hits
    assert any(n_hit > 0 for _, _, n_hit, _, _ in got)


def test_symspell_index_foreach_batch_matches_batch_join(spark, tmp_path):
    """Streaming SymSpell fuzzy index: strings over two micro-batches;
    cross-batch edit-distance-1 pairs found via the accumulated variant
    index; union of per-epoch pairs equals the batch symspell_join."""
    from rapids_and_rivers_spark.operators.fuzzy import symspell_join
    from rapids_and_rivers_spark.streaming.duals import (
        read_epoch_table,
        symspell_index_foreach_batch,
    )

    b1 = ["anderson", "andersen", "smith", "jonson"]
    b2 = ["johnson", "smyth", "anderssen", "baker"]  # johnson~jonson cross-batch
    stream = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps({"name": s}) for s in b1],
        [json.dumps({"name": s}) for s in b2],
        "name string",
    )
    index_dir, pairs_dir = str(tmp_path / "idx"), str(tmp_path / "pairs")
    q = (
        stream.writeStream.foreachBatch(
            symspell_index_foreach_batch(index_dir, pairs_dir, col="name")
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.s_a, r.s_b, r.dist)
        for r in read_epoch_table(spark, pairs_dir)
        .dropDuplicates(["s_a", "s_b"])
        .collect()
    }
    full = spark.createDataFrame([(s,) for s in b1 + b2], "name string")
    expected = {
        (r.s_a, r.s_b, r.dist) for r in symspell_join(full, "name").collect()
    }
    assert got == expected
    assert ("johnson", "jonson") in {(a, b) for a, b, _ in got} or (
        "jonson",
        "johnson",
    ) in {(a, b) for a, b, _ in got}  # the cross-batch pair was found


def test_symspell_index_epoch_replay_is_idempotent(spark, tmp_path):
    from rapids_and_rivers_spark.streaming.duals import (
        read_epoch_table,
        symspell_index_foreach_batch,
    )

    index_dir, pairs_dir = str(tmp_path / "idx"), str(tmp_path / "pairs")
    stage = symspell_index_foreach_batch(index_dir, pairs_dir, col="name")
    b1 = spark.createDataFrame([("smith",), ("smyth",)], "name string")
    b2 = spark.createDataFrame([("smithe",), ("baker",)], "name string")
    stage(b1, 0)
    stage(b2, 1)
    once = sorted(
        (r.s_a, r.s_b, r.dist)
        for r in read_epoch_table(spark, pairs_dir)
        .dropDuplicates(["s_a", "s_b"])
        .collect()
    )
    n_var = read_epoch_table(spark, f"{index_dir}/variants").count()
    stage(b2, 1)  # crash-replay
    replayed = sorted(
        (r.s_a, r.s_b, r.dist)
        for r in read_epoch_table(spark, pairs_dir)
        .dropDuplicates(["s_a", "s_b"])
        .collect()
    )
    assert replayed == once
    assert read_epoch_table(spark, f"{index_dir}/variants").count() == n_var
    # smith~smyth (epoch 0), smith~smithe + smyth? dist2 no: expected pairs
    assert ("smith", "smithe") in {(a, b) for a, b, _ in once}
    assert ("smith", "smyth") in {(a, b) for a, b, _ in once}


def test_spans_index_foreach_batch_matches_batch_operator(spark, tmp_path):
    """Streaming shared-substring index: docs over two micro-batches; the
    cross-batch verbatim quote is found via the accumulated gram index;
    union of per-epoch runs equals the batch shared_span_runs output."""
    from rapids_and_rivers_spark.operators.dedup import shared_span_runs
    from rapids_and_rivers_spark.streaming.duals import (
        read_epoch_table,
        spans_index_foreach_batch,
    )

    quote = "alpha beta gamma delta epsilon zeta eta theta iota"
    b1 = [
        {"doc_id": 1, "text": f"intro words here {quote} trailing bits"},
        {"doc_id": 2, "text": "unrelated first batch content entirely different words"},
    ]
    b2 = [
        {"doc_id": 10, "text": f"{quote} completely new ending text"},  # cross-batch
        {"doc_id": 11, "text": "more unrelated filler that matches nothing else"},
    ]
    stream = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(d) for d in b1],
        [json.dumps(d) for d in b2],
        "doc_id long, text string",
    )
    index_dir, runs_dir = str(tmp_path / "idx"), str(tmp_path / "runs")
    q = (
        stream.writeStream.foreachBatch(
            spans_index_foreach_batch(index_dir, runs_dir, k=6, min_span=7)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.id_a, r.id_b, r.a_start, r.b_start, r.span_tokens)
        for r in read_epoch_table(spark, runs_dir)
        .dropDuplicates(["id_a", "id_b", "a_start", "b_start"])
        .collect()
    }
    full = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in b1 + b2], "doc_id long, text string"
    )
    expected = {
        (r.id_a, r.id_b, r.a_start, r.b_start, r.span_tokens)
        for r in shared_span_runs(full, k=6, min_span=7).collect()
    }
    assert got == expected
    assert (1, 10, 4, 1, 9) in got  # the cross-batch quote, maximal run


def test_spans_index_epoch_replay_is_idempotent(spark, tmp_path):
    from rapids_and_rivers_spark.streaming.duals import (
        read_epoch_table,
        spans_index_foreach_batch,
    )

    quote = "one two three four five six seven eight"
    index_dir, runs_dir = str(tmp_path / "idx"), str(tmp_path / "runs")
    stage = spans_index_foreach_batch(index_dir, runs_dir, k=6, min_span=7)
    b1 = spark.createDataFrame([(1, f"prefix {quote}")], "doc_id long, text string")
    b2 = spark.createDataFrame([(2, f"{quote} suffix")], "doc_id long, text string")
    stage(b1, 0)
    stage(b2, 1)
    once = sorted(
        (r.id_a, r.id_b, r.a_start, r.b_start, r.span_tokens)
        for r in read_epoch_table(spark, runs_dir).collect()
    )
    n_grams = read_epoch_table(spark, f"{index_dir}/grams").count()
    stage(b2, 1)  # crash-replay
    replayed = sorted(
        (r.id_a, r.id_b, r.a_start, r.b_start, r.span_tokens)
        for r in read_epoch_table(spark, runs_dir).collect()
    )
    assert replayed == once and len(once) == 1
    assert read_epoch_table(spark, f"{index_dir}/grams").count() == n_grams


def test_hll_distinct_stream_matches_batch_sketch(spark, tmp_path):
    """Streaming HLL: the dense register state max-merges across
    micro-batches and the final estimate equals the batch
    hll_registers+hll_estimate over everything seen — in both the
    linear-counting (small) and raw-estimator (big) regimes."""
    from rapids_and_rivers_spark.streaming.duals import hll_distinct_stream

    b1 = [{"k": "small", "v": f"s{i}"} for i in range(8)] + [
        {"k": "big", "v": f"b{i}"} for i in range(900)
    ]
    b2 = [{"k": "small", "v": f"s{i}"} for i in range(4, 12)] + [
        {"k": "big", "v": f"b{i}"} for i in range(600, 1500)
    ]
    events = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(r) for r in b1],
        [json.dumps(r) for r in b2],
        "k string, v string",
    )
    out = hll_distinct_stream(events, "k", "v", p=6)
    q = (
        out.writeStream.format("memory")
        .queryName("hll_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM hll_out").collect()
    final = {}
    for r in rows:
        final[r.key] = (r.n_registers, r.hll_estimate)
    batch = spark.createDataFrame(
        [(r["k"], r["v"]) for r in b1 + b2], "k string, v string"
    )
    expected = {
        r.key: (r.n_registers, r.hll_estimate)
        for r in hll_distinct_stream(batch, "k", "v", p=6).collect()
    }
    assert final == expected
    # 'small': 12 distinct -> linear counting keeps it near-exact
    assert 6 <= final["small"][1] <= 18
    # 'big': 1500 distinct -> raw estimator within the 3-sigma band
    assert 1500 * 0.6 < final["big"][1] < 1500 * 1.4


def test_cms_stream_matches_batch_sketch(spark, tmp_path):
    """Streaming CMS: native streaming aggregation keyed by (row, col);
    the cell table after both micro-batches equals the batch cms_build
    over everything seen, and point estimates keep the one-sided
    guarantee through cms_estimate."""
    from rapids_and_rivers_spark.operators.sketch import cms_build, cms_estimate
    from rapids_and_rivers_spark.streaming.duals import cms_stream

    b1 = [{"k": "hot"}] * 60 + [{"k": f"k{i}"} for i in range(30)]
    b2 = [{"k": "hot"}] * 40 + [{"k": f"k{i}"} for i in range(20, 50)]
    events = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(r) for r in b1],
        [json.dumps(r) for r in b2],
        "k string",
    )
    out = cms_stream(events, "k", width=64, depth=4)
    q = (
        out.writeStream.format("memory")
        .queryName("cms_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = {}
    for r in spark.sql("SELECT * FROM cms_out").collect():
        final[(r.row, r.col)] = r.cnt  # update mode: last write per cell wins
    batch = spark.createDataFrame([(r["k"],) for r in b1 + b2], "k string")
    expected = {
        (r.row, r.col): r.cnt
        for r in cms_build(batch, "k", width=64, depth=4).collect()
    }
    assert final == expected
    # the streamed sketch answers point queries with the CMS guarantee
    sketch = spark.createDataFrame(
        [(rc[0], rc[1], c) for rc, c in final.items()], "row int, col int, cnt long"
    )
    keys = spark.createDataFrame([("hot",), ("k25",), ("absent",)], "k string")
    est = {
        r.k: r.est
        for r in cms_estimate(keys, sketch, "k", width=64, depth=4).collect()
    }
    assert est["hot"] >= 100 and est["k25"] >= 2


def test_dsir_gate_foreach_batch_matches_batch_scoring(spark, tmp_path):
    """Streaming DSIR gate: docs scored on ingest against the FROZEN
    offline ratio table; union of per-batch rows equals dsir_score_with
    over the same docs with the same table, and novel tokens take the
    default ratio instead of being dropped."""
    from rapids_and_rivers_spark.operators.selection import (
        dsir_ratio_table,
        dsir_score_with,
    )
    from rapids_and_rivers_spark.streaming.duals import (
        dsir_gate_foreach_batch,
        read_epoch_table,
    )

    pool = spark.createDataFrame(
        [(i, "alpha beta gamma delta", True) for i in range(4)]
        + [(10 + i, "zebra yak xylo walrus", False) for i in range(4)],
        "doc_id long, text string, tgt boolean",
    )
    arriving = [
        {"doc_id": 100, "text": "alpha beta gamma"},          # target-like
        {"doc_id": 101, "text": "zebra yak xylo"},            # raw-like
        {"doc_id": 102, "text": "neverseen tokens entirely"}, # novel -> default lr
    ]
    stream = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(arriving[0])],
        [json.dumps(r) for r in arriving[1:]],
        "doc_id long, text string",
    )
    out_dir = str(tmp_path / "dsir")
    stage = dsir_gate_foreach_batch(
        pool, F.col("tgt"), out_dir, buckets=256, min_score=0.0
    )
    q = (
        stream.writeStream.foreachBatch(stage)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.doc_id: (r.n_tokens, r.dsir_score, r.selected)
        for r in read_epoch_table(spark, out_dir).collect()
    }
    ratios, default_lr = dsir_ratio_table(pool, F.col("tgt"), buckets=256)
    batch_docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in arriving], "doc_id long, text string"
    )
    expected = {
        r.doc_id: (r.n_tokens, r.dsir_score, r.dsir_score >= 0.0)
        for r in dsir_score_with(batch_docs, ratios, default_lr, buckets=256).collect()
    }
    assert got == expected
    # gate verdicts: target-like selected, raw-like rejected
    assert got[100][2] is True and got[101][2] is False
    # the novel doc was scored (via default_lr), not dropped
    assert 102 in got and got[102][0] == 3


def test_transitions_stream_matches_batch_lag(spark, tmp_path):
    """Streaming transition pairs: the last-state-per-key state bridges
    micro-batch boundaries, so the union of per-batch pairs equals the
    batch lag() walk over everything — including the pair formed ACROSS
    the batch split."""
    from rapids_and_rivers_spark.streaming.duals import transitions_stream

    b1 = [
        {"k": "u1", "s": "view", "ts": 1},
        {"k": "u1", "s": "click", "ts": 2},
        {"k": "u2", "s": "signup", "ts": 1},
    ]
    b2 = [
        {"k": "u1", "s": "purchase", "ts": 3},  # pairs with batch-1 'click'
        {"k": "u2", "s": "view", "ts": 2},      # pairs with batch-1 'signup'
        {"k": "u3", "s": "error", "ts": 1},     # first event: no pair
    ]
    events = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(r) for r in b1],
        [json.dumps(r) for r in b2],
        "k string, s string, ts long",
    )
    out = transitions_stream(events, "k", "s", "ts")
    q = (
        out.writeStream.format("memory")
        .queryName("trans_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.key, r.prev_state, r.state)
        for r in spark.sql("SELECT * FROM trans_out").collect()
    )
    batch = spark.createDataFrame(
        [(r["k"], r["s"], r["ts"]) for r in b1 + b2], "k string, s string, ts long"
    )
    expected = sorted(
        (r.key, r.prev_state, r.state)
        for r in transitions_stream(batch, "k", "s", "ts").collect()
    )
    assert got == expected
    assert ("u1", "click", "purchase") in got   # cross-batch pair
    assert not any(k == "u3" for k, _, _ in got)


def test_cdc_apply_foreach_batch_matches_batch_merge(spark, tmp_path):
    """Streaming CDC MERGE: two micro-batches of changes fold into
    epoch-versioned snapshots; the final snapshot equals the batch
    apply_changes of both change sets in sequence, and intermediate
    snapshots are immutable (replay-safe parent selection)."""
    from rapids_and_rivers_spark.operators.cdc import apply_changes
    from rapids_and_rivers_spark.streaming.duals import (
        cdc_apply_foreach_batch,
        read_latest_snapshot,
    )

    b1 = [
        {"k": 1, "v": "a", "seq": 1, "op": "U"},
        {"k": 2, "v": "b", "seq": 1, "op": "U"},
        {"k": 3, "v": "c", "seq": 1, "op": "U"},
    ]
    b2 = [
        {"k": 2, "v": "b2", "seq": 2, "op": "U"},   # replace
        {"k": 3, "v": "xx", "seq": 2, "op": "D"},   # delete
        {"k": 4, "v": "d", "seq": 2, "op": "U"},    # insert
    ]
    stream = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(r) for r in b1],
        [json.dumps(r) for r in b2],
        "k long, v string, seq int, op string",
    )
    base_dir = str(tmp_path / "table")
    stage = cdc_apply_foreach_batch(base_dir, ["k"], "seq")
    q = (
        stream.writeStream.foreachBatch(stage)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.k: r.v for r in read_latest_snapshot(spark, base_dir).collect()}
    c1 = spark.createDataFrame(
        [(r["k"], r["v"], r["seq"], r["op"]) for r in b1],
        "k long, v string, seq int, op string",
    )
    c2 = spark.createDataFrame(
        [(r["k"], r["v"], r["seq"], r["op"]) for r in b2],
        "k long, v string, seq int, op string",
    )
    empty = spark.createDataFrame([], "k long, v string")
    want = {
        r.k: r.v
        for r in apply_changes(
            apply_changes(empty, c1, ["k"], "seq"), c2, ["k"], "seq"
        ).collect()
    }
    assert got == want == {1: "a", 2: "b2", 4: "d"}
    # epoch snapshots are separate immutable dirs
    import os as _os

    snaps = sorted(
        n for n in _os.listdir(base_dir) if n.startswith("snap_v")
    )
    assert len(snaps) == 2


def test_dq_gate_foreach_batch_flags_corrupt_batch(spark, tmp_path):
    """Streaming DQ gate: a clean batch passes, the corrupted batch's
    epoch verdict fails — corruption attributed to its delivery."""
    from rapids_and_rivers_spark.operators import validation as V
    from rapids_and_rivers_spark.streaming.duals import (
        dq_gate_foreach_batch,
        read_epoch_table,
    )

    b1 = [{"id": 1, "v": 10.0}, {"id": 2, "v": 20.0}]
    b2 = [{"id": 3, "v": 30.0}, {"id": 3, "v": -99.0}]  # dup key + range
    stream = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(r) for r in b1],
        [json.dumps(r) for r in b2],
        "id long, v double",
    )

    def checks(df):
        return [
            V.check_unique(df, ["id"], "batch_id_unique"),
            V.check_range(df, "v", 0, 100, "v_in_range"),
        ]

    out_dir = str(tmp_path / "dq")
    q = (
        stream.writeStream.foreachBatch(dq_gate_foreach_batch(checks, out_dir))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = read_epoch_table(spark, out_dir).collect()
    verdicts = {(r.epoch, r.check): r.passed for r in rows}
    assert verdicts[(0, "batch_id_unique")] and verdicts[(0, "v_in_range")]
    assert not verdicts[(1, "batch_id_unique")]
    assert not verdicts[(1, "v_in_range")]


def test_ahash_signatures_runs_unchanged_on_stream(spark, tmp_path):
    """Image aHash is pure mapInPandas — the SAME function runs on a
    streaming DataFrame (the chunk_documents duality for the image
    path), and per-batch signatures equal the batch run."""
    from rapids_and_rivers_spark.operators import multimodal as M

    ids = list(range(12))
    payloads = M.encode_bmp_batch(ids, width=15, height=9)
    rows = [(i, bytearray(p)) for i, p in zip(ids, payloads)]
    batch_df = spark.createDataFrame(rows, "doc_id long, payload binary")
    src = str(tmp_path / "in")
    batch_df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, payload binary").parquet(src)
    q = (
        M.ahash_signatures(stream)
        .writeStream.format("memory")
        .queryName("ahash_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.sql("SELECT * FROM ahash_out").collect()))
    want = sorted(map(tuple, M.ahash_signatures(batch_df).collect()))
    assert got == want and len(got) == 12


def test_attribution_stream_matches_batch_join(spark, tmp_path):
    """Streaming linear attribution: touches held in keyed state credit
    later purchases across micro-batch boundaries; with time-ordered
    batches the emitted credits equal the batch join dual bit-for-bit
    (multiply-then-round contract)."""
    from rapids_and_rivers_spark.streaming.duals import attribution_stream

    schema = "user string, event_id long, ts timestamp, event_type string, value double"
    b1 = [
        {"user": "u1", "event_id": 1, "ts": "2026-01-01T00:00:00", "event_type": "click", "value": None},
        {"user": "u1", "event_id": 2, "ts": "2026-01-01T01:00:00", "event_type": "view", "value": None},
        {"user": "u1", "event_id": 3, "ts": "2026-01-01T02:00:00", "event_type": "purchase", "value": 90.0},
        {"user": "u2", "event_id": 4, "ts": "2026-01-01T00:30:00", "event_type": "click", "value": None},
    ]
    # batch 2: u2 purchase credits the batch-1 click (state crossed the
    # boundary); a touch OUTSIDE the 3-day window must not be credited
    b2 = [
        {"user": "u2", "event_id": 5, "ts": "2026-01-02T00:00:00", "event_type": "purchase", "value": 50.0},
        {"user": "u1", "event_id": 6, "ts": "2026-01-06T00:00:00", "event_type": "purchase", "value": 10.0},
    ]
    events = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(r) for r in b1],
        [json.dumps(r) for r in b2],
        schema,
    )
    out = attribution_stream(events, days=3)
    q = (
        out.writeStream.format("memory")
        .queryName("attr_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user, r.p_id, r.channel, r.day): (r.n, r.credit)
        for r in spark.sql("SELECT * FROM attr_out").collect()
    }
    batch_df = spark.createDataFrame(
        [
            (r["user"], r["event_id"], r["ts"].replace("T", " "), r["event_type"], r["value"])
            for r in b1 + b2
        ],
        "user string, event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    expected = {
        (r.user, r.p_id, r.channel, r.day): (r.n, r.credit)
        for r in attribution_stream(batch_df, days=3).collect()
    }
    assert got == expected
    # u1 purchase splits 90 across click+view; event 6 is outside horizon
    assert got[("u1", 3, "click", "2026-01-01")] == (1, 45.0)
    assert got[("u1", 3, "view", "2026-01-01")] == (1, 45.0)
    assert got[("u2", 5, "click", "2026-01-01")] == (1, 50.0)
    assert not any(k[1] == 6 for k in got)


def test_attribution_stream_credits_same_timestamp_touch(spark, tmp_path):
    """A touch sharing the purchase's exact timestamp — with a HIGHER
    event_id — still gets credit: the batch dual joins t_ts <= p_ts
    inclusive of ties, so the handler must fold same-ts touches into
    state before scoring the purchase (sort key (ts, is_purchase,
    event_id), not (ts, event_id))."""
    from rapids_and_rivers_spark.streaming.duals import attribution_stream

    schema = "user string, event_id long, ts timestamp, event_type string, value double"
    rows = [
        {"user": "u1", "event_id": 1, "ts": "2026-01-01T00:00:00", "event_type": "click", "value": None},
        # purchase has LOWER event_id than the tied view
        {"user": "u1", "event_id": 2, "ts": "2026-01-01T02:00:00", "event_type": "purchase", "value": 90.0},
        {"user": "u1", "event_id": 3, "ts": "2026-01-01T02:00:00", "event_type": "view", "value": None},
    ]
    events = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(r) for r in rows],
        [],
        schema,
    )
    out = attribution_stream(events, days=3)
    q = (
        out.writeStream.format("memory")
        .queryName("attr_tie_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user, r.p_id, r.channel, r.day): (r.n, r.credit)
        for r in spark.sql("SELECT * FROM attr_tie_out").collect()
    }
    batch_df = spark.createDataFrame(
        [
            (r["user"], r["event_id"], r["ts"].replace("T", " "), r["event_type"], r["value"])
            for r in rows
        ],
        "user string, event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    expected = {
        (r.user, r.p_id, r.channel, r.day): (r.n, r.credit)
        for r in attribution_stream(batch_df, days=3).collect()
    }
    assert got == expected
    # the tied view shares credit: 90 / 2 touches
    assert got[("u1", 2, "view", "2026-01-01")] == (1, 45.0)
    assert got[("u1", 2, "click", "2026-01-01")] == (1, 45.0)


def test_gram_stream_matches_batch_gram(spark, tmp_path):
    """Streaming Gramian: native keyed-sum aggregation accumulates the
    integer partials across micro-batches; the final (i, j) table equals
    the batch quantized_gram over everything seen."""
    from rapids_and_rivers_spark.operators.linalg import quantized_gram
    from rapids_and_rivers_spark.streaming.duals import gram_stream

    dim = 3
    v1 = [[0.5, -0.25, 0.125], [1.0, 0.0, -1.0]]
    v2 = [[0.3, 0.3, 0.3], [-0.7, 0.2, 0.9]]
    events = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps({"vec": v}) for v in v1],
        [json.dumps({"vec": v}) for v in v2],
        "vec array<float>",
    )
    out = gram_stream(events, "vec", dim=dim)
    q = (
        out.writeStream.format("memory")
        .queryName("gram_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.i, r.j): r.gsum for r in spark.sql("SELECT * FROM gram_out").collect()
    }
    batch = spark.createDataFrame([(v,) for v in v1 + v2], "vec array<float>")
    expected = {
        (r.i, r.j): r.gsum
        for r in quantized_gram(batch, "vec", dim=dim).collect()
    }
    assert got == expected
    assert len(got) == dim * (dim + 1) // 2


def test_theta_sketch_stream_overlap_matches_batch_setops(spark, tmp_path):
    """Streaming theta sketches: bottom-k state per segment merges across
    micro-batches; set-algebra on the FINAL emitted sketch rows equals
    the batch theta_setops over everything seen."""
    from rapids_and_rivers_spark.operators.sketch import (
        theta_setops,
        theta_setops_from_samples,
    )
    from rapids_and_rivers_spark.streaming.duals import theta_sketch_stream

    b1 = [{"seg": "a", "v": f"x{i}"} for i in range(120)] + [
        {"seg": "b", "v": f"x{i}"} for i in range(60, 180)
    ]
    b2 = [{"seg": "a", "v": f"x{i}"} for i in range(100, 220)] + [
        {"seg": "b", "v": f"y{i}"} for i in range(40)
    ]
    events = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(r) for r in b1],
        [json.dumps(r) for r in b2],
        "seg string, v string",
    )
    out = theta_sketch_stream(events, "seg", "v", k=64)
    q = (
        out.writeStream.format("memory")
        .queryName("theta_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = {}
    for r in spark.sql("SELECT * FROM theta_out").collect():
        final[r.key] = list(r.hs)  # later rows overwrite: update semantics
    got = theta_setops_from_samples(final["a"], final["b"], 64)

    rows = [(r["seg"], r["v"]) for r in b1 + b2]
    all_df = spark.createDataFrame(rows, "seg string, v string")
    expected = theta_setops(
        spark,
        all_df.filter("seg = 'a'"),
        all_df.filter("seg = 'b'"),
        "v",
        k=64,
    ).collect()[0]
    for f in ("n_a", "n_b", "theta_scaled", "est_a", "est_b",
              "est_union", "est_intersect", "est_diff_ab"):
        assert got[f] == expected[f], f


def test_psi_gate_flags_drifted_batch(spark, tmp_path):
    """Streaming PSI gate: a batch matching the frozen reference scores
    ~0; a shifted batch scores high — drift attributed to its epoch."""
    from rapids_and_rivers_spark.streaming.duals import (
        psi_gate_foreach_batch,
        read_epoch_table,
    )

    # reference: uniform quartiles of Uniform(0, 100)
    ref = [("click", 25.0, 50.0, 75.0, 0.25, 0.25, 0.25, 0.25)]
    b1 = [  # matches the reference
        {"event_type": "click", "value": float(v)}
        for v in range(0, 100, 1)
    ]
    b2 = [  # hard shift: everything lands in the top band
        {"event_type": "click", "value": 90.0 + (i % 10) / 10.0}
        for i in range(100)
    ]
    events = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(r) for r in b1],
        [json.dumps(r) for r in b2],
        "event_type string, value double",
    )
    out_dir = str(tmp_path / "psi")
    q = (
        events.writeStream.foreachBatch(psi_gate_foreach_batch(ref, out_dir))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r["epoch"], r["event_type"]): r["psi"]
        for r in read_epoch_table(spark, out_dir).collect()
    }
    assert rows[(0, "click")] < 0.05  # in-distribution batch
    # all mass in one band vs p=0.25: psi = 0.75*ln(4) ~ 1.04
    assert rows[(1, "click")] > 0.5


def _er_batch_reference(spark, rows):
    """The batch entity_resolution pipeline (catalog body) on an
    in-memory corpus — the duality reference."""
    from rapids_and_rivers_spark.operators import dedup as D, fuzzy as FZ

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    snm = FZ.sorted_neighborhood_pairs(
        docs, col="text", id_col="doc_id", block_chars=8, key_chars=80,
        window=2, max_distance=10,
    ).select("id_a", "id_b")
    ssj = D.prefix_filter_pairs(
        docs, col="text", id_col="doc_id", shingle_n=3, threshold=0.5
    ).select("id_a", "id_b")
    pairs = ssj.unionByName(snm).distinct()
    comp = D.duplicate_clusters(pairs)
    return comp.groupBy(F.col("cluster").alias("canonical_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.max("node").alias("max_id"),
    )


_ER_B1 = [
    # SNM family: shared 8-char prefix, small edits (same block)
    {"doc_id": 1, "text": "alpha corporation ltd main street 12 springfield"},
    {"doc_id": 2, "text": "alpha corporation ltd main street 12 springfeld"},
    # jaccard family: token overlap >= 0.5, prefixes differ (ssj channel)
    {"doc_id": 3, "text": "quick brown fox jumps over the lazy dog by the river"},
    {"doc_id": 5, "text": "singleton record with entirely distinct content here"},
]
_ER_B2 = [
    # cross-batch SNM: re-ranks block 'alpha co<...>' (doc 10 sorts between 1 and 2)
    {"doc_id": 10, "text": "alpha corporation ltd main street 12 springfielda"},
    # cross-batch jaccard near-dup of doc 3
    {"doc_id": 11, "text": "brown fox jumps over the lazy dog by the river today quick"},
    {"doc_id": 12, "text": "one more unrelated filler document mentioning nothing shared at all"},
]


def test_er_stream_matches_batch_pipeline(spark, tmp_path):
    """Streaming entity resolution: per-batch blocking against the
    accumulated indexes (monotone prefix-Jaccard accumulation +
    per-touched-block SNM recompute) drains to the same entities as the
    batch block->verify->cluster->canonicalize pipeline — including
    cross-batch matches in both evidence channels."""
    from rapids_and_rivers_spark.streaming.duals import (
        er_current_entities,
        er_index_foreach_batch,
    )

    docs = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(d) for d in _ER_B1],
        [json.dumps(d) for d in _ER_B2],
        "doc_id long, text string",
    )
    index_dir = str(tmp_path / "er")
    q = (
        docs.writeStream.foreachBatch(er_index_foreach_batch(index_dir))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.canonical_id, r.n_records, r.max_id)
        for r in er_current_entities(spark, index_dir).collect()
    }
    expected = {
        (r.canonical_id, r.n_records, r.max_id)
        for r in _er_batch_reference(
            spark, [(d["doc_id"], d["text"]) for d in _ER_B1 + _ER_B2]
        ).collect()
    }
    assert got == expected
    # both channels actually fired: the SNM family and the jaccard
    # family each resolved to one multi-record entity
    multi = {r for r in got if r[1] > 1}
    assert {(1, 3, 10), (3, 2, 11)} <= multi


def test_er_stream_epoch_replay_is_idempotent(spark, tmp_path):
    """At-least-once replay of an epoch must rewrite its own versioned
    dirs, leaving the derived entity set unchanged."""
    from rapids_and_rivers_spark.streaming.duals import (
        er_current_entities,
        er_index_foreach_batch,
    )

    index_dir = str(tmp_path / "er")
    stage = er_index_foreach_batch(index_dir)
    b1 = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in _ER_B1], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in _ER_B2], "doc_id long, text string"
    )
    stage(b1, 0)
    stage(b2, 1)
    before = {
        tuple(r) for r in er_current_entities(spark, index_dir).collect()
    }
    stage(b2, 1)  # replay
    after = {
        tuple(r) for r in er_current_entities(spark, index_dir).collect()
    }
    assert before == after


_PR_E1 = [("a", "b", 2.0), ("b", "a", 2.0), ("b", "c", 1.0), ("c", "b", 1.0)]
_PR_E2 = [("c", "d", 1.0), ("d", "c", 1.0)]  # new node d joins later


def test_pagerank_stream_static_equals_cold_run(spark, tmp_path):
    """With the edge set static after epoch 0, two streamed epochs of
    k=2 warm rounds equal a cold 4-round batch run — the pinned
    warm-composition law carried into the foreachBatch dual."""
    from rapids_and_rivers_spark.operators.graph import pagerank
    from rapids_and_rivers_spark.streaming.duals import (
        pagerank_foreach_batch,
        read_latest_ranks,
    )

    state_dir = str(tmp_path / "pr")
    stage = pagerank_foreach_batch(state_dir, iters_per_epoch=2)
    edges = spark.createDataFrame(_PR_E1, "src string, dst string, weight double")
    empty = spark.createDataFrame([], "src string, dst string, weight double")
    stage(edges, 0)
    stage(empty, 1)  # a quiet day still advances convergence
    got = {r.node: r.pr for r in read_latest_ranks(spark, state_dir).collect()}
    cold = {r.node: r.pr for r in pagerank(edges, iters=4).collect()}
    assert set(got) == set(cold)
    assert all(abs(got[k] - cold[k]) < 1e-12 for k in cold)


def test_pagerank_stream_incremental_matches_batch_warm_start(spark, tmp_path):
    """New edges in epoch 1: the dual's snapshot equals the batch
    operator warm-started on the UNION graph from epoch 0's ranks (new
    node enters at the uniform prior) — and replaying epoch 1 leaves
    the snapshot unchanged (merge base is strictly below the epoch)."""
    from rapids_and_rivers_spark.operators.graph import pagerank
    from rapids_and_rivers_spark.streaming.duals import (
        pagerank_foreach_batch,
        read_latest_ranks,
    )

    state_dir = str(tmp_path / "pr")
    stage = pagerank_foreach_batch(state_dir, iters_per_epoch=2)
    e1 = spark.createDataFrame(_PR_E1, "src string, dst string, weight double")
    e2 = spark.createDataFrame(_PR_E2, "src string, dst string, weight double")
    stage(e1, 0)
    stage(e2, 1)
    got = {r.node: r.pr for r in read_latest_ranks(spark, state_dir).collect()}
    v0 = pagerank(e1, iters=2)
    expected = {
        r.node: r.pr
        for r in pagerank(e1.unionAll(e2), iters=2, init_ranks=v0).collect()
    }
    assert set(got) == set(expected) and "d" in got
    assert all(abs(got[k] - expected[k]) < 1e-12 for k in expected)
    stage(e2, 1)  # at-least-once replay
    after = {r.node: r.pr for r in read_latest_ranks(spark, state_dir).collect()}
    assert set(after) == set(got)
    assert all(abs(after[k] - got[k]) < 1e-12 for k in got)


def test_er_stream_matches_batch_on_real_documents(spark, tmp_path):
    """Streaming ER over the REAL sf0.001 documents table, split into
    two micro-batches by doc_id parity: drained entities must equal the
    batch entity_resolution pipeline on the full table — the
    corpus-scale duality check (synthetic-corpus tests pin the
    mechanics; this pins the real text distribution, where blocks are
    ragged and most docs are singletons)."""
    from rapids_and_rivers_spark.sources import load_table
    from rapids_and_rivers_spark.streaming.duals import (
        er_current_entities,
        er_index_foreach_batch,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    index_dir = str(tmp_path / "er")
    stage = er_index_foreach_batch(index_dir)
    stage(docs.filter(F.col("doc_id") % 2 == 0), 0)
    stage(docs.filter(F.col("doc_id") % 2 == 1), 1)
    got = {
        (r.canonical_id, r.n_records, r.max_id)
        for r in er_current_entities(spark, index_dir).collect()
    }
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    expected = {
        (r.canonical_id, r.n_records, r.max_id)
        for r in _er_batch_reference(spark, rows).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_quantile_sample_stream_matches_batch(spark, tmp_path):
    """Streaming quantile sketch: bottom-k-by-hash (hash, value) pairs
    merge in keyed state across micro-batches; the final emitted sample
    equals the batch quantile_sample over everything seen — the
    mergeable-sketch duality (kmv/theta pattern), extended to values."""
    from rapids_and_rivers_spark.streaming.duals import quantile_sample_stream

    b1 = [{"k": "a", "id": i, "v": float(i)} for i in range(40)]
    b1 += [{"k": "b", "id": 100 + i, "v": float(10 * i)} for i in range(5)]
    b2 = [{"k": "a", "id": 40 + i, "v": float(40 + i)} for i in range(40)]
    b2 += [{"k": "c", "id": 200, "v": 7.0}]
    events = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(r) for r in b1],
        [json.dumps(r) for r in b2],
        "k string, id long, v double",
    )
    out = quantile_sample_stream(events, "k", "id", "v", k=16)
    q = (
        out.writeStream.format("memory")
        .queryName("qs_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {}
    for r in spark.sql("SELECT * FROM qs_out").collect():
        got[r.key] = (r.n, tuple(r.vals))  # later rows overwrite: update semantics
    full = spark.createDataFrame(
        [(r["k"], r["id"], r["v"]) for r in b1 + b2], "k string, id long, v double"
    )
    expected = {
        r.key: (r.n, tuple(r.vals))
        for r in quantile_sample_stream(full, "k", "id", "v", k=16).collect()
    }
    assert got == expected
    assert got["a"][0] == 16  # truncated to k
    assert got["c"][0] == 1  # small group: exact sample


def test_bpe_encode_stream_matches_batch_trained_merges(spark, tmp_path):
    """Streaming BPE encoding over the REAL sf0.001 documents table:
    train the 2 merges once on the full corpus (the bpe_train_merges
    recipe), freeze them, encode the docs in two micro-batches split by
    doc_id parity — the per-epoch union must equal the batch
    bpe_encode_counts query doc for doc, and replaying an epoch must
    leave the read-back unchanged (overwrite idempotency)."""
    from rapids_and_rivers_spark import catalog
    from rapids_and_rivers_spark.operators import text as T
    from rapids_and_rivers_spark.sources import load_table
    from rapids_and_rivers_spark.streaming.duals import (
        bpe_encode_foreach_batch,
        read_epoch_table,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    doc_words = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word"),
    ).filter(F.length("word").between(1, 12))
    words = doc_words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    tokens = T.bpe_char_tokens(words)
    merges = []
    for _ in range(2):
        top = (
            T.bpe_pair_counts(tokens)
            .orderBy(F.desc("cnt"), "x", "y")
            .limit(1)
            .collect()[0]
        )
        merges.append((top["x"], top["y"]))
        tokens = T.bpe_apply_merge(tokens, top["x"], top["y"])

    out_dir = str(tmp_path / "enc")
    stage = bpe_encode_foreach_batch(merges, out_dir)
    even = docs.filter(F.col("doc_id") % 2 == 0)
    stage(even, 0)
    stage(docs.filter(F.col("doc_id") % 2 == 1), 1)

    def as_map(df):
        return {
            r["doc_id"]: (r["n_words"], r["n_tokens"], r["n_chars"], r["compression"])
            for r in df.collect()
        }

    got = as_map(read_epoch_table(spark, out_dir))
    expected = as_map(catalog.bpe_encode_counts(spark, sf))
    assert got == expected
    assert len(got) > 0

    stage(even, 0)  # at-least-once replay of epoch 0
    assert as_map(read_epoch_table(spark, out_dir)) == expected


# --- streaming graph duals: label propagation / triangles / k-core ----------

_LP_E1 = [
    ("a", "b", 2.0), ("b", "a", 2.0), ("b", "c", 1.0), ("c", "b", 1.0),
    ("d", "e", 3.0), ("e", "d", 3.0),
]
_LP_E2 = [("c", "d", 5.0), ("d", "c", 5.0)]  # bridges the two communities


def test_label_prop_stream_static_equals_cold_run(spark, tmp_path):
    """With the edge set static after epoch 0, two streamed epochs of
    k=2 warm rounds equal a cold 4-round batch run — LPA rounds are
    deterministic functions of (labels, edges), so the composition law
    is exact (the PageRank dual's law, carried to labels)."""
    from rapids_and_rivers_spark.operators.graph import label_propagation
    from rapids_and_rivers_spark.streaming.duals import (
        label_prop_foreach_batch,
        read_latest_labels,
    )

    state_dir = str(tmp_path / "lp")
    stage = label_prop_foreach_batch(state_dir, iters_per_epoch=2)
    edges = spark.createDataFrame(_LP_E1, "src string, dst string, weight double")
    empty = spark.createDataFrame([], "src string, dst string, weight double")
    stage(edges, 0)
    stage(empty, 1)
    got = {
        (r.node, r.label)
        for r in read_latest_labels(spark, state_dir).collect()
    }
    cold = {
        (r.node, r.label) for r in label_propagation(edges, iters=4).collect()
    }
    assert got == cold


def test_label_prop_stream_incremental_matches_batch_warm_start(spark, tmp_path):
    """New bridging edges in epoch 1: the dual equals the batch
    operator warm-started on the union graph from epoch 0's labels;
    replaying epoch 1 leaves the snapshot unchanged."""
    from rapids_and_rivers_spark.operators.graph import label_propagation
    from rapids_and_rivers_spark.streaming.duals import (
        label_prop_foreach_batch,
        read_latest_labels,
    )

    state_dir = str(tmp_path / "lp")
    stage = label_prop_foreach_batch(state_dir, iters_per_epoch=2)
    e1 = spark.createDataFrame(_LP_E1, "src string, dst string, weight double")
    e2 = spark.createDataFrame(_LP_E2, "src string, dst string, weight double")
    stage(e1, 0)
    stage(e2, 1)
    got = {
        (r.node, r.label)
        for r in read_latest_labels(spark, state_dir).collect()
    }
    v0 = label_propagation(e1, iters=2)
    expected = {
        (r.node, r.label)
        for r in label_propagation(
            e1.unionAll(e2), iters=2, init_labels=v0
        ).collect()
    }
    assert got == expected
    stage(e2, 1)  # at-least-once replay
    after = {
        (r.node, r.label)
        for r in read_latest_labels(spark, state_dir).collect()
    }
    assert after == got


def test_label_prop_warm_composition_law(spark):
    """Batch-side pin the dual depends on: warm(2) after cold(2) walks
    the same path as cold(4) on a static graph."""
    from rapids_and_rivers_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(_LP_E1, "src string, dst string, weight double")
    two = label_propagation(edges, iters=2)
    warm = {
        (r.node, r.label)
        for r in label_propagation(edges, iters=2, init_labels=two).collect()
    }
    cold = {
        (r.node, r.label) for r in label_propagation(edges, iters=4).collect()
    }
    assert warm == cold


_TRI_E1 = [("a", "b"), ("b", "c"), ("x", "y")]
_TRI_E2 = [("a", "c"), ("x", "z"), ("y", "z"), ("a", "b")]  # closes abc + xyz; ab is a dup


def _tri_batch(spark, pairs):
    from rapids_and_rivers_spark.operators.graph import triangles

    df = spark.createDataFrame(pairs, "src string, dst string")
    return {
        (r.node, r.deg, r.tri) for r in triangles(df).collect()
    }


def test_triangles_stream_matches_batch(spark, tmp_path):
    """Delta-maintained triangle counts equal batch graph.triangles
    over the union of all epochs — including a triangle whose closing
    edge arrives an epoch later (abc), a triangle with two new edges in
    one epoch (xyz), and a duplicate re-send (ab) that must not double
    count."""
    from rapids_and_rivers_spark.streaming.duals import (
        read_latest_tricounts,
        triangles_foreach_batch,
    )

    state_dir = str(tmp_path / "tri")
    stage = triangles_foreach_batch(state_dir)
    stage(spark.createDataFrame(_TRI_E1, "src string, dst string"), 0)
    stage(spark.createDataFrame(_TRI_E2, "src string, dst string"), 1)
    got = {
        (r.node, r.deg, r.tri)
        for r in read_latest_tricounts(spark, state_dir).collect()
    }
    assert got == _tri_batch(spark, _TRI_E1 + _TRI_E2)
    # both triangles actually exist
    assert ("a", 2, 1) in got and ("z", 2, 1) in got


def test_triangles_stream_epoch_replay_is_idempotent(spark, tmp_path):
    from rapids_and_rivers_spark.streaming.duals import (
        read_latest_tricounts,
        triangles_foreach_batch,
    )

    state_dir = str(tmp_path / "tri")
    stage = triangles_foreach_batch(state_dir)
    stage(spark.createDataFrame(_TRI_E1, "src string, dst string"), 0)
    stage(spark.createDataFrame(_TRI_E2, "src string, dst string"), 1)
    before = {
        tuple(r) for r in read_latest_tricounts(spark, state_dir).collect()
    }
    stage(spark.createDataFrame(_TRI_E2, "src string, dst string"), 1)
    after = {
        tuple(r) for r in read_latest_tricounts(spark, state_dir).collect()
    }
    assert before == after


def test_triangles_stream_all_edges_same_epoch(spark, tmp_path):
    """A triangle arriving whole in one epoch (all three edges new)
    counts exactly once per node — the sorted-triple dedup."""
    from rapids_and_rivers_spark.streaming.duals import (
        read_latest_tricounts,
        triangles_foreach_batch,
    )

    state_dir = str(tmp_path / "tri")
    stage = triangles_foreach_batch(state_dir)
    tri = [("p", "q"), ("q", "r"), ("p", "r")]
    stage(spark.createDataFrame(tri, "src string, dst string"), 0)
    got = {
        (r.node, r.deg, r.tri)
        for r in read_latest_tricounts(spark, state_dir).collect()
    }
    assert got == {("p", 2, 1), ("q", 2, 1), ("r", 2, 1)}


def test_kcore_stream_matches_batch_and_cascades(spark, tmp_path):
    """Per-epoch peel recompute equals the batch peel over the union —
    exercised on the cascade case that makes local patching unsound: a
    5-path has an empty 2-core; the single closing edge in epoch 1
    flips EVERY node into the cycle's 2-core at once."""
    from rapids_and_rivers_spark.operators.graph import kcore_peel
    from rapids_and_rivers_spark.streaming.duals import (
        kcore_foreach_batch,
        read_latest_core,
    )

    path = [("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("n4", "n5")]
    close = [("n5", "n1")]
    state_dir = str(tmp_path / "core")
    stage = kcore_foreach_batch(state_dir, k=2, rounds=3)
    stage(spark.createDataFrame(path, "src string, dst string"), 0)
    assert read_latest_core(spark, state_dir).count() == 0  # path: no 2-core
    stage(spark.createDataFrame(close, "src string, dst string"), 1)
    got = {
        (r.node, r.deg) for r in read_latest_core(spark, state_dir).collect()
    }
    assert got == {(f"n{i}", 2) for i in range(1, 6)}  # whole cycle flips
    und = spark.createDataFrame(path + close, "a string, b string")
    both = und.unionAll(und.select("b", "a")).toDF("src", "dst")
    batch = {(r.node, r.deg) for r in kcore_peel(both, k=2, rounds=3).collect()}
    assert got == batch
    stage(spark.createDataFrame(close, "src string, dst string"), 1)  # replay
    after = {
        (r.node, r.deg) for r in read_latest_core(spark, state_dir).collect()
    }
    assert after == got


def test_triangles_stream_matches_batch_on_purchase_graph(spark, tmp_path):
    """Real-data duality: the sf0.001 customer-supplier purchase graph
    split into two epochs by order parity — drained counts equal batch
    graph.triangles on the full graph (ragged degrees, bipartite-ish
    structure with genuine triangles via shared suppliers... none:
    bipartite graphs are triangle-free, which is itself the assertion —
    plus degree parity across 2k+ nodes)."""
    from rapids_and_rivers_spark.operators.graph import triangles
    from rapids_and_rivers_spark.sources import load_table
    from rapids_and_rivers_spark.streaming.duals import (
        read_latest_tricounts,
        triangles_foreach_batch,
    )

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_custkey"
    )
    e = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
            (F.col("o_orderkey") % 2).alias("par"),
        )
        .distinct()
    )
    state_dir = str(tmp_path / "tri")
    stage = triangles_foreach_batch(state_dir)
    stage(e.filter(F.col("par") == 0).select("src", "dst"), 0)
    stage(e.filter(F.col("par") == 1).select("src", "dst"), 1)
    got = {
        (r.node, r.deg, r.tri)
        for r in read_latest_tricounts(spark, state_dir).collect()
    }
    expected = {
        (r.node, r.deg, r.tri)
        for r in triangles(e.select("src", "dst")).collect()
    }
    assert got == expected and len(got) > 100


def test_bm25_stream_duality_against_batch(spark, tmp_path):
    """BM25 duality law: two ingest epochs through the incremental index
    (bm25_index_foreach_batch) scored by bm25_from_stats must equal the
    batch retrieval.bm25_scores over the union corpus — same tf/dl
    integers, same accumulated N, same long-summed avgdl, same scoring
    core (retrieval.bm25_from_parts is shared, not duplicated)."""
    from rapids_and_rivers_spark.operators.retrieval import bm25_scores
    from rapids_and_rivers_spark.streaming.duals import (
        bm25_from_stats,
        bm25_index_foreach_batch,
    )

    rows = [
        (1, "spark window batch spark"),
        (2, "window to the batch world"),
        (3, "no hits at all here"),
        (4, "spark spark spark tiny"),
        (5, "a very long document about batch processing and window functions repeated " * 3),
    ]
    b1 = spark.createDataFrame(rows[:3], "doc_id long, text string")
    b2 = spark.createDataFrame(rows[3:], "doc_id long, text string")
    state_dir = str(tmp_path / "bm25")
    stage = bm25_index_foreach_batch(state_dir)
    stage(b1, 0)
    stage(b2, 1)
    got = {
        (r.doc_id, r.n_hits, r.score)
        for r in bm25_from_stats(
            spark, state_dir, ["spark", "window", "batch"]
        ).collect()
    }
    full = spark.createDataFrame(rows, "doc_id long, text string")
    expected = {
        (r.doc_id, r.n_hits, r.score)
        for r in bm25_scores(full, ["spark", "window", "batch"]).collect()
    }
    assert got == expected and len(got) == 4  # doc 3 never matches


def test_bm25_stream_epoch_replay_is_idempotent(spark, tmp_path):
    """Replaying an epoch (foreachBatch at-least-once) must not
    double-count tf, dl, df, or N in the BM25 index."""
    from rapids_and_rivers_spark.streaming.duals import (
        _latest_version,
        bm25_from_stats,
        bm25_index_foreach_batch,
    )

    state_dir = str(tmp_path / "bm25")
    stage = bm25_index_foreach_batch(state_dir)
    b1 = spark.createDataFrame(
        [(1, "spark window batch"), (2, "batch only text")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "window window spark")], "doc_id long, text string"
    )
    stage(b1, 0)
    stage(b2, 1)
    once = {
        (r.doc_id, r.n_hits, r.score)
        for r in bm25_from_stats(spark, state_dir, ["spark", "window"]).collect()
    }
    stage(b2, 1)  # crash-replay
    replayed = {
        (r.doc_id, r.n_hits, r.score)
        for r in bm25_from_stats(spark, state_dir, ["spark", "window"]).collect()
    }
    assert replayed == once
    n = spark.read.parquet(_latest_version(state_dir, "n_docs")).first()["n"]
    assert n == 3


def test_decontamination_stream_duality_against_batch(spark, tmp_path):
    """Decontamination duality law: two ingest epochs (each carrying a
    mix of corpus and benchmark rows) through the incremental index
    (contamination_index_foreach_batch) screened by
    contamination_from_index must equal the batch
    dedup.contamination_check over the union — including corpus docs
    that arrived BEFORE the benchmark that contaminates them (epoch-0
    doc vs epoch-1 benchmark), which is the case a naive
    screen-on-arrival design gets wrong."""
    from rapids_and_rivers_spark.operators.dedup import contamination_check
    from rapids_and_rivers_spark.streaming.duals import (
        contamination_from_index,
        contamination_index_foreach_batch,
    )

    rows = [
        # epoch 0: two corpus docs, one benchmark doc
        (1, "the quick brown fox jumps over the lazy dog", False),
        (2, "completely unrelated corpus text with no overlap at all", False),
        (10, "the quick brown fox jumps high", True),
        # epoch 1: a corpus doc contaminated by the LATER benchmark, and
        # a late benchmark that retroactively contaminates doc 1
        (3, "state store rocks everything always", False),
        (11, "jumps over the lazy dog indeed", True),
        (12, "state store rocks everything", True),
    ]
    schema = "doc_id long, text string, is_bench boolean"
    b1 = spark.createDataFrame(rows[:3], schema)
    b2 = spark.createDataFrame(rows[3:], schema)
    state_dir = str(tmp_path / "decon")
    stage = contamination_index_foreach_batch(state_dir)
    stage(b1, 0)
    stage(b2, 1)
    got = {
        tuple(r)
        for r in contamination_from_index(spark, state_dir, threshold=0.5).collect()
    }
    full = spark.createDataFrame(rows, schema)
    expected = {
        tuple(r)
        for r in contamination_check(
            full.filter(~F.col("is_bench")),
            full.filter(F.col("is_bench")),
            shingle_n=3,
            threshold=0.5,
        ).collect()
    }
    assert got == expected and len(got) == 3
    flagged = {r[0] for r in got if r[4]}
    assert 1 in flagged and 3 in flagged and 2 not in flagged


def test_decontamination_stream_epoch_replay_is_idempotent(spark, tmp_path):
    """Replaying an epoch (foreachBatch at-least-once) must not
    double-count corpus postings or benchmark shingles."""
    from rapids_and_rivers_spark.streaming.duals import (
        contamination_from_index,
        contamination_index_foreach_batch,
    )

    schema = "doc_id long, text string, is_bench boolean"
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta", False), (10, "alpha beta gamma", True)],
        schema,
    )
    b2 = spark.createDataFrame(
        [(2, "beta gamma delta epsilon", False)], schema
    )
    state_dir = str(tmp_path / "decon")
    stage = contamination_index_foreach_batch(state_dir)
    stage(b1, 0)
    stage(b2, 1)
    once = {
        tuple(r)
        for r in contamination_from_index(spark, state_dir).collect()
    }
    stage(b2, 1)  # crash-replay
    replayed = {
        tuple(r)
        for r in contamination_from_index(spark, state_dir).collect()
    }
    assert replayed == once and len(once) == 2


def test_decontamination_stream_empty_benchmark(spark, tmp_path):
    """Before any benchmark registers, nothing is contaminated and
    every corpus doc still reports its shingle count."""
    from rapids_and_rivers_spark.streaming.duals import (
        contamination_from_index,
        contamination_index_foreach_batch,
    )

    schema = "doc_id long, text string, is_bench boolean"
    b1 = spark.createDataFrame(
        [(1, "some corpus words here now", False)], schema
    )
    state_dir = str(tmp_path / "decon")
    stage = contamination_index_foreach_batch(state_dir)
    stage(b1, 0)
    out = contamination_from_index(spark, state_dir).collect()
    assert len(out) == 1
    assert out[0].n_hit == 0 and not out[0].contaminated
    assert out[0].n_shingles > 0


def test_packing_stream_duality_and_late_small_id(spark, tmp_path):
    """Packing duality law: two ingest epochs through
    packing_foreach_batch must equal batch pack_training_sequences over
    the union — including a small-id document arriving in epoch 1,
    which shifts every later offset in its source (the case per-doc
    patching cannot handle)."""
    from rapids_and_rivers_spark.streaming.duals import (
        packing_foreach_batch,
        packing_from_index,
    )

    schema = "doc_id long, source string, text string"
    rows = [
        (5, "a", "one two three"),
        (9, "a", "four five six seven"),
        (3, "b", "just b tokens"),
        # epoch 1: doc 2 lands BEFORE 5 and 9 in source a's doc_id order
        (2, "a", "early words arriving late"),
        (12, "b", "more b text here"),
    ]
    b1 = spark.createDataFrame(rows[:3], schema)
    b2 = spark.createDataFrame(rows[3:], schema)
    state_dir = str(tmp_path / "pack")
    stage = packing_foreach_batch(state_dir, seq_len=5)
    stage(b1, 0)
    stage(b2, 1)
    got = {tuple(r) for r in packing_from_index(spark, state_dir).collect()}

    from pyspark.sql import Window as W
    from rapids_and_rivers_spark.operators.text import token_count

    full = spark.createDataFrame(rows, schema)
    sized = full.select(
        "doc_id", "source", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    cum = sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    start = F.col("cum_tokens") - F.col("n_tokens")
    expected = {
        tuple(r)
        for r in cum.select(
            "doc_id",
            "source",
            "n_tokens",
            F.floor(start / 5).cast("long").alias("seq_id"),
            (start - F.floor(start / 5) * 5).cast("long").alias("seq_offset"),
        ).collect()
    }
    assert got == expected and len(got) == 5
    # doc 5's offset must reflect doc 2's later arrival: start = 4 -> seq 0 off 4
    by_id = {r[0]: r for r in got}
    assert by_id[5][3:] == (0, 4) and by_id[9][3:] == (1, 2)


def test_packing_stream_prunes_untouched_sources(spark, tmp_path):
    """An epoch carrying only source-a documents must not rewrite
    source b's packing snapshot (touched-bucket pruning)."""
    import hashlib
    import os

    from rapids_and_rivers_spark.streaming.duals import (
        packing_foreach_batch,
        packing_from_index,
    )

    schema = "doc_id long, source string, text string"
    b1 = spark.createDataFrame(
        [(1, "a", "alpha beta"), (2, "b", "gamma delta")], schema
    )
    b2 = spark.createDataFrame([(3, "a", "more a text")], schema)
    state_dir = str(tmp_path / "pack")
    stage = packing_foreach_batch(state_dir, seq_len=4)
    stage(b1, 0)
    stage(b2, 1)
    kb = hashlib.md5(b"b").hexdigest()[:16]
    ka = hashlib.md5(b"a").hexdigest()[:16]
    assert sorted(os.listdir(os.path.join(state_dir, "packing", f"s{kb}"))) == ["v0"]
    assert sorted(os.listdir(os.path.join(state_dir, "packing", f"s{ka}"))) == ["v0", "v1"]
    assert packing_from_index(spark, state_dir).count() == 3


def test_packing_stream_epoch_replay_is_idempotent(spark, tmp_path):
    from rapids_and_rivers_spark.streaming.duals import (
        packing_foreach_batch,
        packing_from_index,
    )

    schema = "doc_id long, source string, text string"
    b1 = spark.createDataFrame([(1, "a", "alpha beta gamma")], schema)
    b2 = spark.createDataFrame([(2, "a", "delta epsilon")], schema)
    state_dir = str(tmp_path / "pack")
    stage = packing_foreach_batch(state_dir, seq_len=4)
    stage(b1, 0)
    stage(b2, 1)
    once = {tuple(r) for r in packing_from_index(spark, state_dir).collect()}
    stage(b2, 1)  # crash-replay
    replayed = {tuple(r) for r in packing_from_index(spark, state_dir).collect()}
    assert replayed == once and len(once) == 2


def test_unigram_encode_stream_matches_batch_trained_vocab(spark, tmp_path):
    """Streaming unigram encoding over the REAL sf0.001 documents table:
    train the vocabulary once on the full corpus (the
    unigram_train_vocab recipe), freeze it, encode the docs in two
    micro-batches split by doc_id parity — the per-epoch union must
    equal the batch unigram_encode_counts query doc for doc, and
    replaying an epoch must leave the read-back unchanged."""
    from rapids_and_rivers_spark import catalog
    from rapids_and_rivers_spark.operators import text as T
    from rapids_and_rivers_spark.sources import load_table
    from rapids_and_rivers_spark.streaming.duals import (
        read_epoch_table,
        unigram_encode_foreach_batch,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    words = (
        catalog._unigram_doc_words(docs)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab_rows = [
        (r["piece"], r["cnt"])
        for r in T.unigram_vocab(words, top_v=48, max_len=4)
        .select("piece", "cnt")
        .collect()
    ]

    out_dir = str(tmp_path / "uenc")
    stage = unigram_encode_foreach_batch(vocab_rows, out_dir)
    even = docs.filter(F.col("doc_id") % 2 == 0)
    stage(even, 0)
    stage(docs.filter(F.col("doc_id") % 2 == 1), 1)

    def as_map(df):
        return {
            r["doc_id"]: (r["n_words"], r["n_tokens"], r["n_chars"], r["compression"])
            for r in df.collect()
        }

    got = as_map(read_epoch_table(spark, out_dir))
    expected = as_map(catalog.unigram_encode_counts(spark, sf))
    assert got == expected
    assert len(got) > 0

    stage(even, 0)  # at-least-once replay of epoch 0
    assert as_map(read_epoch_table(spark, out_dir)) == expected


def test_linreg_stream_matches_batch_and_replay(spark, tmp_path):
    """Per-epoch sufficient-statistic partials merged by exact decimal
    sum + one solve must equal the batch closed-form model bit for bit
    (mergeable statistics), and replaying an epoch must not move it."""
    from rapids_and_rivers_spark import catalog
    from rapids_and_rivers_spark.sources import load_table
    from rapids_and_rivers_spark.streaming.duals import (
        linreg_from_stats,
        linreg_stats_foreach_batch,
    )

    sf = "/root/testdata/sf0.001"
    rows = load_table(spark, sf, "lineitem")
    par = F.pmod(F.xxhash64(F.col("l_orderkey").cast("string")), F.lit(2))
    out_dir = str(tmp_path / "lr")
    stage = linreg_stats_foreach_batch(out_dir)
    e0 = catalog._linreg_quantized(rows.filter(par == 0))
    stage(e0, 0)
    stage(catalog._linreg_quantized(rows.filter(par == 1)), 1)

    def model(df):
        r = df.collect()[0]
        return (r["n"], r["b0"], r["b1"], r["b2"])

    got = model(linreg_from_stats(spark, out_dir))
    from rapids_and_rivers_spark.operators.linalg import (
        linreg_solve,
        linreg_sufficient_stats,
    )

    expected = model(
        linreg_solve(linreg_sufficient_stats(catalog._linreg_quantized(rows)))
    )
    assert got == expected  # exact: decimal merge loses nothing

    stage(e0, 0)  # at-least-once replay of epoch 0
    assert model(linreg_from_stats(spark, out_dir)) == expected


def test_mix_stream_matches_batch_and_replay(spark, tmp_path):
    """Per-epoch per-source count partials merged by exact integer sum
    + the shared weights tail must equal the batch mixture bit for bit,
    and replaying an epoch must not move it."""
    from rapids_and_rivers_spark import catalog
    from rapids_and_rivers_spark.sources import load_table
    from rapids_and_rivers_spark.streaming.duals import (
        mix_from_stats,
        mix_stats_foreach_batch,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    out_dir = str(tmp_path / "mix")
    stage = mix_stats_foreach_batch(out_dir)
    par = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(2))
    e0 = docs.filter(par == 0)
    stage(e0, 0)
    stage(docs.filter(par == 1), 1)

    def as_map(df):
        return {r["source"]: tuple(r)[1:] for r in df.collect()}

    expected = as_map(catalog.source_mix_temperature(spark, sf))
    assert as_map(mix_from_stats(spark, out_dir)) == expected
    assert len(expected) > 0

    stage(e0, 0)  # at-least-once replay
    assert as_map(mix_from_stats(spark, out_dir)) == expected


def test_wordpiece_encode_stream_matches_batch_trained_vocab(spark, tmp_path):
    """Streaming WordPiece encoding over the REAL sf0.001 documents
    table: train the position-aware vocabulary once on the full corpus
    (the wordpiece_train_vocab recipe), freeze it, encode the docs in
    two micro-batches split by doc_id parity — the per-epoch union must
    equal the batch wordpiece_encode_counts query doc for doc, and
    replaying an epoch must leave the read-back unchanged."""
    from rapids_and_rivers_spark import catalog
    from rapids_and_rivers_spark.operators import text as T
    from rapids_and_rivers_spark.sources import load_table
    from rapids_and_rivers_spark.streaming.duals import (
        read_epoch_table,
        wordpiece_encode_foreach_batch,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    words = (
        catalog._unigram_doc_words(docs)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab_rows = [
        (r["piece"], r["cont"])
        for r in T.wordpiece_vocab(words, top_v=32, max_len=4)
        .select("piece", "cont")
        .collect()
    ]

    out_dir = str(tmp_path / "wpenc")
    stage = wordpiece_encode_foreach_batch(vocab_rows, out_dir)
    even = docs.filter(F.col("doc_id") % 2 == 0)
    stage(even, 0)
    stage(docs.filter(F.col("doc_id") % 2 == 1), 1)

    def as_map(df):
        return {
            r["doc_id"]: (r["n_words"], r["n_tokens"], r["n_chars"], r["compression"])
            for r in df.collect()
        }

    got = as_map(read_epoch_table(spark, out_dir))
    expected = as_map(catalog.wordpiece_encode_counts(spark, sf))
    assert got == expected
    assert len(got) > 0

    stage(even, 0)  # at-least-once replay of epoch 0
    assert as_map(read_epoch_table(spark, out_dir)) == expected


def test_encode_epochs_run_no_vocabulary_job(spark, tmp_path):
    """The frozen-vocabulary encode duals segment against their driver-side
    vocabulary rows as they are: an epoch runs exactly the jobs of the
    same stage body with a segmentation that needs no vocabulary. Each
    epoch used to turn the rows into a DataFrame that the kernel then
    collected back, one job more per epoch."""
    from rapids_and_rivers_spark.sources import load_table
    from rapids_and_rivers_spark.streaming import duals as D

    sc = spark.sparkContext
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    chars = "abcdefghijklmnopqrstuvwxyz0123456789"

    def no_vocab(words):
        return words.select("word", F.length("word").alias("word_tokens"))

    stages = {
        "plain": D._encode_stage(
            str(tmp_path / "plain"), "text", "doc_id", no_vocab, alnum_only=True
        ),
        "unigram": D.unigram_encode_foreach_batch(
            [(c, 1) for c in chars], str(tmp_path / "uni")
        ),
        "wordpiece": D.wordpiece_encode_foreach_batch(
            [(c, cont) for c in chars for cont in (False, True)],
            str(tmp_path / "wp"),
        ),
    }
    jobs = {}
    for name, stage in stages.items():
        group = f"encode_epoch_{name}"
        sc.setJobGroup(group, group)
        try:
            stage(docs, 0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs["plain"] > 0
    assert jobs == dict.fromkeys(stages, jobs["plain"])


def test_phash_signatures_runs_unchanged_on_stream(spark, tmp_path):
    """Image pHash is pure mapInPandas — the SAME function runs on a
    streaming DataFrame (the image path's batch/stream duality, like
    the aHash twin above), and per-batch signatures equal the batch
    run bit for bit (the integer DCT has no nondeterminism to hide)."""
    from rapids_and_rivers_spark.operators import multimodal as M

    ids = list(range(12))
    payloads = M.encode_bmp_batch(ids, width=15, height=9)
    rows = [(i, bytearray(p)) for i, p in zip(ids, payloads)]
    batch_df = spark.createDataFrame(rows, "doc_id long, payload binary")
    src = str(tmp_path / "in")
    batch_df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, payload binary").parquet(src)
    q = (
        M.phash_signatures(stream)
        .writeStream.format("memory")
        .queryName("phash_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.sql("SELECT * FROM phash_out").collect()))
    want = sorted(map(tuple, M.phash_signatures(batch_df).collect()))
    assert got == want and len(got) == 12


def test_bt_stream_matches_batch_and_replay(spark, tmp_path):
    """Bradley-Terry per-epoch sufficient statistics (pair game counts +
    win counts) merged by exact integer keyed sums, then the SAME
    integer MM rounds, must equal the batch fit bit for bit — and
    replaying an epoch must not move it (mergeable statistics, the
    linreg dual contract). Epochs split by ORDER key so no contest
    straddles the boundary."""
    from rapids_and_rivers_spark import catalog
    from rapids_and_rivers_spark.operators import rating as R
    from rapids_and_rivers_spark.sources import load_table
    from rapids_and_rivers_spark.streaming.duals import (
        bt_ratings_from_stats,
        bt_stats_foreach_batch,
    )

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem")
    lines = (
        li.select(
            F.col("l_orderkey").alias("o"),
            F.col("l_suppkey").alias("s"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("pc"),
        )
        .groupBy("o", "s")
        .agg(F.sum("pc").alias("p"))
    )
    out_dir = str(tmp_path / "bt")
    stage = bt_stats_foreach_batch(out_dir)
    even = lines.filter(F.col("o") % 2 == 0)
    stage(even, 0)
    stage(lines.filter(F.col("o") % 2 == 1), 1)

    def as_map(df):
        return {r["s"]: (r["wins"], r["games"], r["rating"]) for r in df.collect()}

    got = as_map(bt_ratings_from_stats(spark, out_dir, rounds=3))
    games, wins = R.bt_sufficient_stats(R.bt_contests(lines))
    expected = as_map(R.bt_mm_ratings(games, wins, rounds=3))
    assert got == expected and len(got) > 0

    stage(even, 0)  # at-least-once replay of epoch 0
    assert as_map(bt_ratings_from_stats(spark, out_dir, rounds=3)) == expected


def test_bt_mm_orders_round_robin_by_skill(spark):
    """On a constructed double-round-robin where player k beats every
    player with a larger key, MM ratings must strictly order by skill —
    the model-recovery sanity contract — and must be invariant to input
    partitioning (exact integer arithmetic has no order dependence)."""
    from rapids_and_rivers_spark.operators import rating as R

    # orders: one per (a, b) pair, twice; player min(a,b) always wins
    rows = []
    o = 0
    for rep in range(2):
        for a in range(1, 6):
            for b in range(a + 1, 6):
                o += 1
                rows.append((o, a, 200))   # stronger: higher score
                rows.append((o, b, 100))
    lines = spark.createDataFrame(rows, "o long, s long, p long")
    games, wins = R.bt_sufficient_stats(R.bt_contests(lines))
    ratings = {r["s"]: r["rating"] for r in R.bt_mm_ratings(games, wins).collect()}
    assert ratings[1] > ratings[2] > ratings[3] > ratings[4] > ratings[5]
    again = {
        r["s"]: r["rating"]
        for r in R.bt_mm_ratings(*(
            R.bt_sufficient_stats(R.bt_contests(lines.repartition(7)))
        )).collect()
    }
    assert ratings == again


def test_mix_weights_empty_and_zero_token_sources(spark):
    """ADVICE r6: an empty per-source table must return an empty weight
    table (not crash on float(None)), and an all-empty-text source
    (n_tokens=0) must carry a NULL boost, never NaN."""
    import math

    from rapids_and_rivers_spark.operators.selection import mix_weights

    schema = "source string, n_docs long, n_tokens long"
    empty = mix_weights(spark.createDataFrame([], schema))
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "source", "n_docs", "n_tokens", "p_raw", "p_temp", "boost",
    ]
    # a table whose total is zero also short-circuits
    allzero = mix_weights(
        spark.createDataFrame([("a", 3, 0), ("b", 1, 0)], schema)
    )
    assert allzero.count() == 0
    rows = {
        r["source"]: r
        for r in mix_weights(
            spark.createDataFrame([("a", 3, 90), ("b", 2, 0)], schema)
        ).collect()
    }
    assert rows["b"]["boost"] is None
    assert rows["a"]["boost"] is not None
    assert not math.isnan(rows["a"]["boost"])


def test_bt_mm_many_rounds_no_nulls(spark):
    """The denominator floor (ADVICE r6) keeps every round's integer
    division defined: on a totally dominated graph (one player wins
    every game), no rating may come back NULL (Spark's DIV-by-zero is a
    silent NULL while DuckDB raises — the guard removes the
    divergence). Rounds stay at the catalog's 3+2: each unrolled round
    references the rating table twice, so the LOGICAL plan doubles per
    round — rounds=10 costs 2^10 analyzer copies (measured: one
    CheckAnalysis pass burned 19 CPU-minutes), which is the documented
    reason bt_supplier_strength fixes rounds=3."""
    from rapids_and_rivers_spark.operators import rating as R

    rows = []
    # player 1 beats everyone, everyone else never wins a game
    for o, b in enumerate(range(2, 8), start=1):
        rows.append((o, 1, 200))
        rows.append((o, b, 100))
    lines = spark.createDataFrame(rows, "o long, s long, p long")
    games, wins = R.bt_sufficient_stats(R.bt_contests(lines))
    got = R.bt_mm_ratings(games, wins, rounds=5).collect()
    assert len(got) == 7
    assert all(r["rating"] is not None and r["rating"] >= 1 for r in got)


def test_resolve_buckets_sizing_and_pin(tmp_path):
    """VERDICT r6 #1: bucket counts must GROW with the corpus (the
    round-5 blocking-cardinality law applied to bucket counts), resolve
    to powers of two with a floor, and PIN for the stream's lifetime —
    a restart with different sizing params must reuse the stored
    layout, since the bucket id is baked into epoch directories."""
    from rapids_and_rivers_spark.streaming.duals import resolve_buckets

    d1 = str(tmp_path / "a")
    # an explicit estimate is TRUSTED (r9: the floor only backstops the
    # no-estimate case — floor-on-top-of-estimate over-bucketed small
    # corpora into per-epoch tiny-file storms); minimum 8 keeps
    # touched-bucket pruning meaningful
    assert resolve_buckets(d1, expected_rows=1_000) == 8
    d1f = str(tmp_path / "af")
    assert resolve_buckets(d1f) == 64  # no estimate -> floor
    d2 = str(tmp_path / "b")
    assert resolve_buckets(d2, expected_rows=10_000_000) == 128
    d3 = str(tmp_path / "c")
    assert resolve_buckets(d3, expected_rows=10_000_000_000) == 131072
    # pinned: a recreated factory with different params resolves the same
    assert resolve_buckets(d2, expected_rows=10_000_000_000) == 128
    assert resolve_buckets(d2, explicit=16) == 128
    d4 = str(tmp_path / "d")
    assert resolve_buckets(d4, explicit=512) == 512
    # target_bucket_rows is the documented knob
    d5 = str(tmp_path / "e")
    assert resolve_buckets(
        d5, expected_rows=10_000_000, target_bucket_rows=1_000_000
    ) == 16


def test_bucket_prune_literal_and_join_paths_agree(spark):
    """bucket_prune must return identical rows whichever mechanism it
    picks (<=1024 values: literal IN partition pruning; above: broadcast
    semi-join), so the switchover can never change results."""
    from rapids_and_rivers_spark.streaming.duals import bucket_prune

    df = spark.range(0, 5000).select(
        F.col("id"), F.pmod(F.col("id"), F.lit(2048)).alias("bkt")
    )
    few = list(range(10))
    many = list(range(1500))
    got_few = {r.id for r in bucket_prune(df, "bkt", few).collect()}
    assert got_few == {i for i in range(5000) if i % 2048 in set(few)}
    got_many = {r.id for r in bucket_prune(df, "bkt", many).collect()}
    assert got_many == {i for i in range(5000) if i % 2048 in set(many)}


def test_triangles_dual_sized_buckets_same_result(spark, tmp_path):
    """The duality law must hold regardless of the resolved bucket
    count: a corpus-sized bucket count (forced past the old fixed 64 via
    a tiny target_bucket_rows) partitions the adjacency store
    differently but drains to the identical triangle counts."""
    from rapids_and_rivers_spark.operators.graph import triangles
    from rapids_and_rivers_spark.streaming.duals import (
        read_latest_tricounts,
        triangles_foreach_batch,
    )

    rows = []
    # two clique families sharing node 0 plus a path tail
    for a in range(6):
        for b in range(a + 1, 6):
            rows.append((f"n{a}", f"n{b}"))
    for a in range(6, 12):
        for b in range(a + 1, 12):
            rows.append((f"n{a}", f"n{b}"))
    rows += [("n0", "n20"), ("n20", "n21"), ("n21", "n0")]
    e = spark.createDataFrame(rows, "src string, dst string")
    state_dir = str(tmp_path / "tri_sized")
    stage = triangles_foreach_batch(
        state_dir, expected_adj_rows=100_000, target_bucket_rows=100
    )
    import json

    with open(f"{state_dir}/buckets.json") as f:
        assert json.load(f)["n_buckets"] == 1024
    par = F.pmod(F.xxhash64(F.concat_ws("|", "src", "dst")), F.lit(2))
    stage(e.filter(par == 0), 0)
    stage(e.filter(par == 1), 1)
    got = {
        (r.node, r.deg, r.tri)
        for r in read_latest_tricounts(spark, state_dir).collect()
    }
    expected = {
        (r.node, r.deg, r.tri) for r in triangles(e).collect()
    }
    assert got == expected and len(got) == 14


def _ivf_embeddings(spark, sf="/root/testdata/sf0.001"):
    from rapids_and_rivers_spark.operators import similarity as S
    from rapids_and_rivers_spark.sources import load_table, spread

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        S.as_double_array(F.col("embedding")).alias("q_emb"),
    )
    candidates = spread(emb.filter(F.col("vec_id") >= 10), "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        S.as_double_array(F.col("embedding")).alias("c_emb"),
    )
    return queries, candidates


def test_ivf_index_stream_matches_batch_with_frozen_codebook(spark, tmp_path):
    """IVF duality law: two ingest epochs through ivf_index_foreach_batch
    (codebook trained on epoch 0, frozen), then ivf_query_from_index over
    the drained postings must equal batch ivf_topk over the union
    candidates with the SAME frozen codebook — both sides call the one
    ivf_probe_rank core, so this pins that ingest-then-query and
    batch-index-then-query are the same operator."""
    from rapids_and_rivers_spark.operators import similarity as S
    from rapids_and_rivers_spark.streaming.duals import (
        ivf_index_foreach_batch,
        ivf_query_from_index,
    )

    queries, candidates = _ivf_embeddings(spark)
    index_dir = str(tmp_path / "ivf")
    stage = ivf_index_foreach_batch(index_dir, dim=64, n_cells=16)
    stage(candidates.filter(F.col("neighbor_id") % 2 == 0), 0)
    stage(candidates.filter(F.col("neighbor_id") % 2 == 1), 1)
    got = {
        (r.query_id, r.neighbor_id, r.cos)
        for r in ivf_query_from_index(
            spark, index_dir, queries, k=5, nprobe=4
        ).collect()
    }
    frozen = S.codebook_from_table(
        spark.read.parquet(f"{index_dir}/codebook")
    )
    expected = {
        (r.query_id, r.neighbor_id, r.cos)
        for r in S.ivf_topk(
            queries, candidates, dim=64, k=5, n_cells=16, nprobe=4,
            codebook=frozen,
        ).collect()
    }
    assert got == expected and len(got) == 50  # 10 queries x k=5


def test_ivf_index_codebook_frozen_and_replay_idempotent(spark, tmp_path):
    """The epoch-0 codebook must NOT move when later epochs arrive
    (retraining would re-bucket the accumulated postings — the O(corpus)
    rewrite the freeze exists to avoid), and an at-least-once replay of
    either epoch must leave postings and query results byte-identical."""
    from rapids_and_rivers_spark.streaming.duals import (
        ivf_index_foreach_batch,
        ivf_query_from_index,
    )

    queries, candidates = _ivf_embeddings(spark)
    index_dir = str(tmp_path / "ivf")
    even = candidates.filter(F.col("neighbor_id") % 2 == 0)
    odd = candidates.filter(F.col("neighbor_id") % 2 == 1)
    stage = ivf_index_foreach_batch(index_dir, dim=64, n_cells=16)
    stage(even, 0)
    cb0 = sorted(
        (r.cell, tuple(r.centroid))
        for r in spark.read.parquet(f"{index_dir}/codebook").collect()
    )
    stage(odd, 1)
    cb1 = sorted(
        (r.cell, tuple(r.centroid))
        for r in spark.read.parquet(f"{index_dir}/codebook").collect()
    )
    assert cb0 == cb1  # frozen
    def q():
        return {
            (r.query_id, r.neighbor_id, r.cos)
            for r in ivf_query_from_index(
                spark, index_dir, queries, k=5, nprobe=4
            ).collect()
        }
    before = q()
    stage(even, 0)  # replay epoch 0: retrains identical codebook,
    stage(odd, 1)   # overwrites identical postings
    spark.catalog.refreshByPath(f"{index_dir}/postings")
    assert q() == before


def test_nb_classifier_recovers_separable_classes(spark):
    """Model-recovery sanity: on vocabulary-disjoint classes the
    self-trained Naive Bayes must classify every document to its own
    class (a diagonal confusion), and a zero-token document must
    classify on priors alone (majority class) instead of erroring."""
    from rapids_and_rivers_spark.operators import classify as C

    rows = []
    for i in range(12):
        rows.append((i, "alpha beta gamma beta", "A"))
    for i in range(12, 20):
        rows.append((i, "delta epsilon zeta zeta", "B"))
    rows.append((99, "   ", "B"))  # tokenizes to nothing
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    counts, cls_docs = C.nb_sufficient_stats(docs)
    weights, priors = C.nb_model(counts, cls_docs)
    pred = {
        r.id: r.pred
        for r in C.nb_classify(
            docs.select(F.col("doc_id").alias("id")),
            C.nb_doc_buckets(docs),
            weights,
            priors,
        ).collect()
    }
    assert len(pred) == 21
    for i in range(12):
        assert pred[i] == "A"
    for i in range(12, 20):
        assert pred[i] == "B"
    # 13 A-docs vs 8 B-docs -> prior argmax is A for the empty doc
    assert pred[99] == "A"


def test_nb_stream_confusion_matches_batch_and_replay(spark, tmp_path):
    """Sufficient-statistics duality: two ingest epochs of sufficient
    stats merged by + must give the identical confusion as batch
    training over the union corpus (integer micro-nat scores are
    order-free), and an at-least-once epoch replay must not change it."""
    from rapids_and_rivers_spark import catalog
    from rapids_and_rivers_spark.streaming.duals import (
        nb_confusion_from_stats,
        nb_stats_foreach_batch,
    )
    from rapids_and_rivers_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    out_dir = str(tmp_path / "nb")
    stage = nb_stats_foreach_batch(out_dir)
    par = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(2))
    even, odd = docs.filter(par == 0), docs.filter(par == 1)
    stage(even, 0)
    stage(odd, 1)

    def as_map(df):
        return {
            (r.true_source, r.pred_source): r.n_docs for r in df.collect()
        }

    got = as_map(nb_confusion_from_stats(spark, out_dir))
    expected = as_map(catalog.nb_source_confusion(spark, sf))
    assert got == expected and sum(got.values()) == docs.count()

    stage(even, 0)  # at-least-once replay of epoch 0
    assert as_map(nb_confusion_from_stats(spark, out_dir)) == expected


def test_ivf_index_partial_codebook_dir_retrains(spark, tmp_path):
    """Crash-safety of the epoch-0 codebook freeze (ADVICE r7): Spark
    creates the output directory BEFORE committing, so a crash mid-write
    leaves a partial dir with no _SUCCESS marker. A replay must retrain
    (the freeze gates on the commit marker, not bare dir existence) —
    otherwise the index silently reads an empty codebook forever."""
    import os as _os

    from rapids_and_rivers_spark.streaming.duals import ivf_index_foreach_batch

    _, candidates = _ivf_embeddings(spark)
    index_dir = str(tmp_path / "ivf_partial")
    # simulate the crash artifact: dir exists, no _SUCCESS, no data
    cb_dir = _os.path.join(index_dir, "codebook")
    _os.makedirs(cb_dir)
    with open(_os.path.join(cb_dir, "part-00000.parquet.tmp"), "w") as f:
        f.write("")
    stage = ivf_index_foreach_batch(index_dir, dim=64, n_cells=16)
    stage(candidates, 0)
    assert _os.path.isfile(_os.path.join(cb_dir, "_SUCCESS"))
    cb = spark.read.parquet(cb_dir)
    assert cb.count() > 0


def test_assoc_rules_real_stream_foreach_batch(spark, tmp_path):
    """The round-8 market-basket dual under the REAL streaming runtime:
    two pinned micro-batches of (basket, item) memberships drive
    assoc_items_foreach_batch via writeStream.foreachBatch; the drained
    rules equal the batch operator over the union corpus even though
    basket 1 straddles the micro-batch boundary."""
    from rapids_and_rivers_spark.operators.mining import association_rules
    from rapids_and_rivers_spark.streaming.duals import (
        assoc_items_foreach_batch,
        assoc_rules_from_store,
    )

    b1 = [
        {"basket": 1, "item": "a"},
        {"basket": 1, "item": "b"},
        {"basket": 2, "item": "a"},
    ]
    b2 = [
        {"basket": 1, "item": "c"},  # straddles: pairs (a,c),(b,c) form here
        {"basket": 2, "item": "b"},
        {"basket": 3, "item": "a"},
    ]
    rows = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [json.dumps(r) for r in b1],
        [json.dumps(r) for r in b2],
        "basket int, item string",
    )
    store = str(tmp_path / "store")
    q = (
        rows.writeStream.foreachBatch(assoc_items_foreach_batch(store, expected_items=6))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = assoc_rules_from_store(
        spark, store, min_item_support=1, min_pair_support=1
    ).collect()
    union = spark.createDataFrame(
        [(r["basket"], r["item"]) for r in b1 + b2], "basket int, item string"
    )
    want = association_rules(
        union, 3, min_item_support=1, min_pair_support=1
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and len(want) > 0


def test_semdedup_clustered_stream_matches_batch(spark, tmp_path):
    """Round-11 dual: cluster-blocked SemDeDup under ingest. Vectors
    arrive over two micro-batches; the k-means codebook freezes on
    batch 1's sample; cross-batch pairs are found via the touched-cell
    prior read; and the drained keep-list equals batch
    semantic_dedup_clustered over the full corpus UNDER THE SAME FROZEN
    CODEBOOK (read back from the index — the duality law as stated in
    the operator docstring)."""
    from rapids_and_rivers_spark.operators.dedup import (
        semantic_dedup_clustered,
    )
    from rapids_and_rivers_spark.operators.similarity import (
        codebook_from_table,
    )
    from rapids_and_rivers_spark.sources import load_table
    from rapids_and_rivers_spark.streaming.duals import (
        semdedup_clustered_foreach_batch,
        semdedup_clustered_keep_list,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    rows = emb.collect()
    b1 = [r for r in rows if r.vec_id % 2 == 0]
    b2 = [r for r in rows if r.vec_id % 2 == 1]

    def enc(r):
        return json.dumps({"vec_id": r.vec_id, "embedding": list(r.embedding)})

    stream = _two_batch_source(
        spark,
        str(tmp_path / "in"),
        [enc(r) for r in b1],
        [enc(r) for r in b2],
        "vec_id long, embedding array<double>",
    )
    index_dir = str(tmp_path / "semdedup_c")
    q = (
        stream.writeStream.foreachBatch(
            semdedup_clustered_foreach_batch(index_dir, dim=64, threshold=0.4)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r.vec_id, r.rep_id, r.is_kept)
        for r in semdedup_clustered_keep_list(spark, index_dir).collect()
    }
    frozen = codebook_from_table(
        spark.read.parquet(str(tmp_path / "semdedup_c" / "codebook"))
    )
    expected = {
        (r.vec_id, r.rep_id, r.is_kept)
        for r in semantic_dedup_clustered(
            emb, dim=64, threshold=0.4, codebook=frozen
        ).collect()
    }
    assert got == expected and len(got) == len(rows)
    # the incremental index actually found CROSS-batch pairs: at least
    # one non-kept doc whose rep lives in the other parity class
    cross = [
        (v, rep) for v, rep, kept in got if not kept and (v % 2) != (rep % 2)
    ]
    assert cross, "no cross-batch near-dup resolved through the index"


def test_codebook_recluster_warning_fires_on_outgrowth(spark, tmp_path):
    """VERDICT r11 #9: the >2x corpus-outgrowth re-cluster event is a
    DETECTABLE condition, not prose — with no stream-start estimate the
    training corpus defaults to epoch 0's rows, so a third equal-sized
    epoch pushes the accumulated corpus past 2x and the ingest stage
    must warn loudly."""
    import warnings

    from rapids_and_rivers_spark.streaming.duals import (
        ivf_index_foreach_batch,
    )

    _queries, candidates = _ivf_embeddings(spark)
    index_dir = str(tmp_path / "ivf_wm")
    stage = ivf_index_foreach_batch(index_dir, dim=64, n_cells=16)
    stage(candidates.filter(F.col("neighbor_id") % 3 == 0), 0)
    # two more ~equal-sized epochs push the accumulated corpus past 2x
    # the epoch-0 training baseline; the warning must have fired by the
    # time the last epoch lands (exact firing epoch depends on split
    # sizes — the condition is on the accumulated total)
    with pytest.warns(RuntimeWarning, match="re-cluster event"):
        stage(candidates.filter(F.col("neighbor_id") % 3 == 1), 1)
        stage(candidates.filter(F.col("neighbor_id") % 3 == 2), 2)
    # the manifest is auditable: per-epoch counts + the pinned baseline
    manifest = json.loads(
        open(os.path.join(index_dir, "_codebook_corpus.json")).read()
    )
    assert set(manifest["epoch_rows"]) == {"0", "1", "2"}
    assert manifest["train_rows"] == manifest["epoch_rows"]["0"]


def test_codebook_recluster_respects_expected_corpus_and_replay(
    spark, tmp_path
):
    """With the stream-start corpus estimate pinned, ingesting exactly
    that corpus must stay silent — including under an at-least-once
    REPLAY of an epoch (per-epoch manifest keys overwrite instead of
    double-counting)."""
    import warnings

    from rapids_and_rivers_spark.streaming.duals import (
        ivf_index_foreach_batch,
    )

    _queries, candidates = _ivf_embeddings(spark)
    n = candidates.count()
    index_dir = str(tmp_path / "ivf_wm2")
    stage = ivf_index_foreach_batch(
        index_dir, dim=64, n_cells=16, expected_corpus_rows=n
    )
    even = candidates.filter(F.col("neighbor_id") % 2 == 0)
    odd = candidates.filter(F.col("neighbor_id") % 2 == 1)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        stage(even, 0)
        stage(odd, 1)
        stage(odd, 1)  # replay: same epoch key, no double-count
    manifest = json.loads(
        open(os.path.join(index_dir, "_codebook_corpus.json")).read()
    )
    assert manifest["train_rows"] == n
    assert sum(manifest["epoch_rows"].values()) == n


@pytest.mark.parametrize(
    "query",
    [
        "stream_ivf_index",
        "stream_ivf_compacted",
        "stream_semantic_dedup_clustered",
        "stream_semdedup_compacted",
    ],
)
def test_catalog_codebook_duals_raise_no_false_recluster_event(spark, query):
    """The catalog's frozen-codebook duals pass their corpus size as the
    stream-start estimate, so ingesting exactly that corpus raises no
    re-cluster event (without it the training corpus is epoch 0's rows
    and two or three equal epochs pass 2x on every run)."""
    import warnings

    from conftest import sf_dir

    from rapids_and_rivers_spark import catalog

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        rows = catalog.queries()[query](spark, sf_dir()).collect()
    assert rows
    assert not [w for w in caught if "re-cluster event" in str(w.message)]


def test_catalog_state_root_is_removed_at_exit(tmp_path):
    """Every stream query's store dir is a fresh dir under one
    per-process root, and the catalog's exit hook removes that root with
    everything written under it."""
    import subprocess
    import sys

    script = (
        "import json\n"
        "from rapids_and_rivers_spark import catalog\n"
        "a, b = catalog._state_dir('q'), catalog._state_dir('q')\n"
        "open(a + '/part-0.parquet', 'w').write('x')\n"
        "print(json.dumps([catalog._state_root(), a, b]))\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    )
    root, a, b = json.loads(r.stdout)
    assert os.path.dirname(root) == str(tmp_path)
    assert a != b and os.path.dirname(a) == os.path.dirname(b) == root
    assert not os.path.exists(root) and not list(tmp_path.iterdir())
