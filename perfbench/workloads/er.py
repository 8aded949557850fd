"""er_epochs: the epoch-store lifecycle of streaming entity resolution,
as the catalog's ``stream_er_compacted`` query runs it. One operation:

1. ``er_index_foreach_batch`` ingests the documents in three epochs
   (``doc_id % 3``); its candidate pairs come from the operators layer
   (prefix-filter Jaccard, sorted neighbourhood);
2. ``er_compact_store(through_epoch=1)`` runs after epoch 1;
3. ``er_current_entities`` resolves the entities (connected components)
   and writes them out.

It is bound by job count, not data volume, and never touches rivers or
the streaming runtime. Each operation starts from a cleared cache and a
fresh store. The first sequence in a fresh JVM is an untimed warm-up:
class loading, code generation and compilation take a good part of its
CPU. The gated figure is the CPU a later sequence costs the engine per
document; its wall time is context, as it moves with whatever else
shares the machine's cores.
"""

from __future__ import annotations

import os
import time

import duckdb
from pyspark.sql import functions as F

from perfbench import data, harness, oracle

#: documents to resolve. The sequence is bound by job count: on a 4-vCPU
#: host its cold run took 26-30 s at 600 documents, 38 s at 2,000 and
#: 40 s at 5,000 (the sf0.1 size), so 600 keeps a run near 50 s.
N_DOCS = 600
#: documents of the warm-up sequence: it runs every plan the measured
#: one does, so it loads, generates and compiles the same code, with
#: less data to move
WARMUP_DOCS = 60
EPOCHS = 3
COMPACT_THROUGH = 1


def store_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dirpath, f))
        for dirpath, _, files in os.walk(root)
        for f in files
    )


class ErEpochs:
    name = "er_epochs"
    unit = "docs"  # counted by throughput: documents per second of sequence time
    #: the first sequence in a fresh JVM is untimed (see the docstring)
    warmup_ops = 1

    def __init__(self, seed: int):
        self.seed = seed
        self.tables = ""
        self.warm_tables = ""
        self.ops = 0

    def stage(self, spark, inputs: str) -> None:
        from rapids_and_rivers_spark.sources import load_table

        self.tables = os.path.join(inputs, "tables")
        data.write_tables(self.tables, self.seed, {"documents": N_DOCS})
        load_table(spark, self.tables, "documents").count()
        self.warm_tables = os.path.join(inputs, "warm_tables")
        data.write_tables(self.warm_tables, self.seed, {"documents": WARMUP_DOCS})

    def op(self, run, tracer, jobs) -> dict:
        from rapids_and_rivers_spark.sources import load_table
        from rapids_and_rivers_spark.streaming.duals import (
            er_compact_store,
            er_current_entities,
            er_index_foreach_batch,
            store_version_dirs,
        )

        spark = run.spark
        spark.catalog.clearCache()
        self.ops += 1
        # the first operation is the warm-up (``warmup_ops``)
        tables, n_docs = (self.warm_tables, WARMUP_DOCS) if self.ops == 1 else (self.tables, N_DOCS)
        d = run.path(f"er{self.ops}")
        index = os.path.join(d, "index")
        epochs, steps = [], {}
        cpu0 = harness.cpu_seconds(run.jvm_pid)
        t0 = time.perf_counter()
        docs = load_table(spark, tables, "documents").select("doc_id", "text")
        stage = er_index_foreach_batch(index, expected_records=docs.count())
        for epoch in range(EPOCHS):
            if epoch == COMPACT_THROUGH + 1:
                with jobs.group("compact") as counts, tracer.span("duals.compact") as s:
                    er_compact_store(spark, index, through_epoch=COMPACT_THROUGH)
                steps["compact"] = s["seconds"]
            with jobs.group("epoch") as counts, tracer.span("duals.ingest_epoch") as s:
                stage(docs.filter(F.col("doc_id") % EPOCHS == epoch), epoch)
            epochs.append({"seconds": s["seconds"], **counts})
        with jobs.group("read") as counts, tracer.span("duals.read") as s:
            er_current_entities(spark, index).write.parquet(os.path.join(d, "out"))
        steps["read"] = s["seconds"]
        seconds = time.perf_counter() - t0
        cpu = harness.cpu_seconds(run.jvm_pid) - cpu0
        channels = [os.path.join(index, c) for c in sorted(os.listdir(index))]
        return {
            "seconds": seconds,
            "items": n_docs,
            "samples": [seconds],
            "cpu": [cpu / n_docs],
            "epochs": epochs,
            "steps": steps,
            "store_dirs": sum(store_version_dirs(c) for c in channels if os.path.isdir(c)),
            "store_bytes": store_bytes(index),
            "dir": d,
            "tables": tables,
        }

    def check(self, run, op) -> list[str]:
        from rapids_and_rivers_spark import catalog

        con = oracle.connect(op["tables"], ["documents"])
        want = con.execute(catalog.oracle_sql()["stream_er_compacted"]).df()
        got = duckdb.connect().execute(
            f"SELECT * FROM read_parquet('{op['dir']}/out/*.parquet')"
        ).df()
        return oracle.frames_match(want, got, "entities")

    def layers(self, run, ops, tracer) -> dict:
        from statistics import median

        epochs = [e for op in ops for e in op["epochs"]]
        run.context["layer_samples"] = {"epochs": len(epochs), "sequences": len(ops)}
        return {
            "duals.ingest_epoch_s": median(e["seconds"] for e in epochs),
            "duals.compact_s": median(op["steps"]["compact"] for op in ops),
            "duals.read_s": median(op["steps"]["read"] for op in ops),
            "duals.jobs_per_epoch": median(e["jobs"] for e in epochs),
            "duals.tasks_per_epoch": median(e["tasks"] for e in epochs),
            "duals.store_dirs": ops[-1]["store_dirs"],
            "duals.store_bytes": ops[-1]["store_bytes"],
        }

    def close(self) -> None:
        pass
