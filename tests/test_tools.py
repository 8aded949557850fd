"""Regression tests for the tools/ gate scripts themselves.

The round's correctness + scale evidence rests on tools/explain_audit.py,
tools/check_oracle.py and tools/bench_compare.py — these tests pin their
behavior on synthetic inputs, including the deliberately-bad cases the
gates exist to catch (VERDICT r3 task 9).
"""

import json
import math
import os
import sys
import textwrap

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import explain_audit  # noqa: E402
import check_oracle  # noqa: E402
import bench_compare  # noqa: E402
import collect_audit  # noqa: E402
import dump_plans  # noqa: E402
import profile_query  # noqa: E402


# ---------------------------------------------------------------- plans

def plan(s: str) -> str:
    return textwrap.dedent(s).strip("\n")


GOOD_TIME_AGG_PLAN = plan(
    """
    Project [day#12, revenue#6, avg#30]
    +- Window [avg(revenue#6) windowspecdefinition(day#12 ASC) AS avg#30], [day#12 ASC]
       +- *(4) Sort [day#12 ASC NULLS FIRST], false, 0
          +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]
             +- *(3) HashAggregate(keys=[day#12], functions=[sum(price#3)], output=[day#12, revenue#6])
                +- Exchange hashpartitioning(day#12, 32), ENSURE_REQUIREMENTS, [plan_id=5]
                   +- *(1) HashAggregate(keys=[day#12], functions=[partial_sum(price#3)], output=[day#12, sum#22])
                      +- *(1) Project [cast(ts#45 as date) AS day#12, price#3]
                         +- FileScan parquet [ts#45,price#3]
    """
)

GOOD_LIMIT_PLAN = plan(
    """
    Project [rk#30, o_custkey#1L, revenue#6]
    +- Window [row_number() windowspecdefinition(revenue#6 DESC) AS rk#30], [revenue#6 DESC]
       +- *(2) Sort [revenue#6 DESC NULLS LAST], false, 0
          +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]
             +- TakeOrderedAndProject(limit=100, orderBy=[revenue#6 DESC], output=[o_custkey#1L,revenue#6])
                +- *(1) HashAggregate(keys=[o_custkey#1L], functions=[sum(price#3)])
                   +- FileScan parquet [o_custkey#1L,price#3]
    """
)

BAD_UNBOUNDED_AGG_PLAN = plan(
    """
    Project [rk#30, o_custkey#1L, revenue#6]
    +- Window [row_number() windowspecdefinition(revenue#6 DESC) AS rk#30], [revenue#6 DESC]
       +- *(2) Sort [revenue#6 DESC NULLS LAST], false, 0
          +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]
             +- *(1) HashAggregate(keys=[o_custkey#1L], functions=[sum(price#3)], output=[o_custkey#1L, revenue#6])
                +- FileScan parquet [o_custkey#1L,price#3]
    """
)

BAD_RAW_SCAN_PLAN = plan(
    """
    Window [ntile(10) windowspecdefinition(score#4 ASC) AS decile#9], [score#4 ASC]
    +- *(1) Sort [score#4 ASC NULLS FIRST], false, 0
       +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=3]
          +- FileScan parquet [doc_id#1,score#4]
    """
)

PARTITIONED_WINDOW_PLAN = plan(
    """
    Window [row_number() windowspecdefinition(k#1, v#2 DESC) AS rk#9], [k#1], [v#2 DESC]
    +- *(1) Sort [k#1 ASC, v#2 DESC], false, 0
       +- Exchange hashpartitioning(k#1, 32), ENSURE_REQUIREMENTS, [plan_id=3]
          +- FileScan parquet [k#1,v#2]
    """
)


class TestGlobalWindowBounded:
    def test_time_trunc_aggregate_input_is_bounded(self):
        assert explain_audit.global_window_bounded(GOOD_TIME_AGG_PLAN)

    def test_constant_limit_input_is_bounded(self):
        assert explain_audit.global_window_bounded(GOOD_LIMIT_PLAN)

    def test_unbounded_key_aggregate_is_flagged(self):
        assert not explain_audit.global_window_bounded(BAD_UNBOUNDED_AGG_PLAN)

    def test_raw_scan_input_is_flagged(self):
        assert not explain_audit.global_window_bounded(BAD_RAW_SCAN_PLAN)

    def test_partitioned_window_is_not_the_pattern(self):
        assert explain_audit.global_window_bounded(PARTITIONED_WINDOW_PLAN)

    def test_single_partition_exchange_without_window_ok(self):
        p = plan(
            """
            CollectLimit 1
            +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=2]
               +- FileScan parquet [a#1]
            """
        )
        assert explain_audit.global_window_bounded(p)

    def test_audit_plan_flags_bad_global_window(self):
        flags, _ = explain_audit.audit_plan("anything", BAD_UNBOUNDED_AGG_PLAN)
        assert any("partition-less Window" in f for f in flags)

    def test_audit_plan_accepts_good_global_window_without_whitelist(self):
        # the r3 name-whitelist is gone: acceptance is structural
        assert not hasattr(explain_audit, "GLOBAL_WINDOW_OK")
        flags, _ = explain_audit.audit_plan("any_name_at_all", GOOD_TIME_AGG_PLAN)
        assert flags == []


class TestAuditPlanFlags:
    def test_batch_eval_python_flagged(self):
        p = "Project [x#1]\n+- BatchEvalPython [f(x#1)]\n   +- FileScan parquet [x#1]"
        flags, _ = explain_audit.audit_plan("q", p)
        assert any("BatchEvalPython" in f for f in flags)

    def test_arrow_eval_python_not_flagged(self):
        p = "Project [x#1]\n+- ArrowEvalPython [f(x#1)]\n   +- FileScan parquet [x#1]"
        flags, _ = explain_audit.audit_plan("q", p)
        assert flags == []

    def test_cartesian_flagged_unless_whitelisted(self):
        p = "CartesianProduct\n:- FileScan parquet [a#1]\n+- FileScan parquet [b#2]"
        flags, _ = explain_audit.audit_plan("not_whitelisted", p)
        assert "CartesianProduct" in flags
        name = next(iter(explain_audit.SCALAR_CROSS_OK))
        flags, _ = explain_audit.audit_plan(name, p)
        assert "CartesianProduct" not in flags

    def test_stats_counts(self):
        p = (
            "*(2) Project [a#1]\n"
            "+- Exchange hashpartitioning(a#1, 32)\n"
            "   +- BroadcastExchange HashedRelationBroadcastMode\n"
            "      +- *(1) FileScan parquet [a#1]"
        )
        _, stats = explain_audit.audit_plan("q", p)
        assert stats == {"shuffles": 1, "broadcasts": 1, "scans": 1, "codegen_spans": 2}


class TestLiveAuditOnSession(object):
    """End-to-end: the auditor's verdict on real Spark plans."""

    def test_unpartitioned_window_over_raw_input_flagged(self, spark):
        from pyspark.sql import functions as F, Window

        df = spark.range(1000).withColumn(
            "rk", F.row_number().over(Window.orderBy("id"))
        )
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        assert not explain_audit.global_window_bounded(p)

    def test_unpartitioned_window_after_limit_ok(self, spark):
        from pyspark.sql import functions as F, Window

        df = (
            spark.range(1000)
            .orderBy(F.desc("id"))
            .limit(10)
            .withColumn("rk", F.row_number().over(Window.orderBy(F.desc("id"))))
        )
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        assert explain_audit.global_window_bounded(p)

    def test_unpartitioned_window_over_date_rollup_ok(self, spark):
        from pyspark.sql import functions as F, Window

        df = (
            spark.range(1000)
            .withColumn("ts", F.timestamp_seconds(F.col("id") * 3600))
            .withColumn("day", F.col("ts").cast("date"))
            .groupBy("day")
            .agg(F.count("*").alias("n"))
            .withColumn(
                "cum", F.sum("n").over(Window.orderBy("day").rowsBetween(-6, 0))
            )
        )
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        assert explain_audit.global_window_bounded(p)


# ------------------------------------------------------------ check_oracle

class TestNormalize:
    def test_null_and_nan_canonicalized(self):
        df = pd.DataFrame({"a": [None, float("nan")], "b": [1.0, 2.0]})
        rows = check_oracle.normalize(df)
        assert rows == [("NULL", "1.000000"), ("NULL", "2.000000")]

    def test_column_order_insensitive(self):
        d1 = pd.DataFrame({"x": [1], "y": ["a"]})
        d2 = pd.DataFrame({"y": ["a"], "x": [1]})
        assert check_oracle.normalize(d1) == check_oracle.normalize(d2)

    def test_row_order_insensitive(self):
        d1 = pd.DataFrame({"x": [2, 1]})
        d2 = pd.DataFrame({"x": [1, 2]})
        assert check_oracle.normalize(d1) == check_oracle.normalize(d2)

    def test_float_rounding_to_6_places(self):
        d1 = pd.DataFrame({"x": [0.123456]})
        d2 = pd.DataFrame({"x": [0.123459]})
        # differ past the 6th decimal -> distinct canonical forms
        assert check_oracle.normalize(d1) != check_oracle.normalize(d2)
        d3 = pd.DataFrame({"x": [0.12345600001]})
        d4 = pd.DataFrame({"x": [0.123456]})
        assert check_oracle.normalize(d3) == check_oracle.normalize(d4)

    def test_value_mismatch_detected(self):
        d1 = pd.DataFrame({"x": [1, 2, 3]})
        d2 = pd.DataFrame({"x": [1, 2, 4]})
        assert check_oracle.normalize(d1) != check_oracle.normalize(d2)


# ----------------------------------------------------------- bench_compare

class TestBenchCompare:
    def test_load_full_dict(self, tmp_path):
        p = tmp_path / "b.json"
        p.write_text(json.dumps({"queries": {"q1": 1.5, "q2": 2.0}}))
        assert bench_compare.load_queries(str(p)) == {"q1": 1.5, "q2": 2.0}

    def test_load_parsed_fallback(self, tmp_path):
        p = tmp_path / "b.json"
        p.write_text(json.dumps({"parsed": {"queries": {"q1": 3.0}}}))
        assert bench_compare.load_queries(str(p)) == {"q1": 3.0}

    def test_load_tail_regex_fallback_drops_non_query_keys(self, tmp_path):
        p = tmp_path / "b.json"
        tail = '{"metric": "total", "value": 9.9, "sf": 0.1, "queries": {"q1": 1.25, "q2": 0.5}}'
        p.write_text(json.dumps({"tail": tail}))
        q = bench_compare.load_queries(str(p))
        assert q == {"q1": 1.25, "q2": 0.5}

    def test_median_entries_preferred_when_present(self, tmp_path):
        # BENCH_full.json (r4+) carries per-query medians; load_queries
        # must prefer them over single-pass numbers for comparisons
        p = tmp_path / "b.json"
        p.write_text(
            json.dumps(
                {
                    "queries": {"q1": 9.0},
                    "queries_median": {"q1": 1.0},
                }
            )
        )
        assert bench_compare.load_queries(str(p)) == {"q1": 1.0}


WGL_PARTIAL_PLAN = plan(
    """
    Project [k#1, v#2, rk#9]
    +- Window [row_number() windowspecdefinition(v#2 DESC) AS rk#9], [v#2 DESC]
       +- WindowGroupLimit [v#2 DESC], row_number(), 10, Final
          +- *(2) Sort [v#2 DESC NULLS LAST], false, 0
             +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]
                +- WindowGroupLimit [v#2 DESC], row_number(), 10, Partial
                   +- *(1) Sort [v#2 DESC NULLS LAST], false, 0
                      +- FileScan parquet [k#1,v#2]
    """
)


class TestWindowGroupLimitBounded:
    def test_wgl_partial_under_exchange_is_bounded(self):
        # rank-pushdown keeps <= k rows per upstream partition before the
        # single-partition exchange: bounded, must not flag
        assert explain_audit.global_window_bounded(WGL_PARTIAL_PLAN)


import collect_audit  # noqa: E402


class TestCollectAudit:
    """Source-level driver-materialization checker: the class of defect
    (toPandas/collect before any plan exists) the plan auditor cannot
    see. Structure or annotation, never a name whitelist."""

    def _audit(self, code: str):
        return collect_audit.audit_source(textwrap.dedent(code))

    def test_unbounded_topandas_flagged(self):
        # the round-4 label_noise_knn shape: full table to the driver
        bad = self._audit(
            """
            def q(spark, sf_dir):
                emb = load_table(spark, sf_dir, "embeddings")
                cand = emb.select("vec_id", "embedding").toPandas()
                return cand
            """
        )
        assert len(bad) == 1 and ".toPandas()" in bad[0][2]

    def test_unbounded_collect_flagged(self):
        bad = self._audit("rows = df.filter(c > 0).collect()\n")
        assert len(bad) == 1

    def test_group_by_agg_collect_is_not_global_agg(self):
        # groupBy().agg().collect() has unbounded group count — the agg
        # link alone must NOT launder it
        bad = self._audit("rows = df.groupBy('k').agg(f).collect()\n")
        assert len(bad) == 1

    def test_limit_chain_is_bounded(self):
        assert self._audit("rows = df.orderBy(h).limit(64).collect()\n") == []

    def test_global_agg_chain_is_bounded(self):
        assert self._audit("row = df.agg(F.max('x')).collect()[0]\n") == []

    def test_take_and_head_are_bounded(self):
        assert self._audit("rows = df.sort(c).take(5)\n") == []

    def test_annotation_accepts_with_reason(self):
        ok = self._audit(
            """
            # bounded-collect: n_cells codebook rows by construction
            rows = codebook_df.orderBy("cell").collect()
            """
        )
        assert ok == []

    def test_annotation_must_be_adjacent(self):
        # an annotation far above the call must not leak downward
        bad = self._audit(
            """
            # bounded-collect: about some other site
            x = 1
            y = 2
            z = 3
            w = 4
            rows = df.collect()
            """
        )
        assert len(bad) == 1

    def test_to_local_iterator_flagged(self):
        bad = self._audit("it = df.toLocalIterator()\n")
        assert len(bad) == 1

    def test_current_package_is_clean(self):
        import subprocess

        r = subprocess.run(
            [
                sys.executable,
                os.path.join(
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools",
                    "collect_audit.py",
                ),
            ],
            capture_output=True,
            text=True,
        )
        assert r.returncode == 0, r.stdout + r.stderr


class TestPersistAudit:
    """Persist-hygiene rule (VERDICT r6 #2): a .persist()/.cache() must
    be unpersisted in its function or carry a persist-scope annotation —
    the cached-block-leak class recurred (BPE in r5, graph duals in r6),
    so it gets a gate like the collect class did."""

    def _audit(self, code: str):
        return collect_audit.audit_source(textwrap.dedent(code))

    def test_persist_without_unpersist_flagged(self):
        bad = self._audit(
            """
            def q(spark, sf_dir):
                cs = build(spark).distinct().persist()
                do_stuff(cs)
                return read_back(spark)
            """
        )
        assert len(bad) == 1 and "cs" in bad[0][2]

    def test_persist_with_unpersist_clean(self):
        ok = self._audit(
            """
            def q(spark, sf_dir):
                cs = build(spark).persist()
                result = consume(cs)
                cs.unpersist()
                return result
            """
        )
        assert ok == []

    def test_cache_is_also_checked(self):
        bad = self._audit("def q(df):\n    x = df.cache()\n    return x\n")
        assert len(bad) == 1

    def test_annotated_persist_clean(self):
        ok = self._audit(
            """
            def q(spark):
                # persist-scope: session — shared input corpus cache
                df = build(spark).persist()
                return df
            """
        )
        assert ok == []

    def test_unbound_chain_persist_flagged(self):
        bad = self._audit(
            "def q(df):\n    return consume(df.distinct().persist())\n"
        )
        assert len(bad) == 1 and "unbound" in bad[0][2]

    def test_rolling_alias_needs_annotation(self):
        # prev.unpersist() does NOT release the name 'tokens' — alias
        # release is exactly the subtle case that must be written down
        bad = self._audit(
            """
            def q(df):
                tokens = df.persist()
                for _ in range(3):
                    prev = tokens
                    tokens = step(tokens).persist()
                    prev.unpersist()
                return tokens
            """
        )
        assert len(bad) == 2

    def test_functools_lru_cache_call_not_flagged(self):
        # cache(...) with arguments is not the DataFrame method
        ok = self._audit("wrapped = functools.cache(fn)\n")
        assert ok == []


def test_driver_gate_prefix_covers_every_family():
    """The first 50 catalog queries ARE the driver's correctness gate —
    pin that the prefix stays exactly DRIVER_GATE (50 names, all
    registered, all full-oracle) so a new registration can't silently
    reshuffle which queries get driver-side evidence."""
    from rapids_and_rivers_spark import catalog

    gate = catalog.DRIVER_GATE
    assert len(gate) == 50 and len(set(gate)) == 50
    qs = list(catalog.queries())
    assert qs[:50] == gate
    oracles = catalog.oracle_sql()
    assert all(n in oracles for n in gate)
    assert list(oracles)[:50] == gate


def test_check_oracle_rejects_unknown_query_names_before_session():
    """Fail-fast contract (ADVICE r7): a typo'd query name must exit 2
    with the offending names listed BEFORE any Spark session builds —
    not KeyError mid-sweep hours in."""
    import subprocess
    import sys as _sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [
            _sys.executable,
            os.path.join(root, "tools", "check_oracle.py"),
            "/root/testdata/sf0.001",
            "not_a_real_query",
        ],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 2
    assert "not_a_real_query" in r.stdout


class TestAnnRecallScaleRules:
    """Pin the at-scale parameter derivations the sf1 recall artifact
    (ANN_RECALL_SF1.json / SCALING.md round 8) was measured under."""

    def test_ivf_cell_rule_holds_probe_fraction(self):
        import ann_recall_scale as A

        cells, nprobe = A.ivf_params(20000)
        assert cells == 512 and nprobe == 128  # 25% probe fraction
        cells_small, nprobe_small = A.ivf_params(500)
        assert nprobe_small / cells_small == 0.25

    def test_band_rule_rederives_floor(self):
        import math

        import ann_recall_scale as A

        r, b = A.band_params(20000, 10, 0.4)
        assert r == 5 and b == 16
        # the derived (r, B) must satisfy the documented floor at the
        # threshold cosine: 1 - (1 - p^r)^B >= 0.75
        p = 1.0 - math.acos(0.4) / math.pi
        assert 1.0 - (1.0 - p**r) ** b >= A.RECALL_FLOOR_BANDS


class TestShinglePairsIdentity:
    """Oracle-of-the-oracle: the round-8 inverted-index candidate CTE
    (catalog._shingle_pairs_cte) must enumerate the IDENTICAL
    (id_a, id_b, inter, sa, sb) set as the brute-force cross join it
    replaced, on corpora designed to stress the identity (empty docs,
    <3-token docs, exact dupes, disjoint docs, shared-boilerplate
    shingles, multi-block)."""

    DOCS = [
        (1, "a", "the quick brown fox jumps over the lazy dog"),
        (2, "a", "the quick brown fox jumps over the lazy cat"),
        (3, "a", "completely different words entirely here now"),
        (4, "a", ""),                      # empty -> no shingles
        (5, "a", "two words"),             # <3 tokens -> no shingles
        (6, "b", "the quick brown fox jumps over the lazy dog"),  # dupe, other block
        (7, "b", "the quick brown fox jumps over the lazy dog"),  # exact dupe of 6
        (8, "b", "boilerplate header the quick brown boilerplate footer"),
    ]

    def _run(self, block):
        import duckdb

        from rapids_and_rivers_spark import catalog as C

        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, source VARCHAR, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)", self.DOCS)
        blk_join = "AND a.source = b.source " if block else ""
        brute = con.execute(
            C._shingle_cte("source") + f"""
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.shingles, b.shingles)) AS inter,
                     len(a.shingles) AS sa, len(b.shingles) AS sb
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id {blk_join}
              WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
                AND len(list_intersect(a.shingles, b.shingles)) >= 1
            )
            SELECT * FROM pairs ORDER BY id_a, id_b
            """
        ).fetchall()
        inv = con.execute(
            C._shingle_cte("source")
            + C._shingle_pairs_cte("source" if block else "")
            + """
            pairs AS (SELECT id_a, id_b, inter, sa, sb FROM pairs0
                      WHERE inter >= 1)
            SELECT * FROM pairs ORDER BY id_a, id_b
            """
        ).fetchall()
        return brute, inv

    def test_blocked_identity(self):
        brute, inv = self._run(block=True)
        assert brute == inv and len(brute) > 0

    def test_unblocked_identity(self):
        brute, inv = self._run(block=False)
        assert brute == inv
        # the dupe pair must carry full-overlap intersection counts
        full = [r for r in brute if r[0] == 6 and r[1] == 7]
        assert full and full[0][2] == full[0][3] == full[0][4]


# ------------------------------------------- collect_audit growth mode

class TestCollectGrowthAudit:
    """VERDICT r9 #7: --fail-on-growth verifies the BOUND an annotation
    asserts, not just its existence — a 'bounded-collect: vocab' whose
    frame silently became corpus-sized must fail the audit."""

    def test_ceiling_table_first_match_wins(self):
        assert collect_audit.ceiling_for("limit(1) top pair, scalar") == 64
        # substring match: 'vocab' keyword catches 'vocabulary' too
        assert collect_audit.ceiling_for("the trained vocabulary") == 262144
        assert collect_audit.ceiling_for(None) == collect_audit.DEFAULT_CEILING
        assert collect_audit.ceiling_for("n_cells codebook rows") == 65536
        assert (
            collect_audit.ceiling_for("some unrecognized free text")
            == collect_audit.DEFAULT_CEILING
        )

    def test_degenerate_fixture_fails_growth_audit(self, spark, tmp_path):
        """A fixture module whose annotated 'vocab' collect actually
        materializes > ceiling rows must be flagged; the honest small
        collect in the same module must not."""
        fixture = tmp_path / "degenerate_mod.py"
        fixture.write_text(textwrap.dedent(
            """
            def bad(spark, n):
                df = spark.range(n)
                # bounded-collect: vocab (asserted, but degenerate)
                rows = df.collect()
                return len(rows)

            def good(spark):
                df = spark.range(10)
                # bounded-collect: one global scalar
                rows = df.collect()
                return len(rows)
            """
        ))
        sys.path.insert(0, str(tmp_path))
        try:
            import degenerate_mod  # noqa: E402

            cap = collect_audit.ceiling_for("vocab")

            def workload():
                degenerate_mod.good(spark)
                degenerate_mod.bad(spark, cap + 10)

            observed = collect_audit.run_growth_audit(
                workload, [str(tmp_path)]
            )
            violations = collect_audit.judge_observations(observed)
        finally:
            sys.path.remove(str(tmp_path))
            sys.modules.pop("degenerate_mod", None)
        assert len(violations) == 2 - 1  # exactly the degenerate site
        path, lineno, rows, ceiling, ann = violations[0]
        assert rows == cap + 10 and ceiling == cap
        assert "vocab" in ann
        # the honest site was observed but not flagged
        assert len(observed) == 2

    def test_instrumentation_restores_methods(self, spark):
        from pyspark.sql import DataFrame

        classes = [DataFrame]
        try:
            from pyspark.sql.classic.dataframe import DataFrame as CDF

            classes.append(CDF)
        except ImportError:
            pass
        before = [
            (c, c.__dict__.get("collect"), c.__dict__.get("toPandas"))
            for c in classes
        ]
        collect_audit.run_growth_audit(lambda: None, ["/nonexistent"])
        for c, bc, bp in before:
            assert c.__dict__.get("collect") is bc
            assert c.__dict__.get("toPandas") is bp


def test_dump_plans_masks_session_counters():
    """Two dumps of the same plan from different sessions differ only in
    expression ids, lambda-variable suffixes, exchange plan ids and RDD
    ids; all four are masked, and nothing else (column names that merely end in
    digits, operator ids, literals) is touched."""
    a = (
        "(3) Project [codegen id : 1]\n"
        "Output [2]: [query_id#12L, r_1#40]\n"
        "Arguments: transform(qc#7, lambdafunction(aggregate(zip_with("
        "lambda x_10#69, cc#8, lambdafunction((lambda x_11#71 * lambda "
        "y_12#72), lambda x_11#71, lambda y_12#72, false)), 0, "
        "lambdafunction((lambda acc_13#73L + lambda x_14#74L), lambda "
        "acc_13#73L, lambda x_14#74L, false)), lambda x_10#69, false)), 127\n"
        "Exchange hashpartitioning(query_id#12L, 4), ENSURE_REQUIREMENTS, "
        "[plan_id=535]\n"
        "Arguments: [u#9L], MapPartitionsRDD[667] at localCheckpoint"
    )
    b = (
        a.replace("#12L", "#301L").replace("#40", "#355")
        .replace("x_10#69", "x_98#410").replace("x_11#71", "x_99#411")
        .replace("y_12#72", "y_100#412").replace("acc_13#73L", "acc_101#413L")
        .replace("x_14#74L", "x_102#414L").replace("#7,", "#360,")
        .replace("#8,", "#361,").replace("plan_id=535", "plan_id=1201").replace("#9L", "#44L")
        .replace("RDD[667]", "RDD[664]")
    )
    assert a != b
    assert dump_plans.mask_plan(a) == dump_plans.mask_plan(b)
    masked = dump_plans.mask_plan(a)
    assert "#N" in masked and "#1" not in masked and "#7" not in masked
    assert "lambda x_N#N" in masked and "lambda acc_N#N" in masked
    assert "plan_id=N" in masked and "MapPartitionsRDD[N]" in masked
    # not session counters: left alone
    assert "r_1#N" in masked and "(3) Project [codegen id : 1]" in masked
    assert ", 127" in masked and ", 4)" in masked


def test_dump_plans_masks_stream_state_dirs():
    """The stream queries' store dirs get fresh ``tempfile.mkdtemp``
    names in every process (``catalog._state_root`` / ``_state_dir``);
    masked, two runs' locations match, and the query's own name and the
    path below the store dir stay."""
    a = (
        "Location: InMemoryFileIndex [file:/tmp/rars_stream_k3x_9a0q/ivf_0b7zt1qe/"
        "index/v1, file:/tmp/rars_stream_k3x_9a0q/semdedup_c_a_bcdefg]"
    )
    b = a.replace("k3x_9a0q", "zz8wq_1m").replace("0b7zt1qe", "q__1aa0z").replace(
        "a_bcdefg", "7hk2pq0r"
    )
    assert a != b
    masked = dump_plans.mask_plan(a)
    assert masked == dump_plans.mask_plan(b)
    assert masked == (
        "Location: InMemoryFileIndex [file:/tmp/rars_stream_N/ivf_N/index/v1, "
        "file:/tmp/rars_stream_N/semdedup_c_N]"
    )
    # a committed table's path is no per-process dir: left alone
    plain = "Location: InMemoryFileIndex [file:/data/sf0.01/events_20260101]"
    assert dump_plans.mask_plan(plain) == plain


def test_profile_query_reports_the_code_cache_pools(spark):
    """``profile_query`` reads the JVM's code-cache pools (one
    ``CodeCache``, or its ``CodeHeap`` segments), each with used <= peak
    <= max, and together they hold the whole reserved cache."""
    pools = profile_query._code_cache(spark)
    names = [p[0] for p in pools]
    assert names == ["CodeCache"] or (
        names and all(n.startswith("CodeHeap '") for n in names)
    )
    assert all(0 < used <= peak <= cap for _, used, peak, cap in pools)
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    reserved = int(bean.getVMOption("ReservedCodeCacheSize").getValue())
    assert round(sum(p[3] for p in pools)) == reserved >> 20
