#!/usr/bin/env python
"""Dump `.explain("formatted")` for named catalog queries to files.

Usage: python tools/dump_plans.py <out_dir> <suffix> [sf_dir] query [query ...]

Writes <out_dir>/<query>_<suffix>.txt for each query. `suffix` is
"before" / "after" per the optimization-round deliverable contract.

Plans are written masked (:func:`mask_plan`): expression ids, the fresh
suffixes of lambda variables, exchange plan ids and the RDD ids of
checkpointed inputs are session counters, so they shift whenever an
earlier query or expression changes; the stream queries' store dirs
(``catalog._state_root`` / ``_state_dir``) get fresh random names in
every process. With them masked, a `diff` of two trees' dumps shows
only real plan changes.
"""

from __future__ import annotations

import os
import re
import sys

_EXPR_ID = re.compile(r"#\d+")
# a lambda variable prints as `lambda <name>_<fresh id>#<expr id>`
_LAMBDA_SUFFIX = re.compile(r"\b(lambda \w+?)_\d+\b")
_PLAN_ID = re.compile(r"\bplan_id=\d+")
_RDD_ID = re.compile(r"RDD\[\d+\]")
# tempfile.mkdtemp names: the prefix, then 8 characters of [a-z0-9_]
_STATE_DIR = re.compile(r"\b(rars_stream_)[a-z0-9_]{8}/(\w+?_)[a-z0-9_]{8}(?!\w)")


def mask_plan(plan: str) -> str:
    """``plan`` with every expression id (``#123`` -> ``#N``), lambda
    variable suffix (``lambda x_12`` -> ``lambda x_N``), exchange plan
    id (``plan_id=7`` -> ``plan_id=N``), RDD id
    (``MapPartitionsRDD[667]`` -> ``MapPartitionsRDD[N]``) and stream
    store dir (``rars_stream_k3x_9a0q/ivf_0b7zt1qe`` ->
    ``rars_stream_N/ivf_N``) masked."""
    plan = _STATE_DIR.sub(r"\1N/\2N", plan)
    plan = _LAMBDA_SUFFIX.sub(r"\1_N", plan)
    plan = _EXPR_ID.sub("#N", plan)
    plan = _RDD_ID.sub("RDD[N]", plan)
    return _PLAN_ID.sub("plan_id=N", plan)


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from rapids_and_rivers_spark import catalog
    from rapids_and_rivers_spark.session import build_session

    out_dir, suffix = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    sf_dir = rest[0] if rest and os.path.isdir(rest[0]) else "/root/testdata/sf0.1"
    names = rest[1:] if rest and os.path.isdir(rest[0]) else rest
    os.makedirs(out_dir, exist_ok=True)
    qs = catalog.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = build_session("rars_plans")
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = mask_plan(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
