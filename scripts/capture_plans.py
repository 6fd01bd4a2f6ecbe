"""Capture `.explain("formatted")` for named registered queries into
OUT_DIR/<key>_<suffix>.txt — before/after plan artifacts that diff
cleanly.

Usage:
    python scripts/capture_plans.py OUT_DIR SUFFIX KEY [KEY ...]
    python scripts/capture_plans.py OUT_DIR SUFFIX --all

OUT_DIR is required: plans/ holds committed captures, so name a fresh
directory. SUFFIX is typically "before" or "after". Plans are built at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) so scan-node
statistics (PushedFilters / ReadSchema) match the bench scale.

Expression ids (``vec_id#123L``), exchange ``plan_id``s and RDD ids
(``MapPartitionsRDD[467]``) are session counters: they depend on every
plan and job run earlier in the process, so each file renumbers them in
order of first appearance. So are AQE query-stage ids (the
``Arguments: N`` of a ``ShuffleQueryStage``, ``BroadcastQueryStage``,
``TableCacheQueryStage`` or ``ResultQueryStage``), which a plan executed
during construction numbers in stage completion order. Two captures of
the same plan are then byte-identical whatever ran before them.

What a capture cannot prove: a key whose DataFrame ends in a
``localCheckpoint`` captures only its ``Scan ExistingRDD`` tail (a few
hundred bytes for LPA), so for BFS, PPR, LPA, landmark closeness and
the connected-components keys the proof of an unchanged result is the
digest of the sorted rows and the oracle, not this file. Executed plans
read back from the SQL status store cannot stand in: AQE re-plans
stages at run time, so two runs of unchanged code in fresh sessions
differ even with the listener bus drained and stage and codegen ids
renumbered (at sf0.01, the executed plans of all of a key's jobs
differed in 305 lines for ``dedup_clusters`` and in 28 for
``dedup_shingle_clusters``).
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_COUNTERS = tuple(
    re.compile(p)
    for p in (
        r"(#)(\d+)",
        r"(plan_id=)(\d+)",
        r"(RDD\[)(\d+)",
        r"(QueryStage\n(?:Output .*\n)?Arguments: )(\d+)",
    )
)


def normalize(txt: str) -> str:
    """Renumber expression, plan, RDD and query-stage ids by first
    appearance."""
    for pat in _COUNTERS:
        seen: dict = {}

        def renum(m, seen=seen):
            return m.group(1) + str(seen.setdefault(m.group(2), len(seen)))

        txt = pat.sub(renum, txt)
    return txt


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out_dir, suffix, keys = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    from pro_etl_spark.session import get_spark
    import pro_etl_spark

    spark = get_spark("plan-capture")
    qs = pro_etl_spark.get_queries()
    if keys == ["--all"]:
        keys = sorted(qs)
    import contextlib
    import io

    for k in keys:
        df = qs[k](spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        txt = normalize(buf.getvalue())
        path = os.path.join(out_dir, f"{k}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        n_exch = txt.count("Exchange")
        n_py = sum(txt.count(t) for t in ("BatchEvalPython", "ArrowEvalPython"))
        print(f"{k}: {len(txt)} B, Exchange x{n_exch}, PyEval x{n_py} -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
