#!/usr/bin/env python
"""Dump .explain("formatted") for the given registered queries into
plans/r{ROUND}/<name>_<suffix>.txt (the judge checks plan claims against
these committed files). Usage:
    python scripts/dump_plans.py before q1 q2 ...

Run-to-run counters are renumbered in order of first appearance (see
``normalise``), so two dumps of the same plan are byte-identical and a
before/after pair compares with plain ``diff``.
"""
from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# (counter pattern, kind). ExprIds and lambda names come from
# session-global counters; plan_id, whole-stage codegen ids and query-stage
# ids follow the order in which AQE stages finish.
_COUNTERS = [
    (re.compile(r"(?<=#)\d+"), "expr"),
    (re.compile(r"(?<=\bx_)\d+\b"), "lambda"),
    (re.compile(r"(?<=plan_id=)\d+"), "plan"),
    (re.compile(r"(?<=codegen id : )\d+"), "codegen"),
    (re.compile(r"(?<=\*\()\d+(?=\))"), "codegen"),
]
_NODE = re.compile(r"^\(\d+\) (\S+)")
_STAGE_ID = re.compile(r"(?<=^Arguments: )\d+$")


def normalise(plan: str) -> str:
    """Renumber exprIds, lambda names, ``plan_id``, ``codegen id`` and
    query-stage ids (a QueryStage node's ``Arguments: N``) in order of
    first appearance, one sequence per kind. Equal ids stay equal, so
    attribute identity is kept."""
    seen: dict[str, dict[str, int]] = {}

    def renumber(pat: re.Pattern, kind: str, line: str) -> str:
        ids = seen.setdefault(kind, {})
        return pat.sub(lambda m: str(ids.setdefault(m.group(0), len(ids))), line)

    out, node = [], ""
    for line in plan.splitlines(keepends=True):
        m = _NODE.match(line)
        if m:
            node = m.group(1)
        if node.endswith("QueryStage"):
            line = renumber(_STAGE_ID, "stage", line)
        for pat, kind in _COUNTERS:
            line = renumber(pat, kind, line)
        out.append(line)
    return "".join(out)


def main() -> None:
    from kinesis_spark.queries import get_registry
    from kinesis_spark.session import get_spark

    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    with open(os.path.join(REPO, "ROUND")) as f:
        rnd = int(f.read().strip())
    out_dir = os.path.join(REPO, "plans", f"r{rnd}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    reg = get_registry()
    import contextlib
    import io

    for name in names:
        df = reg[name].spark_fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = normalise(buf.getvalue())
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange, "
              f"{plan.count('Scan parquet')} parquet-scan strings)",
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
