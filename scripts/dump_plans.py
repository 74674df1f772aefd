"""Dump .explain('formatted') for named declared queries to plans/r06/.

Usage: python scripts/dump_plans.py <suffix> <entry> [<entry> ...]
Writes plans/r06/<entry>_<suffix>.txt (creating or overwriting those
files; nothing else in the repo changes). Builds or resumes the cached
entry indexes the queries need. Expression IDs (``#123``, ``#123L``)
and exchange ``plan_id``s are stripped, so dumps of two checkouts of
the same query diff cleanly:

    diff plans/r06/<entry>_before.txt plans/r06/<entry>_after.txt
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from gxdindexer_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: per-session counters in a formatted plan: expression IDs and the
#: exchange plan ids
_SESSION_IDS_RE = re.compile(r"#\d+L?|(?<=plan_id=)\d+")


def strip_ids(plan: str) -> str:
    return _SESSION_IDS_RE.sub("", plan)


def main() -> int:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark(app_name="dump-plans")
    qs = entrymod.queries()
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = strip_ids(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        with open(f"{out_dir}/{name}_{suffix}.txt", "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
