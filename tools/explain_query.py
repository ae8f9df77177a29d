"""Dump ``explain("formatted")`` for named queries to files.

Usage: python tools/explain_query.py OUT_DIR SUFFIX [sf_dir] query [query...]

Writes ``OUT_DIR/<query>_<SUFFIX>.txt`` for each name. Queries whose
construction executes eagerly (the CC family checkpoints inside) show
the final frame's plan, not the sym/pair subtrees they materialize
internally.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, names = rest[0], rest[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", rest

    from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES
    from bcg_contacts_data_pipeline_spark.session import get_spark

    spark = get_spark("explain")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
