"""Write the optimized logical plan of every `queries()` registry entry,
one file per query, with expression ids (`#12`, `#12L`) stripped so two
checkouts' plans compare as text.

Usage: python tools/dump_plans.py OUT_DIR SF_DIR [query ...]

Compare two checkouts with `diff -r OUT_A OUT_B`. A query whose builder
raises gets an `ERROR <exception>` file instead of a plan.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EXPR_ID = re.compile(r"#\d+L?")


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])

    import __spark_entry__ as E
    from pyspark.sql import SparkSession

    from movingspark.session import tune_builder

    spark = tune_builder(
        SparkSession.builder.master("local[2]")
        .appName("dump-plans")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false"),
        tmpfs_scratch=True,
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    os.makedirs(out_dir, exist_ok=True)
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
            text = EXPR_ID.sub("", plan)
        except Exception as e:  # the file records the failure; the run goes on
            text = f"ERROR {type(e).__name__}: {e}\n"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(text)
        print(name, "ERROR" if text.startswith("ERROR") else "ok", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
