"""Write the optimized logical plan of every `queries()` registry entry,
one file per query, with expression ids (`#12`, `#12L`) and the
process-wide counter pyspark appends to lambda variables (`x_24`)
stripped so two checkouts' plans compare as text.

Usage: python tools/dump_plans.py OUT_DIR SF_DIR [query ...]

Compare two checkouts with `diff -r OUT_A OUT_B`. A query whose builder
raises gets an `ERROR <exception>` file instead of a plan.

Next to each plan, `<query>.bytecode` lists every whole-stage-codegen
subtree of the executed plan (AQE off) as `<bytes> <subtree root>`: the
bytecode size of the subtree's largest generated method. HotSpot never
JIT-compiles a method above 8 000 bytes (HugeMethodLimit), so such a
stage runs interpreted; the run ends by printing the queries that have
one, and exits 1 when there is any.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EXPR_ID = re.compile(r"#\d+L?|(?<=lambda )(\w+?)_\d+\b")
HUGE_METHOD_BYTES = 8000


def stage_bytecode(spark, df) -> list[tuple[int, str]]:
    """(largest method bytecode, subtree root line) per whole-stage
    subtree of `df`'s executed plan, planned with AQE off (an adaptive
    plan shows its stages only once they run)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = df.select("*")._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    stages = spark._jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(plan)
    out = []
    for i in range(stages.size()):
        stage = stages.apply(i)
        root = EXPR_ID.sub(r"\1", stage._1().strip().splitlines()[0])
        out.append((stage._3().maxMethodCodeSize(), root))
    return out


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])

    import __spark_entry__ as E
    from movingspark.session import local_session

    spark = local_session(2, "dump-plans")

    os.makedirs(out_dir, exist_ok=True)
    huge = {}
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        sizes = []
        try:
            df = fn(spark, sf_dir)
            text = EXPR_ID.sub(r"\1", df._jdf.queryExecution().optimizedPlan().toString())
            sizes = stage_bytecode(spark, df)
            code = "".join(f"{n} {root}\n" for n, root in sizes)
        except Exception as e:  # the file records the failure; the run goes on
            text = code = f"ERROR {type(e).__name__}: {e}\n"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(text)
        with open(os.path.join(out_dir, f"{name}.bytecode"), "w") as f:
            f.write(code)
        if any(n > HUGE_METHOD_BYTES for n, _ in sizes):
            huge[name] = max(n for n, _ in sizes)
        print(name, "ERROR" if text.startswith("ERROR") else "ok", flush=True)
    spark.stop()
    print(f"queries with a generated method above {HUGE_METHOD_BYTES} bytes:")
    for name, n in sorted(huge.items(), key=lambda kv: -kv[1]):
        print(f"  {name} {n}")
    return 1 if huge else 0


if __name__ == "__main__":
    sys.exit(main())
