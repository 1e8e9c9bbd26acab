"""Capture .explain("formatted") for every registered query into plans/<round>/.

Usage:
    python scripts/plans.py ROUND before [name ...]   # default: all registered
    python scripts/plans.py ROUND after  name [...]

ROUND names the output directory (r10, r11, ...).  Driver-only work (plan
compilation, no job execution), so it can run while other Spark work is
idle.  Writes plans/<round>/<query>_<tag>.txt.
"""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    rnd = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]
    out = os.path.join(ROOT, "plans", rnd)
    os.makedirs(out, exist_ok=True)
    from dsq_spark.session import get_spark
    import dsq_spark.queries as Q

    spark = get_spark(f"{rnd}-plans")
    spark.sparkContext.setLogLevel("ERROR")
    todo = names or list(Q.REGISTRY)
    for name in todo:
        q = Q.REGISTRY[name]
        try:
            df = q.fn(spark, SF)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as ex:  # noqa: BLE001
            plan = f"PLAN ERROR: {ex}\n"
        with open(os.path.join(out, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"{name}: {len(plan)} bytes", flush=True)


if __name__ == "__main__":
    main()
