"""Round-8 optimization harness (guide §1): per-query noop-sink
timing + formatted-plan capture, SEPARATE from the frozen bench.py.

Usage:
  python bench_extra.py time q1 q2 ...      # noop timings (median of N)
  python bench_extra.py plans q1 q2 ...     # write plans/r08/<q>_<tag>.txt
  python bench_extra.py all                 # every bench.py headline query

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), BENCH_EXTRA_N (default 5),
     BENCH_EXTRA_TAG (plan filename suffix, default "before").
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE, HEAVY  # noqa: E402
from extract_sf_r_parallel_spark.plans import registry  # noqa: E402
from extract_sf_r_parallel_spark.session import get_spark  # noqa: E402

def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:] or HEADLINE + list(HEAVY)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n = int(os.environ.get("BENCH_EXTRA_N", "5"))
    tag = os.environ.get("BENCH_EXTRA_TAG", "before")
    spark = get_spark(app="bench_extra", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    # same pool warm-up as bench.py
    spark.range(10000).selectExpr("id * 2 as x").write.format("noop") \
        .mode("overwrite").save()

    if mode == "plans":
        os.makedirs("plans/r08", exist_ok=True)
        for name in names:
            df = registry.QUERIES[name](spark, sf_dir)
            p = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(f"plans/r08/{name}_{tag}.txt", "w") as f:
                f.write(p)
            print(f"wrote plans/r08/{name}_{tag}.txt")
        return

    out = {}
    for name in names:
        fn = registry.QUERIES[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        try:
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()  # warm-up
            runs = []
            for _ in range(n):
                df = fn(spark, sf_dir)
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                runs.append(round(time.time() - t0, 3))
            out[name] = {"median": round(statistics.median(runs), 3),
                         "min": min(runs), "runs": runs}
            print(name, out[name], flush=True)
        except Exception as e:  # noqa: BLE001
            out[name] = {"error": f"{type(e).__name__}: {e}"[:200]}
            print(name, out[name], flush=True)
        finally:
            spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
