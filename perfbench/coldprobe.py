"""Cold set-up probe: import the engine, start its session, run one
trivial action and exit, doing no program work. Prints one JSON line
with the phase times and the session's effective configuration.

Run from the repository root: ``python3 perfbench/coldprobe.py``.
"""

from __future__ import annotations

import json
import time


def main() -> None:
    t0 = time.perf_counter()
    from twitter_social_triangle_mapreduce_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(app_name="tstm-probe")  # as the CLI builds its session
    t2 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    sc = spark.sparkContext
    print(
        json.dumps(
            {
                "import_s": t1 - t0,
                "start_s": t2 - t1,
                "first_action_s": t3 - t2,
                "master": sc.master,
                "default_parallelism": sc.defaultParallelism,
                "spark_version": spark.version,
                "java_version": sc._jvm.System.getProperty("java.version"),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
