#!/usr/bin/env python
"""Time named registry queries through the noop sink (bench
methodology: build + execute timed together) in a fresh session.

Usage: python tools/timequery.py [-n REPS] name [name ...]
Prints one JSON line {"name": [t1, t2, ...], ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    args = sys.argv[1:]
    reps = 1
    if args and args[0] == "-n":
        reps = int(args[1])
        args = args[2:]
    names = args

    from osmexpress_spark import get_spark
    from osmexpress_spark.registry import live

    registry = live()
    spark = get_spark(app_name="osmx-timequery", cpus=CPUS,
                      shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    # warmup (bench.py does the same): session/codegen startup
    registry["q_projection"](spark, SF_DIR).write.format(
        "noop"
    ).mode("overwrite").save()

    out: dict[str, list[float]] = {}
    for name in names:
        ts = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"timequery:{name}")
            t0 = time.monotonic()
            df = registry[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.monotonic() - t0, 3))
        out[name] = ts
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
