"""Isolated per-query timing probe: reuse tools/plan_capture.py's
builders, time the noop sink N times for the named queries only.

Usage: python tools/probe.py <runs> <query> [query...]
"""
import sys
import time

from plan_capture import builders, em, spark

from polaroam_spark import unpersist_caches


def run(df):
    df.write.format("noop").mode("overwrite").save()


def main(runs, names):
    for name in names:
        fn = builders[name]
        spark.sparkContext.setJobDescription(f"probe:{name}")
        times = []
        for _ in range(runs):
            em._MATERIALIZED_MEDIANS.clear()
            spark.catalog.clearCache()
            unpersist_caches()
            t0 = time.time()
            run(fn())
            times.append(round(time.time() - t0, 3))
        print(f"{name}: {times} median={sorted(times)[len(times)//2]}")
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main(int(sys.argv[1]), sys.argv[2:])
