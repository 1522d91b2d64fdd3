#!/usr/bin/env python
"""Generated-code census: the Java classes Spark compiles per action.

    python scripts/codegen_census.py --workload curate_dup --seed 101 --reps 6

Builds a perfbench workload's session (local[4], the engine's session
profile) and seeded corpus, then reads the compilation count of
Spark's ``CodegenMetrics`` around the checked warm-up pass and around
each rep of the workload's action. Spark caches compiled classes in an
LRU keyed by their source (``spark.sql.codegen.cache.maxEntries``), so
a plan whose classes all stay cached compiles nothing when it runs
again, and one whose classes outnumber the cache recompiles all of
them on every run. Prints one JSON line: per-action compilations and
wall seconds, and the size of the classes compiled.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["mixed_commit", "curate_dup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--reps", type=int, default=6)
    args = ap.parse_args(argv)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, os.path.join(ROOT, "tests"), os.environ.get("PYTHONPATH", "")]
    )

    from perfbench import corpora
    from perfbench.run import build_spark, stop_jvm
    from perfbench.workloads import WORKLOADS

    work = tempfile.mkdtemp(prefix="codegen-census-")
    try:
        spark = build_spark(work)
        codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
        wl_cls = WORKLOADS[args.workload]
        corpus = corpora.generate(wl_cls.name, wl_cls.size, args.seed, ROOT,
                                  os.path.join(work, "corpus"))
        wl = wl_cls()
        wl.load(spark, corpus, args.seed)

        def counted(action) -> dict:
            before = codegen.METRIC_COMPILATION_TIME().getCount()
            t0 = time.perf_counter()
            action()
            return {"compilations": codegen.METRIC_COMPILATION_TIME().getCount() - before,
                    "wall_s": round(time.perf_counter() - t0, 3)}

        warm = counted(lambda: wl.warm(work))
        reps = [counted(lambda i=i: wl.rep(os.path.join(work, f"rep-{i}")))
                for i in range(args.reps)]
        size = codegen.METRIC_GENERATED_CLASS_BYTECODE_SIZE()
        out = {
            "workload": args.workload,
            "seed": args.seed,
            "cache_max_entries": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
            "warm": warm,
            "reps": reps,
            "compilations_total": codegen.METRIC_COMPILATION_TIME().getCount(),
            "classes_total": size.getCount(),
            "class_bytes_mean": round(size.getSnapshot().getMean(), 1),
        }
        spark.stop()
        stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
