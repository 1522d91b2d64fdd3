"""Repository benchmark: seeded extraction and curation workloads at local[4].

    python3 perfbench/run.py --workload mixed_commit --seed 1 --seconds 20 --trace 0

Run from the repository root. One driver process, one Spark job at a
time: a closed loop with a single client, on ``local[4]`` with a 2 GiB
driver heap. Set-up (session start, corpus generation, an untimed
warm-up pass whose output is checked against the plain-Python
reference, then the workload's untimed warm reps) is timed as
``setup_s``; the workload's action then repeats while the next rep is
expected to end within ``--seconds``, and the medians over those reps
are reported.

BENCHMARK.json runs mixed_commit and curate_dup. text_heavy (HTML only)
and media_unique (OCR only, every payload distinct) run the same way
but are left out of it: four workloads do not fit the benchmark's total
run budget at a window long enough to be steady on a shared 4-vCPU
host. BENCH_r05.json and BENCH/*.json were taken at local[32] as
min-of-3 per query and are not comparable with these numbers.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
separate traced run (trace.py) and prints the per-layer metrics. The
last line of stdout is one JSON object: correct, attempted, failed and
metrics. A human-readable table goes to stderr.

Everything the run writes lives under ``.perfbench_work/`` in the
repository root and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
SETUP_REPS = 3  # corpus generations per run; setup_s uses their median


def _paths_ready() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("ocr_tool_spark/session.py", "tests/refspec.py")
    )


def build_spark(work: str, event_log: str | None = None):
    """local[4] session whose temporary files all stay under ``work``."""
    from ocr_tool_spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    spark = build_session(app_name="perfbench", cores=CORES,
                          shuffle_partitions=2 * CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM that pyspark launched and wait for every process this
    run started (JVM, pyspark.daemon, workers) to be gone."""
    import signal

    from pyspark import SparkContext

    from perfbench.procstat import alive, tree_pids

    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None  # noqa: SLF001
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=timeout)
    # the daemon and its workers are re-parented once the JVM is gone
    deadline = time.monotonic() + timeout
    while any(alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in filter(alive, started):
        os.kill(p, signal.SIGKILL)


def set_up(workload_cls, seed: int, work: str, event_log: str | None = None):
    """Session start, corpus generation (SETUP_REPS times, checked to be
    byte-identical) and the checked warm-up pass.
    -> (workload, spark, setup seconds by part)."""
    from perfbench import corpora

    t0 = time.perf_counter()
    spark = build_spark(work, event_log)
    session_s = time.perf_counter() - t0
    try:
        gen_s, digests = [], set()
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            corpus = corpora.generate(workload_cls.name, workload_cls.size, seed, ROOT,
                                      os.path.join(work, "corpus"))
            gen_s.append(time.perf_counter() - t0)
            digests.add(corpus.digest())
        if len(digests) != 1:
            raise RuntimeError("corpus generation is not deterministic for this seed")
        wl = workload_cls()
        t0 = time.perf_counter()
        wl.load(spark, corpus, seed)
        wl.warm(work)
        # untimed reps past the JIT and Python-worker ramp
        for i in range(wl.warm_reps):
            wl.rep(os.path.join(work, f"warm-rep-{i}"))
        warm_s = time.perf_counter() - t0
    except BaseException:
        spark.stop()
        raise
    parts = {"session_s": session_s, "generate_s": statistics.median(gen_s), "warm_s": warm_s}
    return wl, spark, parts


def timed_reps(wl, work: str, seconds: float, min_reps: int | None = None):
    """Closed loop: the next rep starts when the previous one is done,
    while it is expected (at the mean rep time so far) to end within
    ``seconds``, and at least ``min_reps`` times.
    -> (reps, cpu seconds per rep, peak tree RSS bytes, failures)."""
    from perfbench.procstat import TreeSampler
    from perfbench.workloads import CheckFailed

    reps, cpu, failed = [], [], 0
    peak = 0
    min_reps = min_reps or wl.min_reps
    start = time.perf_counter()

    def another() -> bool:
        done = len(reps) + failed
        elapsed = time.perf_counter() - start
        return done < min_reps or elapsed * (done + 1) / done <= seconds

    while another():
        rep_dir = os.path.join(work, f"rep-{len(reps) + failed}")
        try:
            with TreeSampler() as s:
                r = wl.rep(rep_dir)
        except CheckFailed as e:
            print(f"rep failed its check: {e}", file=sys.stderr)
            failed += 1
            continue
        except Exception:  # a rep that raised counts as failed; keep going
            traceback.print_exc()
            failed += 1
            continue
        finally:
            shutil.rmtree(rep_dir, ignore_errors=True)
        peak = max(peak, s.peak_rss_bytes)
        reps.append(r)
        cpu.append(s.cpu_s)
    return reps, cpu, peak, failed


def end_to_end(workload_cls, seed: int, seconds: float, work: str) -> dict:
    from perfbench.workloads import CheckFailed

    try:
        wl, spark, parts = set_up(workload_cls, seed, work)
    except CheckFailed as e:
        print(f"warm-up output failed its check: {e}", file=sys.stderr)
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    try:
        reps, cpu, peak, failed = timed_reps(wl, work, seconds)
    finally:
        spark.stop()
    attempted = 1 + len(reps) + failed
    if not reps:
        return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}
    batches = [b for r in reps for b in r.batch_s]
    metrics = {
        "docs_per_s": (statistics.median(r.docs / r.wall_s for r in reps), "docs/s"),
        "cpu_s_per_kdoc": (statistics.median(c / r.docs * 1000 for c, r in zip(cpu, reps)), "s"),
        "setup_s": (sum(parts.values()), "s"),
        "batch_s_p50": (statistics.median(batches), "s"),
    }
    report = dict(metrics)
    # does not repeat within a tenth across runs: a per-layer metric
    report["peak_rss_mb"] = (peak / 2**20, "MB")
    report["failed_frac"] = (failed / attempted, "ratio")
    report["write_amp"] = (statistics.median(r.write_amp for r in reps), "ratio")
    for k, v in parts.items():
        report[f"setup.{k}"] = (v, "s")
    report["reps"] = (len(reps), "count")
    report["batches"] = (len(batches), "count")
    print(f"{workload_cls.name:13s} rep wall_s " + " ".join(f"{r.wall_s:.3f}" for r in reps)
          + " | cpu_s " + " ".join(f"{c:.2f}" for c in cpu), file=sys.stderr)
    for name, (v, unit) in report.items():
        print(f"{workload_cls.name:13s} {name:22s} {v:14.4f} {unit}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["text_heavy", "media_unique", "mixed_commit", "curate_dup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not _paths_ready():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    # Python workers are started by the JVM and import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    try:
        if args.trace:
            from perfbench.trace import traced

            result = traced(cls, args.seed, args.seconds, work)
        else:
            result = end_to_end(cls, args.seed, args.seconds, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
