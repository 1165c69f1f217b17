"""Round-6 measurement harness (bench.py is FROZEN — extra benchmarks live
here, per the optimization-round contract).

Modes:
  python bench_extra.py time [query ...]     best-of-N interleaved noop-sink
                                             timing (all queries if none named)
  python bench_extra.py plans <outdir> [q..] dump .explain("formatted") per query
  python bench_extra.py profile <query>      one query, event-log enabled, per-job
                                             wall breakdown via job descriptions
  python bench_extra.py pytasks <query ...>  per rep and query, the Python worker
                                             task invocations and their CPU

Same driver contract as bench.py ($SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS),
same noop-sink methodology (guide §1.4), interleaved reps because this host's
speed drifts ~2x over minutes (see BENCH/NOTES.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPS = int(os.environ.get("NTS_BENCH_REPS", "3"))


def _spark():
    from nettopologysuite_spark.engine.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_time(names: list[str]) -> None:
    import __spark_entry__ as E

    qs = E.queries()
    if names:
        qs = {n: qs[n] for n in names}
    spark = _spark()
    timings: dict[str, float] = {}
    for _rep in range(REPS):
        for name, fn in qs.items():
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            # a query that leaves a frame cached would flatter the next one
            spark.catalog.clearCache()
            if name not in timings or dt < timings[name]:
                timings[name] = dt
    spark.stop()
    print(json.dumps({"queries": timings,
                      "value": round(sum(timings.values()), 3)}))


def cmd_plans(outdir: str, names: list[str]) -> None:
    import __spark_entry__ as E

    os.makedirs(outdir, exist_ok=True)
    qs = E.queries()
    if names:
        qs = {n: qs[n] for n in names}
    spark = _spark()
    for name, fn in qs.items():
        try:
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # queries that execute eagerly still explain
            plan = f"<explain failed: {e}>"
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(name, "ok")
    spark.stop()


def cmd_profile(name: str) -> None:
    """Single query, REPS times in one session: per rep, the wall time of
    building the DataFrame (including any eager jobs the query function
    runs) and of executing it into the noop sink, plus the number of Spark
    jobs the rep ran (each rep runs under its own job group, counted from
    the status tracker)."""
    import __spark_entry__ as E

    spark = _spark()
    sc = spark.sparkContext
    fn = E.queries()[name]
    for rep in range(REPS):
        group = f"profile-{name}-{rep}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        df = fn(spark, SF_DIR)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        print(f"rep{rep}: build {t1 - t0:.3f}s  execute {t2 - t1:.3f}s  jobs {jobs}")
    spark.stop()


def _pytasks_read(log: str, timeout_s: float = 5.0) -> tuple[int, float]:
    """(task invocations, their worker CPU s) in the wrapper's log. A
    worker writes its end line just after the JVM has its output, so wait
    until every started task has ended."""
    deadline = time.time() + timeout_s
    while True:
        with open(log) as f:
            lines = [ln.split() for ln in f]
        starts = sum(1 for ln in lines if ln[0] == "S")
        ends = [float(ln[2]) for ln in lines if ln[0] == "E"]
        if len(ends) >= starts or time.time() > deadline:
            return starts, sum(ends)
        time.sleep(0.05)


def cmd_pytasks(names: list[str]) -> None:
    """Python worker task invocations per query, REPS times in one session:
    for each rep and query, how many Python worker tasks building the
    DataFrame (eager jobs included) and executing it into the noop sink
    started, and their summed worker-process CPU. Spark runs every Python
    task through ``tools/pyspark_pytasks.py`` (``spark.python.worker.module``),
    which logs each invocation. A driver-built table scanned through
    ``parallelize`` shows up here, not in the plan's Python nodes."""
    import tempfile

    import __spark_entry__ as E

    here = os.path.dirname(os.path.abspath(__file__))
    tools = os.path.join(here, "tools")
    workdir = tempfile.mkdtemp(prefix="pytasks-")
    log = os.path.join(workdir, "tasks.log")
    # the daemon and its workers inherit this process's environment
    os.environ["NTS_PYTASKS_LOG"] = log
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (tools, here, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.python.worker.module=pyspark_pytasks "
        + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    )
    qs = E.queries()
    spark = _spark()
    try:
        for rep in range(REPS):
            for name in names:
                open(log, "w").close()
                df = qs[name](spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                spark.catalog.clearCache()
                tasks, cpu = _pytasks_read(log)
                print(f"rep{rep} {name}: python tasks {tasks}  cpu {cpu:.3f}s", flush=True)
    finally:
        spark.stop()
        os.remove(log)
        os.rmdir(workdir)


def cmd_bwprobe(n_rows: int = 64_000_000) -> None:
    """Pure-bandwidth control for the scaling protocol (round-5 verdict #5):
    a no-kernel shuffle job (range → hash key → repartition → count) with
    the task count pinned to 8 and 32 inside ONE local[32] session,
    interleaved best-of-3. If the host memory bus is what flattens the
    engine's 8→32 curve, this kernel-free job must flatten the same way —
    its 8→32 'efficiency' is the hardware ceiling any engine number should
    be normalized by."""
    import time as _t

    from pyspark.sql import functions as F

    spark = _spark()
    spark.range(1000).count()  # warm
    best = {8: None, 32: None}
    for _rep in range(3):
        for parts in best:
            t0 = _t.time()
            (
                spark.range(0, n_rows, 1, parts)
                .select(F.pmod(F.xxhash64("id"), F.lit(parts * 64)).alias("k"))
                .repartition(parts, "k")
                .groupBy("k").count()
                .write.format("noop").mode("overwrite").save()
            )
            dt = _t.time() - t0
            if best[parts] is None or dt < best[parts]:
                best[parts] = dt
    spark.stop()
    thr = {p: n_rows / best[p] for p in best}
    print(json.dumps({
        "probe": "pure_shuffle",
        "rows": n_rows,
        "sec_8": round(best[8], 3), "sec_32": round(best[32], 3),
        "rows_per_sec_8": round(thr[8], 1), "rows_per_sec_32": round(thr[32], 1),
        "efficiency_8_32": round(thr[32] / (4.0 * thr[8]), 4),
    }))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    if mode == "time":
        cmd_time(sys.argv[2:])
    elif mode == "plans":
        cmd_plans(sys.argv[2], sys.argv[3:])
    elif mode == "profile":
        cmd_profile(sys.argv[2])
    elif mode == "pytasks":
        cmd_pytasks(sys.argv[2:])
    elif mode == "bwprobe":
        cmd_bwprobe(int(sys.argv[2]) if len(sys.argv) > 2 else 64_000_000)
    else:
        raise SystemExit(f"unknown mode {mode}")
