"""Extra measurement harness for optimization rounds (bench.py stays
frozen — guide §1: measure first, isolate with the noop sink, capture
plans).

Usage:
    python bench_extra.py plans  [out_dir] [label] [names]  # explain("formatted")
    python bench_extra.py time   [names...]          # noop-sink timings, min of 3
    python bench_extra.py decode                     # decode backend microbench
    python bench_extra.py jobs   [names]             # Spark jobs/tasks per entry

Both default to ``bench.suite``, bench.py's table of timed queries;
``time`` also takes the ``decode_only`` and ``parse_only`` layer cuts.
For ``plans``, ``names`` is a comma-separated list of ``__spark_entry__``
registry entries (e.g. ``simsearch_topk,ivf_topk``), run over
``SPARK_GRAFT_SF_DIR`` without building the token corpus; ``jobs``
takes the same list and defaults to every registry entry. Expression
ids (``#123``), ``plan_id=`` tags, RDD ids (``MapPartitionsRDD[44]``,
which count every RDD the session made before) and lambda-variable
counters (``x_12``, numbered session-wide, so an earlier entry that
builds one more lambda renames every later one) are stripped, so plans
written by two checkouts diff byte for byte.

Timing methodology mirrors bench.py (warm-up + min of 3) but writes
results through the noop sink so every column of every row is computed
and no collect/driver cost rides the number.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import bench
from bench import BENCH_CONF, MULT, SF_DIR


def _spark():
    from rsyslog_spark.session import get_spark

    return get_spark("bench-extra", extra_conf=BENCH_CONF)


def _jobs(spark) -> tuple[dict, dict]:
    """(bench.py's suite table, the flagship layer cuts): name → thunk
    returning a DataFrame, so it can be noop-sunk and explained."""
    from pyspark.sql import functions as F

    from rsyslog_spark.parsing import parse
    from rsyslog_spark.parsing.core import decode_tokens

    lt = spark.read.parquet(bench._materialize_tokens(spark, MULT))
    cuts = {
        "decode_only": lambda: lt.select(
            F.length(decode_tokens("tokens")).alias("n")
        ).agg(F.sum("n")),
        "parse_only": lambda: parse(lt).select(
            F.sum(F.length("msg")).alias("s")
        ),
    }
    return bench.suite(spark, lt), cuts


def _plan_text(df) -> str:
    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return re.sub(
        r"#\d+|plan_id=\d+|(?<=RDD)\[\d+\]|(?<=\b[xyz]_)\d+\b", "", text
    )


def cmd_plans(out_dir: str, label: str, names: list[str]) -> None:
    spark = _spark()
    if names:
        import __spark_entry__ as entrymod

        qs = entrymod.queries()
        jobs = {n: (lambda n=n: qs[n](spark, SF_DIR)) for n in names}
    else:
        jobs = _jobs(spark)[0]
    os.makedirs(out_dir, exist_ok=True)
    for name, mk in jobs.items():
        p = os.path.join(out_dir, f"{name}_{label}.txt")
        with open(p, "w") as fh:
            fh.write(_plan_text(mk()))
        print(p)
    spark.stop()


def cmd_time(names: list[str]) -> None:
    spark = _spark()
    suite, cuts = _jobs(spark)
    jobs = {**suite, **cuts}
    out = {}
    for name in names or suite:
        fn = jobs[name]

        def run():
            fn().write.format("noop").mode("overwrite").save()

        spark.sparkContext.setJobDescription(f"bx:{name}")
        run()  # warm-up
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            run()
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"noop_min3": out, "sf": SF_DIR, "mult": MULT}))
    spark.stop()


def cmd_decode() -> None:
    """Compare decode backends over the bench tokens corpus."""
    from pyspark.sql import functions as F

    from rsyslog_spark.parsing.core import decode_tokens

    spark = _spark()
    tokens_path = bench._materialize_tokens(spark, MULT)
    lt = spark.read.parquet(tokens_path)
    for backend in ("jvm", "arrow"):
        # rebuild the DataFrame per attempt: AQE reuses a finalized
        # plan's materialized shuffle stages on re-collect of the SAME
        # DataFrame object, which would time a cache hit
        def mk():
            return lt.select(
                F.length(decode_tokens("tokens", backend=backend)).alias("n")
            ).agg(F.sum("n"))

        spark.sparkContext.setJobDescription(f"decode:{backend}")
        mk().collect()
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            mk().collect()
            best = min(best, time.time() - t0)
        print(json.dumps({f"decode_{backend}": round(best, 3)}), flush=True)
    spark.stop()


def cmd_jobs(names: list[str]) -> None:
    """Spark jobs and tasks per registry entry, build included (the
    entry call plus a noop write), read from ``statusTracker``: one JSON
    line per entry, then the totals with host facts."""
    import pyspark

    import __spark_entry__ as entrymod
    from rsyslog_spark.session import host_mem_mb, host_nproc

    spark = _spark()
    sc = spark.sparkContext
    st = sc.statusTracker()
    qs = entrymod.queries()
    out = {}
    for name in names or qs:
        sc.setJobGroup(f"jobs:{name}", name)
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        jobs = st.getJobIdsForGroup(f"jobs:{name}")
        stages = [s for j in jobs for s in st.getJobInfo(j).stageIds]
        tasks = sum(i.numCompletedTasks for i in map(st.getStageInfo, stages)
                    if i is not None)
        out[name] = {"jobs": len(jobs), "tasks": tasks}
        print(json.dumps({name: out[name]}), flush=True)
    host = {"nproc": host_nproc(), "mem_total_mb": host_mem_mb(),
            "spark": pyspark.__version__, "master": sc.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "SPARK_GRAFT_DECODE": os.environ.get("SPARK_GRAFT_DECODE", "jvm")}
    print(json.dumps({
        "jobs": out, "sf": SF_DIR, "host": host,
        "total_jobs": sum(v["jobs"] for v in out.values()),
        "total_tasks": sum(v["tasks"] for v in out.values()),
    }))
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    if cmd == "plans":
        out_dir = sys.argv[2] if len(sys.argv) > 2 else "plans/r06"
        label = sys.argv[3] if len(sys.argv) > 3 else "before"
        names = sys.argv[4].split(",") if len(sys.argv) > 4 else []
        cmd_plans(out_dir, label, names)
    elif cmd == "decode":
        cmd_decode()
    elif cmd == "jobs":
        cmd_jobs(sys.argv[2].split(",") if len(sys.argv) > 2 else [])
    else:
        cmd_time(sys.argv[2:])
