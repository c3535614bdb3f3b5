"""Per-query optimization probe (guide §1): time a declared query's
full bench action (plan + execute + collect) and its noop-sink
execution separately, and dump `.explain("formatted")` to a file.

Usage:
  python tools/profile_query.py <query> [<query> ...] \
      [--plans-dir plans/r12] [--suffix before] [--reps 2]

Timing methodology mirrors bench.py (warm session, best of N) so the
numbers are comparable; the noop column separates compute from the
collect-to-driver cost bench.py deliberately includes.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from paqarin_spark.session import get_session  # noqa: E402
from paqarin_spark.sources import TABLES, read_table  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans-dir", default=None, help="dump explain('formatted') here")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--no-noop", action="store_true")
    args = ap.parse_args()

    spark = get_session("paqarin-profile")
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLES:
        df = read_table(spark, args.sf_dir, t)
        df.select([F.count(df[c]) for c in df.columns]).collect()

    def _warm(it):
        import numpy  # noqa: F401
        from paqarin_spark import jpeg, multimodal  # noqa: F401

        return it

    spark.range(64).repartition(32).mapInPandas(_warm, schema="id bigint").count()

    queries = entrymod.queries()
    tracker = spark.sparkContext.statusTracker()
    for name in args.queries:
        fn = queries[name]
        spark.sparkContext.setJobDescription(name)
        # plan-construction cost (driver-side Py4J expression building)
        t0 = time.perf_counter()
        df = fn(spark, args.sf_dir)
        t_plan = time.perf_counter() - t0
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            with open(os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"))
        best_c = best_n = None
        njobs = nstages = 0
        for rep in range(args.reps):
            # Count Spark jobs/stages for the FIRST collect rep via a
            # job group (guide §1: how many actions/barriers a query
            # really launches — the per-job scheduler latency on this
            # host makes job count itself a first-order cost).
            group = f"profile:{name}:{rep}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            n = len(fn(spark, args.sf_dir).collect())
            el = time.perf_counter() - t0
            if rep == 0:
                job_ids = tracker.getJobIdsForGroup(group)
                njobs = len(job_ids)
                for jid in job_ids:
                    info = tracker.getJobInfo(jid)
                    if info is not None:
                        nstages += len(info.stageIds)
            best_c = el if best_c is None or el < best_c else best_c
            if not args.no_noop:
                t0 = time.perf_counter()
                fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
                el = time.perf_counter() - t0
                best_n = el if best_n is None or el < best_n else best_n
        noop = f" noop={best_n:.3f}s" if best_n is not None else ""
        print(
            f"{name}: collect={best_c:.3f}s{noop} plan_build={t_plan:.3f}s"
            f" jobs={njobs} stages={nstages} rows={n}"
        )
        spark.sparkContext.setJobDescription(None)
        spark.sparkContext._jsc.clearJobGroup()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
