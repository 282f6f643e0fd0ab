"""Per-job profile of one declared query: run it once via the noop sink
and dump every Spark job's duration + description from the local REST API.

    python tools/profile_query.py <query> [<query> ...]

Serialize with other Spark workloads (one local[32] at a time)."""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquetranger_spark.queries import QUERIES, load_all  # noqa: E402
from parquetranger_spark.session import _builder  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def api(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}") as r:
        return json.load(r)


def main() -> None:
    load_all()
    names = sys.argv[1:]
    # the UI hosts the REST API this tool reads
    spark = _builder("profile").config("spark.ui.enabled", "true").getOrCreate()
    # warm like bench.py does
    spark.sql("select count(*) c from range(100000)").collect()
    for name in names:
        fn = QUERIES[name]
        jobs_before = {j["jobId"] for j in api(spark, "jobs")}
        t0 = time.monotonic()
        df = fn(spark, SF_DIR)
        t_build = time.monotonic() - t0
        df.write.format("noop").mode("overwrite").save()
        t_total = time.monotonic() - t0
        jobs = [j for j in api(spark, "jobs") if j["jobId"] not in jobs_before]
        jobs.sort(key=lambda j: j["jobId"])
        print(f"\n=== {name}: total {t_total:.2f}s (build phase {t_build:.2f}s), "
              f"{len(jobs)} jobs ===")
        tot_job = 0.0
        rows = []
        for j in jobs:
            sub = time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            try:
                comp = time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")
                frac = (
                    float(j["completionTime"][20:23]) - float(j["submissionTime"][20:23])
                ) / 1000.0
                dur = time.mktime(comp) - time.mktime(sub) + frac
            except (KeyError, ValueError):
                dur = -1.0
            tot_job += max(dur, 0)
            rows.append((dur, j["jobId"], j.get("description") or j["name"],
                         j["numTasks"]))
        gap = t_total - tot_job
        print(f"  sum(job durations) {tot_job:.2f}s; non-job (driver/planning/fs) gap {gap:.2f}s")
        for dur, jid, desc, ntasks in sorted(rows, reverse=True)[:200]:
            print(f"  {dur:7.2f}s  job {jid:4d}  {ntasks:4d} tasks  {desc[:130]}")
        spark.catalog.clearCache()
        for r in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            r.unpersist(False)


if __name__ == "__main__":
    main()
