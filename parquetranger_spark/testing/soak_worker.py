"""One PROCESS-shaped soak writer — the production committer shape
(round-9 verdict "What's missing #1"): concurrent committers in real
deployments are separate driver processes sharing only the table root,
not 16 Python threads multiplexing one in-process py4j gateway (the
quarantined thread soak's infra flake). Each worker builds its OWN tiny
SparkSession with ``get_spark`` (local[2], 1 GB heap — the commit
protocol under test is I/O- and CAS-bound, not compute-bound), drives
the same mixed op traffic as the thread soak (appends, keyed RMW
upserts, dv deletes, a multi-table transaction, a DDL-vs-open-txn
refusal probe on writer 0), counts its CAS losses and RMW conflict
reruns, and reports one ``SOAKRESULT`` JSON line on stdout. Conservation/fairness are asserted by the parent
(tests/test_process_soak.py) against the shared root.

Run: python -m parquetranger_spark.testing.soak_worker <base_root> <i>
"""

from __future__ import annotations

import json
import os
import random
import sys
import time


def main(base: str, i: int) -> dict:
    from parquetranger_spark import TableRepo
    from parquetranger_spark.session import get_spark
    from parquetranger_spark.sources import manifest as manifest_mod
    from parquetranger_spark.sources.table_repo import ConcurrentWriteError
    from parquetranger_spark.sources.txn import Transaction

    tag = f"w{i:02d}"
    # the commit protocol under test is I/O- and CAS-bound, not compute-
    # bound: two cores and a 1 GB heap per writer, set before the JVM
    # starts. Serial GC, C1-only JIT and two visible processors cut one
    # writer's CPU from 52 to 28 s and its process-tree peak RSS from
    # ~1.0 to ~0.77 GB (measured alone, 4-vCPU host) — sixteen of them
    # share the host with the test session's JVM
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options '-XX:+UseSerialGC -XX:TieredStopAtLevel=1 "
        "-XX:ActiveProcessorCount=2' pyspark-shell"
    )
    spark = get_spark(f"pqrs-soak-{tag}")
    spark.sparkContext.setLogLevel("ERROR")

    # count CAS losses: try_commit returning False IS the lost race the
    # caller retries — in-process wrap, same device as the thread soak
    stats = {"tag": tag, "cas_retries": 0, "rmw_retries": 0, "ddl_refused": False}
    real_try_commit = manifest_mod.try_commit

    def counting_try_commit(*a, **kw):
        ok = real_try_commit(*a, **kw)
        if not ok:
            stats["cas_retries"] += 1
        return ok

    manifest_mod.try_commit = counting_try_commit

    def mk(name: str) -> TableRepo:
        return TableRepo(
            f"{base}/{name}",
            group_cols="g",
            index_cols="k",
            commit_mode="manifest",
            spark=spark,
        )

    def _df(rows):
        return spark.createDataFrame(rows, "k string, g string, v double")

    def with_rmw_retry(op, bound=60):
        # the Delta optimistic-concurrency contract: a copy-on-write op
        # losing a partition race reruns on the current state; bounded
        # retries with jittered backoff, starvation = parent failure
        for attempt in range(bound):
            try:
                return op()
            except ConcurrentWriteError:
                stats["rmw_retries"] += 1
                time.sleep(random.uniform(0.02, 0.1) * min(attempt + 1, 5))
        raise AssertionError(f"{tag}: starved after {bound} RMW conflicts")

    # two writers per partition value: real contention on the RMW paths
    # without the all-on-3-partitions conflict cascade (thread-soak note)
    g = str(i % 8)
    t = mk("main")
    t.extend(_df([(f"{tag}_{j}", g, float(j)) for j in range(5)]))
    t.extend(_df([(f"{tag}_{j}", g, float(j)) for j in range(5, 10)]))
    with_rmw_retry(
        lambda: t.replace_records(
            _df([(f"{tag}_{j}", g, float(j) + 100.0) for j in range(5)])
        )
    )
    with_rmw_retry(
        lambda: t.delete_records_dv(
            spark.createDataFrame([(f"{tag}_5",), (f"{tag}_6",)], "k string")
        )
    )
    x = Transaction(f"{base}/_txns")
    x.extend(mk("facts"), _df([(f"{tag}_f{j}", g, float(j)) for j in range(3)]))
    x.replace_records(mk("summary"), _df([(tag, g, float(i))]))
    if i == 0:
        # DDL racing an open txn on facts must refuse LOUDLY (only
        # asserted when the race window was actually hit)
        try:
            mk("facts").rename_column("v", "value")
        except RuntimeError as e:
            if "undecided transaction" in str(e):
                stats["ddl_refused"] = True
    x.commit()
    manifest_mod.try_commit = real_try_commit
    spark.stop()
    return stats


if __name__ == "__main__":
    out = main(sys.argv[1], int(sys.argv[2]))
    print("SOAKRESULT " + json.dumps(out), flush=True)
