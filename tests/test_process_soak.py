"""Round-10: the PROCESS-BASED 16-writer soak (round-9 verdict #1) —
the production committer shape. Sixteen separate OS processes, each its
own driver JVM and SparkSession, share NOTHING but the table root;
every commit races through the manifest CAS on disk. Same op mix and
the same conservation / liveness / fairness contract as the quarantined
thread soak (tests/test_concurrency_soak.py), minus its py4j
single-gateway hazard: a stuck process can be killed and reported,
never silently hanging the suite.

IN-SUITE, NO ENV GATE: this is the suite's always-on 16-writer mixed-op
coverage, replacing what the quarantine removed."""

import json
import os
import subprocess
import sys
import time
import uuid

from parquetranger_spark import TableRepo

N_WRITERS = 16
# hard wall for the whole soak: JVM cold-starts (~16 concurrent) plus a
# handful of tiny commits each; past this we KILL survivors and fail
# loudly with their identities — processes, unlike threads, die on cue
SOAK_DEADLINE_S = 780
MAX_CAS_RETRIES_PER_WRITER = 2000  # liveness bound, generous vs ~6 commits


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, g string, v double")


def test_sixteen_process_writer_mixed_soak(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("psoak")) + f"/t{uuid.uuid4().hex[:6]}"
    mk = lambda name: TableRepo(  # noqa: E731
        f"{base}/{name}",
        group_cols="g",
        index_cols="k",
        commit_mode="manifest",
        spark=spark,
    )
    main, facts, summary = mk("main"), mk("facts"), mk("summary")
    # seed canonical schemas first (concurrent CREATE with different
    # schemas is the documented restriction, as in the reference)
    main.extend(_df(spark, [("seed", "S", 0.0)]))
    facts.extend(_df(spark, [("seed", "S", 0.0)]))
    summary.extend(_df(spark, [("seed", "S", 0.0)]))

    # the suite's session JVM keeps the heap earlier tests grew (GBs under
    # the default 16g cap); a full GC hands the free part back to the OS
    # before sixteen more JVMs start, or the kernel's OOM killer takes the
    # session JVM on a 15 GB host and every later test loses py4j
    spark.sparkContext._jvm.System.gc()

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = repo_root + os.pathsep + env.get("PYTHONPATH", "")
    procs = []
    t0 = time.monotonic()
    for i in range(N_WRITERS):
        procs.append(
            subprocess.Popen(
                [
                    sys.executable,
                    "-m",
                    "parquetranger_spark.testing.soak_worker",
                    base,
                    str(i),
                ],
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
                env=env,
                cwd=repo_root,
                text=True,
            )
        )
        time.sleep(0.25)  # soften the 16-JVM cold-start stampede

    outs: dict[int, tuple] = {}
    stuck = []
    for i, p in enumerate(procs):
        left = max(5.0, SOAK_DEADLINE_S - (time.monotonic() - t0))
        try:
            outs[i] = p.communicate(timeout=left)
        except subprocess.TimeoutExpired:
            p.kill()
            outs[i] = p.communicate()
            stuck.append(i)
    if stuck:
        heads = {
            i: (outs[i][1] or "")[-2000:] for i in stuck
        }  # stderr tails for the report
        raise AssertionError(
            f"soak deadline {SOAK_DEADLINE_S}s exceeded; killed writers "
            f"{[f'w{i:02d}' for i in stuck]}; stderr tails: {heads}"
        )
    failures = {
        i: (p.returncode, (outs[i][1] or "")[-2000:])
        for i, p in enumerate(procs)
        if p.returncode != 0
    }
    assert not failures, f"writer process failures: {failures}"

    # per-writer stats line: the LAST SOAKRESULT on stdout
    stats = {}
    for i, p in enumerate(procs):
        lines = [
            ln for ln in outs[i][0].splitlines() if ln.startswith("SOAKRESULT ")
        ]
        assert lines, f"w{i:02d}: no SOAKRESULT line; stdout: {outs[i][0][-500:]}"
        stats[i] = json.loads(lines[-1][len("SOAKRESULT ") :])

    # FAIRNESS/LIVENESS: every writer finished with bounded retries
    hist = {s["tag"]: s["cas_retries"] for s in stats.values()}
    rmw = {s["tag"]: s["rmw_retries"] for s in stats.values() if s["rmw_retries"]}
    print(f"\nprocess-soak CAS retry histogram ({N_WRITERS} writers): {hist}")
    print(f"process-soak RMW conflict-rerun histogram: {rmw}")
    assert sorted(s["tag"] for s in stats.values()) == [
        f"w{i:02d}" for i in range(N_WRITERS)
    ]
    assert all(v < MAX_CAS_RETRIES_PER_WRITER for v in hist.values()), hist

    # the DDL refusal fired only if writer 0 hit the race window; when
    # hit it must have been the loud refusal — and in EVERY case the
    # rename must not have landed over the open transaction
    assert "value" not in mk("facts").get_full_df().columns

    # CONSERVATION: exact final state, every accepted commit exactly once
    got_main = {
        (r.k, r.v) for r in main.get_full_df().collect() if r.k != "seed"
    }
    want_main = set()
    for i in range(N_WRITERS):
        tag = f"w{i:02d}"
        want_main |= {(f"{tag}_{j}", float(j) + 100.0) for j in range(5)}
        want_main |= {(f"{tag}_{j}", float(j)) for j in range(7, 10)}
    assert got_main == want_main  # upserts applied, dv deletes applied
    got_facts = sorted(
        r.k for r in facts.get_full_df().collect() if r.k != "seed"
    )
    assert got_facts == sorted(
        f"w{i:02d}_f{j}" for i in range(N_WRITERS) for j in range(3)
    )
    got_sum = {
        (r.k, r.v) for r in summary.get_full_df().collect() if r.k != "seed"
    }
    assert got_sum == {(f"w{i:02d}", float(i)) for i in range(N_WRITERS)}
