"""One benchmark run: one workload, one seed, one process, one client.

    python3 perfbench/run.py --workload commit_churn --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout; it builds nothing and imports the
program (``parquetranger_spark``) from that checkout. ``--seconds`` sets
the length of the fixed op list (whole rounds of the workload's op mix at
its nominal round time); the run never stops on the clock.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
(BENCHMARK.json ``end_to_end``). With ``--trace 1`` the same op list runs
with spans, job groups and Spark's event log, and the last line carries
the per-layer metrics (``per_layer``); the tracing overhead is the traced
run's ``trace.wall_s`` minus the untraced run's ``measured_wall_s`` for
the same seed.
The line before it is a report with per-kind latencies, sample counts,
the correctness checks and the host record. The exit code is non-zero if
any check failed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

_T0 = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402
import tracing  # noqa: E402
from workloads import RUNNERS, WORKLOADS, rounds_for, run_ops  # noqa: E402

_AGE0 = harness.process_age_s()


def since_process_start() -> float:
    return _AGE0 + (time.perf_counter() - _T0)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def percentile(xs: list[float], q: float) -> float | None:
    """The q-quantile, or None when fewer than ten samples lie beyond it."""
    if len(xs) * (1 - q) < 10:
        return None
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def latency_stats(xs: list[float], cpu: list[float]) -> dict:
    out = {"n": len(xs), "mean_s": statistics.fmean(xs), "cpu_mean_s": statistics.fmean(cpu),
           "cpu_median_s": statistics.median(cpu), "cpu_s": [round(c, 3) for c in cpu]}
    for name, q in (("p50_s", 0.5), ("p90_s", 0.9)):
        v = percentile(xs, q)
        if v is not None:
            out[name] = v
    return out


# Set-ups per run: the workload's state (seeded table, built index) is
# built this many times on fresh roots, and setup_s takes the median.
SETUPS = 3


class Pass:
    """Inputs, ``setups`` set-ups on fresh state, a warm-up on the last
    one, then the measured phase. Each part's CPU seconds are kept."""

    def __init__(self, spark, plan, data_root: str, tracer, setups: int = SETUPS) -> None:
        self.runner = RUNNERS[plan.workload](
            spark, data_root, plan, tracer, tracing.NullLayers()
        )
        walls = []
        c, t = harness.tree_cpu_s(), time.perf_counter()
        with tracer.span("phase.inputs"):
            self.runner.inputs()
        self.inputs_cpu_s = harness.tree_cpu_s() - c
        walls.append(time.perf_counter() - t)
        self.setup_cpu_s = []
        for _ in range(setups):
            c, t = harness.tree_cpu_s(), time.perf_counter()
            with tracer.span("phase.setup"):
                self.runner.setup()
            self.setup_cpu_s.append(harness.tree_cpu_s() - c)
            walls.append(time.perf_counter() - t)
        c, t = harness.tree_cpu_s(), time.perf_counter()
        warm, _, _ = run_ops(self.runner, plan.warmup, tracer, "warmup")
        self.warmup_cpu_s = harness.tree_cpu_s() - c
        walls.append(time.perf_counter() - t)
        log(f"cpu s: inputs {self.inputs_cpu_s:.1f}, set-ups "
            + ", ".join(f"{x:.1f}" for x in self.setup_cpu_s)
            + f", warm-up {self.warmup_cpu_s:.1f}; wall s: "
            + ", ".join(f"{x:.2f}" for x in walls) + "; warm-up ops: "
            + ", ".join(f"{r.kind} {r.seconds:.2f}" for r in warm))
        self.warm_failed = sum(not r.ok for r in warm)

    def measure(self, plan, tracer, layers) -> None:
        self.runner.layers = layers
        self.results, self.wall, self.untimed = run_ops(
            self.runner, plan.ops, tracer, "measure", first_index=len(plan.warmup)
        )
        self.final = self.runner.final_check()

    def setup_parts(self, session_cpu_s: float) -> dict:
        """CPU seconds of each part of the set-up. ``setup_s`` is the
        session's (from process start), the inputs' and the median of the
        repeated set-ups; the warm-up is the measured op kinds run cold and
        is reported on its own."""
        return {
            "session_cpu_s": session_cpu_s,
            "inputs_cpu_s": self.inputs_cpu_s,
            "setup_cpu_s": self.setup_cpu_s,
            "warmup_cpu_s": self.warmup_cpu_s,
            "setup_s": session_cpu_s + self.inputs_cpu_s + statistics.median(self.setup_cpu_s),
        }


def cpu_s_per_op(results) -> float:
    """CPU seconds per op of a typical round: the median CPU of each op
    kind over the run, weighted by the kind's share of the op list. From
    three rounds on, the median keeps one op that met a GC pause from
    setting the figure; at two rounds it is the mean of the two."""
    by_kind: dict[str, list[float]] = {}
    for r in results:
        by_kind.setdefault(r.kind, []).append(r.cpu_s)
    return sum(len(xs) * statistics.median(xs) for xs in by_kind.values()) / len(results)


def reference_cpu_s(results) -> float:
    """Median CPU seconds of the reference job over the run's ops."""
    return statistics.median(r.ref_cpu_s for r in results)


def end_to_end(p: Pass, setup_s: float) -> dict:
    """``cpu_per_op_over_ref`` is CPU per op over the reference job's CPU in
    the same phase: the host's speed drifts from run to run and moves both
    alike (see WORKLOADS.md)."""
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cpu_per_op_over_ref": {
            "value": cpu_s_per_op(p.results) / reference_cpu_s(p.results), "unit": "ratio"},
    }


def report(plan, p: Pass, extras: dict, host: dict) -> dict:
    by_kind: dict[str, list] = {}
    by_cat: dict[str, list] = {}
    for r in p.results:
        by_kind.setdefault(r.kind, []).append(r)
        by_cat.setdefault(r.category, []).append(r)

    def stats(rs):
        return latency_stats([r.seconds for r in rs], [r.cpu_s for r in rs])

    failed = sum(not r.ok for r in p.results) + (not p.final["ok"])
    attempted = len(p.results) + 1
    named = {f"{cat}_latency": stats(rs) for cat, rs in by_cat.items()}
    named["ops_failed_frac"] = {"value": failed / attempted, "failed": failed,
                                "attempted": attempted}
    named.update(extras)
    return {
        "workload": plan.workload,
        "seed": plan.seed,
        "plan_fingerprint": plan.fingerprint(),
        "sizes": plan.sizes,
        "client": "closed loop, 1 client",
        "per_kind": {k: stats(rs) for k, rs in by_kind.items()},
        "metrics": named,
        "warmup_failed": p.warm_failed,
        "final_check": p.final,
        "host": host,
    }


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def per_layer(p: Pass, tracer, layers, events, session: dict, extras: dict) -> dict:
    """The layer table of the traced pass (see BENCHMARK.json per_layer)."""
    spans = tracer.spans
    phase = {s["id"]: tracer.phase_of(s) for s in spans}

    def mean_span(name: str, ph: str = "measure") -> float:
        return _mean([s["end"] - s["start"] for s in spans
                      if s["name"] == name and phase[s["id"]] == ph])

    ops = [s for s in spans if s["name"] == "op" and phase[s["id"]] == "measure"]
    cats = ("commit", "read", "search", "dedup")
    jobs = {c: 0 for c in cats}
    job_s = {c: 0.0 for c in cats}
    gap_s = {c: 0.0 for c in cats}
    n = {c: 0 for c in cats}
    gc_ms = shuffle_dedup = 0
    for s in ops:
        ev = events.get(s["group"], {"jobs": 0, "intervals": [], "gc_ms": 0, "shuffle_bytes": 0})
        c = s["category"]
        busy = tracing.union_length(ev["intervals"]) / 1000.0
        n[c] += 1
        jobs[c] += ev["jobs"]
        job_s[c] += busy
        gap_s[c] += max(0.0, (s["end"] - s["start"]) - busy)
        gc_ms += ev["gc_ms"]
        if c == "dedup":
            shuffle_dedup += ev["shuffle_bytes"]
    per = lambda d, c: d[c] / n[c] if n[c] else 0.0  # noqa: E731
    m = {
        "session.start_s": (session["start_s"], "s"),
        "session.warmup_s": (session["warmup_s"], "s"),
        "table_repo.extend_s": (mean_span("table_repo.extend"), "s"),
        "table_repo.delete_records_dv_s": (mean_span("table_repo.delete_records_dv"), "s"),
        "table_repo.read_plan_s": (mean_span("table_repo.read_plan"), "s"),
        "table_repo.read_exec_s": (mean_span("table_repo.read_exec"), "s"),
        "table_repo.timetravel_plan_s": (mean_span("table_repo.timetravel_plan"), "s"),
        "table_repo.skipping_plan_s": (mean_span("table_repo.skipping_plan"), "s"),
        "manifest.versions": (extras["manifest_versions"], "count"),
        "manifest.bytes": (extras["manifest_bytes"], "bytes"),
        "manifest.load_s": (_mean(layers.load_s), "s"),
        "manifest.live_files": (extras["live_files"], "count"),
        "fs.bytes_written_per_user_byte": (
            layers.bytes_written / layers.user_bytes if layers.user_bytes else 0.0, "ratio"),
        "fs.files_per_commit": (
            layers.files_added / layers.commits if layers.commits else 0.0, "count"),
        "spark.gc_s": (gc_ms / 1000.0, "s"),
        "spark.shuffle_bytes_per_dedup": (
            shuffle_dedup / n["dedup"] if n["dedup"] else 0.0, "bytes"),
        "dedup.near_dedup_minhash_s": (mean_span("dedup.near_dedup_minhash"), "s"),
        "dedup.connected_components_s": (mean_span("dedup.connected_components"), "s"),
        "dedup.candidates_per_verified": (extras.get("candidates_per_verified", 0.0), "ratio"),
        "similarity.topk_cosine_bruteforce_s": (
            mean_span("similarity.topk_cosine_bruteforce"), "s"),
        "ann_index.query_s": (mean_span("ann_index.query"), "s"),
        "ann_index.build_s": (mean_span("ann_index.build", "setup"), "s"),
        "ann_index.recall_at_k": (_mean(getattr(p.runner, "recalls", [])), "ratio"),
        "trace.wall_s": (p.wall, "s"),
        "trace.spans": (len(spans), "count"),
    }
    for c in cats:
        m[f"spark.jobs_per_{c}"] = (per(jobs, c), "count")
        m[f"spark.job_s.{c}"] = (per(job_s, c), "s")
        m[f"spark.driver_gap_s.{c}"] = (per(gap_s, c), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in sorted(m.items())}


def jobs_per_kind(tracer, events) -> dict:
    """Spark jobs per measured op, by op kind. These repeat exactly for a
    seed; perfbench/job_baseline.json holds them for one seed, so a change
    that moves a count shows in the traced run's report."""
    per: dict[str, list[int]] = {}
    for s in tracer.spans:
        if s["name"] == "op" and tracer.phase_of(s) == "measure":
            per.setdefault(s["kind"], []).append(events.get(s["group"], {}).get("jobs", 0))
    return {k: sum(v) / len(v) for k, v in sorted(per.items())}


def manifest_extras(runner) -> dict:
    from parquetranger_spark.sources.fs import fs_for
    from parquetranger_spark.sources.manifest import MANIFEST_DIR, list_versions, live_files, \
        load_manifest

    root = runner.storage_root()
    fs = fs_for(root)
    return {
        "manifest_versions": len(list_versions(fs, root)),
        "manifest_bytes": harness.dir_bytes_files(os.path.join(root, MANIFEST_DIR))[0],
        "live_files": len(live_files(load_manifest(fs, root), root)),
    }


def run(args, plan, work: Path) -> tuple[dict, dict, bool]:
    from parquetranger_spark import get_spark

    host = harness.HostRecord()
    t = time.perf_counter()
    spark = get_spark("perfbench")
    session = {"start_s": time.perf_counter() - t}
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        spark.range(1).count()  # first job: JIT and class loading
        session["warmup_s"] = time.perf_counter() - t
        session_cpu_s = harness.tree_cpu_s()
        log(f"session start {session['start_s']:.2f}s, first job {session['warmup_s']:.2f}s, "
            f"cpu since process start {session_cpu_s:.1f}s")
        tracer = tracing.Tracer(spark.sparkContext) if args.trace else tracing.NullTracer()
        layers = tracing.StorageLayers() if args.trace else tracing.NullLayers()
        with tracer.span(f"workload.{plan.workload}"):
            p = Pass(spark, plan, str(work / "data" / "t"), tracer)
            setup_wall_s = since_process_start()
            jvm0 = harness.jvm_gc_jit_s(spark)
            p.measure(plan, tracer, layers)
            jvm1 = harness.jvm_gc_jit_s(spark)
        lat = [r.seconds for r in p.results]
        parts = p.setup_parts(session_cpu_s)
        extras = {"setup_parts": parts,
                  "setup_wall_s": {"value": setup_wall_s},
                  "measured_wall_s": {"value": p.wall},
                  "measured_jvm_s": {k: jvm1[k] - jvm0[k] for k in jvm1},
                  "cpu_s_per_op": {"value": cpu_s_per_op(p.results)},
                  "reference_cpu_s": {"value": reference_cpu_s(p.results)},
                  "ops_per_s": {"value": len(lat) / (p.wall - p.untimed), "n": len(lat)}}
        if plan.workload == "dedup_search":
            med = statistics.median(r.seconds for r in p.results if r.kind == "dedup")
            extras["dedup_docs_per_s"] = {"value": plan.sizes["docs"] / med,
                                          "passes": sum(r.kind == "dedup" for r in p.results)}
        if args.trace:
            lx = manifest_extras(p.runner)
            if plan.workload == "commit_churn":
                # a compaction write: traced runs only, it is not cheap
                extras["space_amp"] = {
                    "value": p.runner.space_amp(str(work / "data" / "compacted"))}
            else:
                lx["candidates_per_verified"] = p.runner.candidates_per_verified()
        jvm = harness.jvm_process(spark)
        extras["peak_rss_mb"] = {
            "value": harness.peak_rss_mb([os.getpid()] + ([jvm.pid] if jvm else []))}
        host_rec = host.finish()
    finally:
        harness.stop_session(spark)
    rep = report(plan, p, extras, host_rec)
    ok = p.final["ok"] and all(r.ok for r in p.results) and p.warm_failed == 0
    if not args.trace:
        return end_to_end(p, parts["setup_s"]), rep, ok
    events = tracing.read_event_log(work / "events")
    spans_path = ROOT / ".perfbench_out" / f"{plan.workload}-seed{plan.seed}-spans.json"
    tracer.write(spans_path)
    jobs = jobs_per_kind(tracer, events)
    rep["trace"] = {"spans_file": str(spans_path.relative_to(ROOT)), "jobs_per_kind": jobs}
    baseline = json.loads((HERE / "job_baseline.json").read_text())
    if plan.seed == baseline["seed"]:
        want = baseline["jobs_per_kind"][plan.workload]
        changed = {k: [want.get(k), jobs.get(k)] for k in set(want) | set(jobs)
                   if want.get(k) != jobs.get(k)}
        rep["trace"]["jobs_changed_vs_baseline"] = changed
        if changed:
            log(f"Spark job counts differ from perfbench/job_baseline.json: {changed}")
    return per_layer(p, tracer, layers, events, session, lx), rep, ok


def matches_contract(metrics: dict, key: str) -> bool:
    """The emitted metrics are exactly BENCHMARK.json's ``key`` list, with
    its units, and every value is a finite number."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())[key]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != want:
        log(f"metrics differ from BENCHMARK.json {key}: {sorted(set(got) ^ set(want))}")
        return False
    return all(isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
               for v in metrics.values())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "parquetranger_spark" / "__init__.py").is_file():
        print(f"perfbench: no parquetranger_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    wl = WORKLOADS[args.workload]
    plan = wl.plan(args.seed, rounds_for(args.seconds, wl.ROUND_NOMINAL_S))
    work = harness.prepare_workdir(ROOT, bool(args.trace))
    try:
        metrics, rep, ok = run(args, plan, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's work dir is still there
            pass
    results_ok = matches_contract(metrics, "per_layer" if args.trace else "end_to_end")
    print(json.dumps({"report": rep}, default=str))
    failed = rep["metrics"]["ops_failed_frac"]["failed"]
    attempted = rep["metrics"]["ops_failed_frac"]["attempted"]
    print(json.dumps({"correct": ok and results_ok, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if ok and results_ok else 1


if __name__ == "__main__":
    sys.exit(main())
