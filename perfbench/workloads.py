"""The benchmark's workloads: seeded inputs, a Python model of each op
sequence, and the runner that drives the repo's public API.

Each workload is one client in a closed loop. ``plan`` turns a seed into
the complete op list and the model's expected answers without touching
Spark, so the same seed always gives the same ops. The runner executes
the plan through ``TableRepo``, ``AnnIndex`` and the ``operators``
functions and checks every answer against the model.

Op lists have a fixed length: ``rounds`` repetitions of one round, a
fixed sequence of op kinds. The seed picks the data each op carries (rows,
keys, key range, query ids), not the order: an op's cost depends on what
ran before it (a partition read after a deletion-vector commit does an
anti-join), so a seeded order would make the cost depend on the seed.
Nothing stops on the clock.
"""

from __future__ import annotations

import hashlib
import math
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from harness import dir_bytes_files, tree_cpu_s

# ------------------------------------------------------------------ common


@dataclass
class Op:
    kind: str
    category: str  # commit | read | search | dedup
    args: dict = field(default_factory=dict)
    expected: object = None


@dataclass
class Plan:
    workload: str
    seed: int
    sizes: dict
    warmup: list[Op]
    ops: list[Op]
    final: dict

    def fingerprint(self) -> str:
        """Digest of the whole op list, the inputs and the model's answers."""
        h = hashlib.sha256()
        for op in self.warmup + self.ops:
            h.update(repr((op.kind, op.category, sorted(op.args.items()), op.expected)).encode())
        for k in sorted(self.final):
            v = self.final[k]
            h.update(k.encode())
            h.update(v.tobytes() if isinstance(v, np.ndarray) else repr(v).encode())
        return h.hexdigest()


def rounds_for(seconds: int, round_nominal_s: float) -> int:
    """Fixed op-list length for a requested measuring time: whole rounds at
    the workload's nominal round time on a 4-core host. The list never
    depends on the clock, so a slow host runs longer instead of less."""
    return max(1, round(seconds / round_nominal_s))


class OpFailed(Exception):
    """An op returned an answer that differs from the model's."""


# ------------------------------------------------------------ commit_churn

_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"
_CHURN_SCHEMA = "key long, part int, val long, body string"


class _TableModel:
    """Python model of the table: key -> (part, val, body)."""

    def __init__(self) -> None:
        self.rows: dict[int, tuple[int, int, str]] = {}

    def agg(self, pred=lambda k, r: True) -> tuple[int, int, int]:
        n = sv = sk = 0
        for k, r in self.rows.items():
            if pred(k, r):
                n += 1
                sv += r[1]
                sk += k
        return (n, sv, sk)

    def digest(self) -> dict:
        return table_digest((k, *r) for k, r in self.rows.items())


def table_digest(rows) -> dict:
    """Row count, key sum and sha256 over the sorted ``(key, part, val,
    body)`` rows: of the model's rows, or of rows read back from the table."""
    h = hashlib.sha256()
    n = sk = 0
    for k, p, v, b in sorted(rows):
        h.update(f"{k},{p},{v},{b}\n".encode())
        n += 1
        sk += k
    return {"rows": n, "key_sum": sk, "digest": h.hexdigest()}


class CommitChurn:
    """A manifest-mode table partitioned on a 16-value column and keyed by
    ``key``: seeded once, then rounds of the deletion-vector round trip
    (append, keyed DV delete, re-append of some deleted keys), with verify
    reads of four kinds between the commits (latest partition, full
    aggregate, time travel, stats skipping).

    Sizes come from the repo's own workloads: the seeded table has the
    row count of the ``delete_dv_roundtrip`` query's table (lineitem at
    sf0.01), an append adds the 10,000 rows of BASELINE.md's reference
    append workload, a DV delete tombstones a tenth of the live keys and
    the re-append brings back a quarter of them with a changed value, as
    ``delete_dv_roundtrip`` does (``orderkey % 10 = 3``, then the
    ``linenumber = 1`` victims)."""

    name = "commit_churn"
    # one round: the round trip's three commits, each followed by a read,
    # and a fourth read; ≈ 7 s on a 4-core host, 11 s with the reference
    # job after each op. Nominal 7 s, so --seconds 12 gives two rounds:
    # over seeds, cpu_per_op_over_ref spread 0.03 with two rounds and 0.13
    # with one (see WORKLOADS.md).
    ROUND = ["extend", "read:latest_partition", "delete_records_dv", "read:full_agg",
             "reappend", "read:time_travel", "read:skipping"]
    COMMITS_PER_ROUND = 3
    ROUND_NOMINAL_S = 7.0
    # the warm-up is one round: every op kind runs once, and the measured
    # reads all see a table that already has deletion vectors
    WARMUP_ROUNDS = 1
    SIZES = {
        "seed_rows": 60_000,
        "partitions": 16,
        "extend_rows": 10_000,
        "dv_frac": 0.10,
        "reappend_frac": 0.25,
        "body_chars": 20,
        "skip_key_span": 2_000,
    }
    TINY = {**SIZES, "seed_rows": 200, "extend_rows": 20, "skip_key_span": 40}

    def plan(self, seed: int, rounds: int, sizes: dict | None = None) -> Plan:
        sz = dict(sizes or self.SIZES)
        rng = random.Random(seed)
        weights = [1 / math.sqrt(i + 1) for i in range(sz["partitions"])]
        model = _TableModel()
        next_key = 0
        history: list[tuple] = []  # full aggregate after commit i (0 = seed)
        victims: list[int] = []  # keys of the last DV delete

        def new_rows(n: int) -> list[tuple]:
            nonlocal next_key
            parts = rng.choices(range(sz["partitions"]), weights, k=n)
            rows = []
            for p in parts:
                body = "".join(rng.choices(_ALPHABET, k=sz["body_chars"]))
                rows.append((next_key, p, rng.randrange(1 << 40), body))
                next_key += 1
            return rows

        def apply(rows: list[tuple]) -> None:
            for k, p, v, b in rows:
                model.rows[k] = (p, v, b)

        seed_rows = new_rows(sz["seed_rows"])
        apply(seed_rows)
        history.append(model.agg())
        dead: dict[int, tuple] = {}
        partition_reads = 0

        def make(kind: str) -> Op:
            nonlocal victims, partition_reads
            if kind == "extend":
                rows = new_rows(sz["extend_rows"])
                apply(rows)
                op = Op(kind, "commit", {"rows": rows})
            elif kind == "delete_records_dv":
                live = sorted(model.rows)
                victims = sorted(rng.sample(live, max(1, round(len(live) * sz["dv_frac"]))))
                for k in victims:
                    dead[k] = model.rows.pop(k)
                op = Op(kind, "commit", {"keys": victims})
            elif kind == "reappend":
                keys = sorted(rng.sample(victims, max(1, round(len(victims) * sz["reappend_frac"]))))
                rows = [(k, dead[k][0], 2 * dead[k][1], dead[k][2]) for k in keys]
                apply(rows)
                op = Op(kind, "commit", {"rows": rows})
            else:
                read = kind.split(":", 1)[1]
                if read == "latest_partition":
                    # partition sizes differ 4x by design, so a seeded
                    # partition would make the read's cost depend on the
                    # seed: the n-th read of every run takes partition n
                    p = partition_reads % sz["partitions"]
                    partition_reads += 1
                    op = Op(read, "read", {"part": p}, model.agg(lambda k, r: r[0] == p))
                elif read == "full_agg":
                    op = Op(read, "read", {}, model.agg())
                elif read == "time_travel":
                    # one round back: the same point of the previous round,
                    # a version with deletion vectors (the seed version has
                    # none, and reads 4x cheaper)
                    back = self.COMMITS_PER_ROUND
                    op = Op(read, "read", {"back": back}, history[-1 - back])
                else:
                    # a range of the seeded keys: its rows sit in the seed
                    # files, in deletion vectors and in re-appended files,
                    # while stats prune the appended ranges
                    lo = rng.randrange(sz["seed_rows"] - sz["skip_key_span"])
                    hi = lo + sz["skip_key_span"]
                    op = Op(read, "read", {"lo": lo, "hi": hi},
                            model.agg(lambda k, r: lo <= k <= hi))
                return op
            history.append(model.agg())
            return op

        warmup = [make(k) for k in self.ROUND * self.WARMUP_ROUNDS]
        ops = [make(k) for k in self.ROUND * rounds]
        sizes_out = dict(sz, rounds=rounds, warmup_ops=len(warmup), measured_ops=len(ops),
                         final_live_rows=len(model.rows), commits=len(history) - 1)
        return Plan(self.name, seed, sizes_out, warmup, ops,
                    dict(model.digest(), seed_rows=seed_rows))


class CommitChurnRunner:
    """Drives a :class:`CommitChurn` plan through ``TableRepo``.

    ``prepare`` builds an op's input frame, ``execute`` is the timed call
    (for a read: until the aggregate is back in this process), ``post``
    checks the answer and, in a traced run, records the commit's storage
    effects. Only ``execute`` counts as op latency."""

    def __init__(self, spark, root: str, plan: Plan, tracer, layers) -> None:
        self.spark, self.plan, self.tr, self.layers = spark, plan, tracer, layers
        self.base, self.root, self.table = root, None, None
        self.builds = self.commits = 0
        self.base_version = None

    def frame(self, rows):
        # through pandas, so the rows cross to the JVM as one Arrow batch
        pdf = pd.DataFrame(rows, columns=["key", "part", "val", "body"])
        return self.spark.createDataFrame(pdf, _CHURN_SCHEMA)

    def inputs(self) -> None:
        """The seed rows as one materialized frame, shared by every set-up."""
        self.seed_df = self.frame(self.plan.final["seed_rows"]).localCheckpoint()

    def setup(self) -> None:
        """A fresh table seeded with the seed rows; replaces the last one."""
        from parquetranger_spark import TableRepo

        if self.root:
            shutil.rmtree(self.root)
        self.root = f"{self.base}/t{self.builds}"
        self.builds += 1
        self.table = TableRepo(
            self.root, group_cols="part", index_cols="key", commit_mode="manifest",
            stats_cols="key", spark=self.spark,
        )
        with self.tr.span("table_repo.extend"):
            self.table.extend(self.seed_df)
        self.base_version = self.table.versions()[-1]

    def prepare(self, op: Op):
        if op.kind == "delete_records_dv":
            df = self.spark.createDataFrame(pd.DataFrame({"key": op.args["keys"]}), "key long")
        elif op.category == "commit":
            df = self.frame(op.args["rows"])
        else:
            return None
        return df, self.layers.before_commit(self.root)

    def execute(self, op: Op, prepared):
        from pyspark.sql import functions as F

        t = self.table
        if op.category == "commit":
            method = "extend" if op.kind == "reappend" else op.kind
            with self.tr.span(f"table_repo.{method}"):
                getattr(t, method)(prepared[0])
            self.commits += 1
            return None
        plan_span = {"time_travel": "table_repo.timetravel_plan",
                     "skipping": "table_repo.skipping_plan"}.get(op.kind, "table_repo.read_plan")
        with self.tr.span(plan_span):
            if op.kind == "latest_partition":
                df = t.get_partition_df(op.args["part"])
            elif op.kind == "full_agg":
                df = t.get_full_df()
            elif op.kind == "time_travel":
                df = t.get_full_df(version=self.base_version + self.commits - op.args["back"])
            else:
                df = t.get_full_df_skipping([("key", "between", op.args["lo"], op.args["hi"])])
        with self.tr.span("table_repo.read_exec"):
            return df.agg(F.count(F.lit(1)), F.sum("val"), F.sum("key")).first()

    def post(self, op: Op, prepared, result) -> None:
        if op.category == "commit":
            if op.kind == "delete_records_dv":
                user_bytes = 8 * len(op.args["keys"])
            else:
                user_bytes = sum(20 + len(r[3]) for r in op.args["rows"])  # 3 numbers + body
            self.layers.after_commit(self.root, prepared[1], user_bytes)
            return
        got = tuple(int(x or 0) for x in result)
        if got != tuple(op.expected):
            raise OpFailed(f"{op.kind} {op.args}: got {got}, model {op.expected}")

    def final_check(self) -> dict:
        pdf = self.table.get_full_df().select("key", "part", "val", "body").toPandas()
        got = table_digest((int(k), int(p), int(v), b) for k, p, v, b in pdf.itertuples(index=False))
        want = {k: self.plan.final[k] for k in ("rows", "key_sum", "digest")}
        head = self.table.versions()[-1]
        ok = got == want and head == self.base_version + self.commits
        return {"ok": ok, "got": got, "model": want, "head_version": head,
                "model_head_version": self.base_version + self.commits}

    def storage_root(self) -> str:
        return self.root

    def space_amp(self, copy_root: str) -> float:
        """Bytes under the table root ÷ bytes of a compacted copy of the
        live snapshot (same layout, written in one commit)."""
        from parquetranger_spark import TableRepo

        copy = TableRepo(copy_root, group_cols="part", index_cols="key",
                         commit_mode="manifest", stats_cols="key", spark=self.spark)
        copy.extend(self.table.get_full_df().select("key", "part", "val", "body"))
        return dir_bytes_files(self.root)[0] / dir_bytes_files(copy_root)[0]


# ------------------------------------------------------------ dedup_search


class DedupSearch:
    """A seeded text corpus with injected near-duplicates and a seeded
    embedding matrix with one ``AnnIndex`` built over it. The measured
    phase runs MinHash near-dedup + connected components passes
    interleaved with exact and ANN top-k requests.

    Shapes come from the repo's bench-scale (sf0.1) test tables and its
    queries: the embedding table is 2,000 unit-norm 64-dim float32
    vectors in 10 labelled clusters; the documents table has 10–100
    tokens a doc; the dedup queries add a near copy of every 11th doc
    and run ``threshold=0.6, bucket_cap=5000``; ``ann_index_persisted_topk``
    asks 50 queries at k=5 with ``n_probe=max(8, n_lists // 3)`` and
    requires recall@k ≥ 0.7 against the exact answer. The corpus is 1,000
    docs, not the table's 5,000: see WORKLOADS.md."""

    name = "dedup_search"
    # one round: 1 dedup pass and 4 top-k requests, ≈ 15 s on a 4-core host
    # with the reference job after each op
    ROUND = ["dedup", "exact", "ann", "exact", "ann"]
    ROUND_NOMINAL_S = 15.0
    WARMUP = ["dedup", "exact", "ann"]
    SIZES = {
        "base_docs": 1000,
        "near_dup_every": 11,
        "exact_copies": 8,
        "doc_tokens": (10, 100),
        "vocab": 4000,
        "zipf_s": 1.1,
        "edits_per_copy": 2,
        "vectors": 2000,
        "dim": 64,
        "clusters": 10,
        "cluster_spread": 0.35,
        "dup_vectors": 20,
        "queries_per_request": 50,
        "k": 5,
        "jaccard_threshold": 0.6,
        "bucket_cap": 5000,
    }
    TINY = {**SIZES, "base_docs": 60, "exact_copies": 2, "vectors": 200, "clusters": 4,
            "dup_vectors": 2, "queries_per_request": 4}
    # ANN is approximate: a request fails when its mean recall@k against
    # the exact answer falls below this floor (ann_index_persisted_topk's)
    RECALL_FLOOR = 0.7
    # share of the findable injected pairs (true Jaccard at or above the
    # threshold) that must share a component
    DEDUP_RECALL_FLOOR = 0.9

    def plan(self, seed: int, rounds: int, sizes: dict | None = None) -> Plan:
        sz = dict(sizes or self.SIZES)
        rng = random.Random(seed)
        nrng = np.random.default_rng(seed)
        vocab = [f"w{i}" for i in range(sz["vocab"])]
        w = 1.0 / np.arange(1, sz["vocab"] + 1) ** sz["zipf_s"]
        w /= w.sum()
        lo, hi = sz["doc_tokens"]
        docs = [
            " ".join(vocab[j] for j in nrng.choice(sz["vocab"], size=rng.randint(lo, hi), p=w))
            for _ in range(sz["base_docs"])
        ]
        injected = []
        for src in range(0, sz["base_docs"], sz["near_dup_every"]):
            toks = docs[src].split(" ")
            for _ in range(sz["edits_per_copy"]):
                i = rng.randrange(len(toks))
                r = rng.random()
                if r < 0.4:
                    toks[i] = vocab[int(nrng.choice(sz["vocab"], p=w))]
                elif r < 0.7 and len(toks) > lo:
                    del toks[i]
                else:
                    toks.insert(i, vocab[int(nrng.choice(sz["vocab"], p=w))])
            docs.append(" ".join(toks))
            injected.append((src, len(docs) - 1))
        for src in rng.sample(range(sz["base_docs"]), sz["exact_copies"]):
            docs.append(docs[src])
            injected.append((src, len(docs) - 1))
        # the pairs the operator must find: edits can take a short doc's
        # copy below the threshold, and then it is rightly not a pair
        findable = [(a, b) for a, b in injected
                    if _jaccard(docs[a], docs[b]) >= sz["jaccard_threshold"]]
        # embeddings: unit-norm float32 rows around labelled cluster
        # centres, plus exact duplicate rows (re-ingested items)
        centers = nrng.normal(size=(sz["clusters"], sz["dim"]))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        lab = nrng.integers(0, sz["clusters"], size=sz["vectors"])
        emb = centers[lab] + sz["cluster_spread"] / math.sqrt(sz["dim"]) * nrng.normal(
            size=(sz["vectors"], sz["dim"]))
        emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
        for dst, src in zip(
            nrng.choice(sz["vectors"], sz["dup_vectors"], replace=False),
            nrng.choice(sz["vectors"], sz["dup_vectors"], replace=False),
        ):
            emb[dst] = emb[src]
        emb = emb.astype(np.float64)
        norms = np.sqrt((emb * emb).sum(axis=1))

        def make(kind: str) -> Op:
            if kind == "dedup":
                return Op("dedup", "dedup", {})
            qids = sorted(rng.sample(range(sz["vectors"]), sz["queries_per_request"]))
            expected = {}
            for q in qids:
                cos = (emb @ emb[q]) / (norms * norms[q])
                cos[q] = -np.inf  # both paths exclude the query's own id
                order = np.lexsort((np.arange(len(cos)), -cos))[: sz["k"]]
                expected[q] = [(int(i), float(cos[i])) for i in order]
            return Op(kind, "search", {"qids": qids}, expected)

        warmup = [make(k) for k in self.WARMUP]
        ops = [make(k) for k in self.ROUND * rounds]
        sizes_out = dict(sz, docs=len(docs), injected_pairs=len(injected),
                         findable_pairs=len(findable), rounds=rounds,
                         warmup_ops=len(warmup), measured_ops=len(ops))
        return Plan(self.name, seed, sizes_out, warmup, ops,
                    {"docs": docs, "findable": findable, "emb": emb})


def _shingles(text: str, n: int = 3) -> set:
    t = text.split(" ")
    return {tuple(t[i : i + n]) for i in range(len(t) - n + 1)} if len(t) >= n else {tuple(t)}


def _jaccard(a: str, b: str) -> float:
    """Jaccard similarity of two docs' word 3-shingle sets."""
    x, y = _shingles(a), _shingles(b)
    return len(x & y) / len(x | y)


class DedupSearchRunner:
    """Drives a :class:`DedupSearch` plan: ``execute`` is the timed call
    (until the result is collected), ``post`` checks it."""

    def __init__(self, spark, root: str, plan: Plan, tracer, layers) -> None:
        self.spark, self.plan, self.tr, self.layers = spark, plan, tracer, layers
        self.base, self.root = root, None
        self.builds = 0
        self.recalls: list[float] = []
        self.last_dedup: dict = {}

    def inputs(self) -> None:
        """The generated frames, materialized once so every set-up and op
        scans the same in-memory blocks instead of re-shipping Python rows."""
        s, fin = self.spark, self.plan.final
        self.docs = s.createDataFrame(
            pd.DataFrame({"doc_id": range(len(fin["docs"])), "text": fin["docs"]}),
            "doc_id long, text string",
        ).localCheckpoint()
        self.vecs = s.createDataFrame(
            pd.DataFrame({"vec_id": range(len(fin["emb"])),
                          "embedding": list(fin["emb"].astype(np.float32))}),
            "vec_id long, embedding array<float>",
        ).localCheckpoint()

    def setup(self) -> None:
        """A fresh ``AnnIndex`` over the vectors; replaces the last one."""
        from parquetranger_spark import AnnIndex

        if self.root:
            shutil.rmtree(self.root)
        self.root = f"{self.base}/index{self.builds}"
        self.builds += 1
        self.index = AnnIndex(self.root, spark=self.spark)
        with self.tr.span("ann_index.build"):
            self.n_lists = self.index.build(self.vecs, seed=self.plan.seed)

    def prepare(self, op: Op):
        if op.kind == "dedup":
            return None
        return self.vecs.where(self.vecs.vec_id.isin(op.args["qids"]))

    def execute(self, op: Op, q):
        from parquetranger_spark.operators import dedup, similarity

        sz = self.plan.sizes
        if op.kind == "dedup":
            with self.tr.span("dedup.near_dedup_minhash"):
                pairs = dedup.near_dedup_minhash(self.docs, threshold=sz["jaccard_threshold"],
                                                 bucket_cap=sz["bucket_cap"])
            with self.tr.span("dedup.connected_components"):
                comps = dict(dedup.connected_components(pairs).collect())
            return pairs, comps
        if op.kind == "exact":
            with self.tr.span("similarity.topk_cosine_bruteforce"):
                return similarity.topk_cosine_bruteforce(q, self.vecs, k=sz["k"]).collect()
        with self.tr.span("ann_index.query"):
            # a third of the lists, at least 8: ann_index_persisted_topk's probe count
            n_probe = max(8, self.n_lists // 3)
            return self.index.query(q, k=sz["k"], n_probe=n_probe).collect()

    def post(self, op: Op, _q, result) -> None:
        if op.kind == "dedup":
            self._check_dedup(result[0].collect(), result[1])
        elif op.kind == "exact":
            self._check_exact(result, op.expected)
        else:
            self._check_ann(result, op.expected)

    def _check_exact(self, rows, expected) -> None:
        got: dict = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cos"]))
        if sorted(got) != sorted(expected):
            raise OpFailed(f"exact top-k: queries {sorted(got)} != {sorted(expected)}")
        emb = self.plan.final["emb"]
        for qid, ref in expected.items():
            mine = [(n, c) for _, n, c in sorted(got[qid])]
            if len(mine) != len(ref):
                raise OpFailed(f"exact top-k q={qid}: {len(mine)} rows, want {len(ref)}")
            if len({n for n, _ in mine}) != len(mine):
                raise OpFailed(f"exact top-k q={qid}: repeated neighbor ids {mine}")
            for (n, c), (_, want) in zip(mine, ref):
                true = float(emb[n] @ emb[qid]) / math.sqrt(
                    float(emb[n] @ emb[n]) * float(emb[qid] @ emb[qid])
                )
                # rank by rank the scores must match the reference's; the
                # ids may differ only where scores tie
                if n == qid or c is None or abs(c - want) > 1e-9 or abs(c - true) > 1e-9:
                    raise OpFailed(f"exact top-k q={qid}: neighbor {n} cos {c}, want {want}")

    def _check_ann(self, rows, expected) -> None:
        got: dict = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recall = sum(
            len(got.get(q, set()) & {n for n, _ in ref}) / len(ref) for q, ref in expected.items()
        ) / len(expected)
        self.recalls.append(recall)
        if recall < DedupSearch.RECALL_FLOOR:
            raise OpFailed(f"ANN recall@k {recall:.2f} below floor {DedupSearch.RECALL_FLOOR}")

    def _check_dedup(self, pairs, comps) -> None:
        docs, findable = self.plan.final["docs"], self.plan.final["findable"]
        found = sum(1 for a, b in findable if a in comps and comps.get(a) == comps.get(b))
        recall = found / len(findable)
        self.last_dedup = {"pairs": len(pairs), "injected_recall": recall}
        if recall < DedupSearch.DEDUP_RECALL_FLOOR:
            raise OpFailed(f"dedup recall {recall:.3f} below {DedupSearch.DEDUP_RECALL_FLOOR}")
        thr = self.plan.sizes["jaccard_threshold"]
        for r in pairs:
            # the operator hashes shingles: allow a collision's worth
            if _jaccard(docs[r["id_a"]], docs[r["id_b"]]) < thr - 0.02:
                raise OpFailed(f"dedup pair {r['id_a']},{r['id_b']} below threshold")

    def final_check(self) -> dict:
        return {"ok": True, **self.last_dedup}

    def storage_root(self) -> str:
        return self.root + "/postings"

    def candidates_per_verified(self) -> float:
        from parquetranger_spark.operators import dedup

        handles: list = []
        n_cand = dedup.candidate_pairs_minhash(
            self.docs, bucket_cap=self.plan.sizes["bucket_cap"], _handles=handles).count()
        for h in handles:
            h.unpersist()
        return n_cand / max(1, self.last_dedup.get("pairs", 0))


WORKLOADS = {w.name: w for w in (CommitChurn(), DedupSearch())}
RUNNERS = {"commit_churn": CommitChurnRunner, "dedup_search": DedupSearchRunner}


@dataclass
class OpResult:
    kind: str
    category: str
    seconds: float
    cpu_s: float  # CPU seconds of the run's process tree during the op
    ok: bool
    ref_cpu_s: float  # CPU seconds of the reference job run right after it


_REFERENCE_ROWS = 20_000
_reference_pdf = None


def reference_job(spark, path: str) -> float:
    """A fixed job in plain Spark, none of the program's code: write 20,000
    generated rows (the same for every seed) from pandas to parquet, read
    them back and group them. Its CPU seconds measure how fast the host is
    running Spark at that moment: pandas to Arrow, task threads, parquet
    I/O, a shuffle and the driver, like the ops. Returns those seconds."""
    from pyspark.sql import functions as F

    global _reference_pdf
    if _reference_pdf is None:
        ids = np.arange(_REFERENCE_ROWS, dtype=np.int64)
        _reference_pdf = pd.DataFrame(
            {"k": ids, "v": ids * 7919 % 1000, "s": [f"row{i % 977:05d}" * 3 for i in ids]}
        )
    c0 = tree_cpu_s()
    spark.createDataFrame(_reference_pdf).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).groupBy((F.col("k") % 16).alias("g")).agg(F.sum("v")).collect()
    return tree_cpu_s() - c0


def run_ops(runner, ops: list[Op], tracer, phase: str, first_index: int = 0):
    """Run ops in a closed loop: each op starts when the previous one has
    been checked. Returns the per-op results and the phase's wall time
    and the part of it spent in untimed prepare/check/reference work. A
    raised error or a wrong answer marks the op failed; the loop goes on,
    so one failure does not change the rest of the op list. After every op
    the reference job runs, untimed."""
    out: list[OpResult] = []
    untimed = 0.0
    t_phase = time.perf_counter()
    with tracer.span(f"phase.{phase}"):
        for i, op in enumerate(ops, start=first_index):
            ok, dt = True, 0.0
            try:
                u0 = time.perf_counter()
                prepared = runner.prepare(op)
                c0 = tree_cpu_s()
                with tracer.op(i, op.kind, op.category):
                    t0 = time.perf_counter()
                    result = runner.execute(op, prepared)
                    t1 = time.perf_counter()
                cpu = tree_cpu_s() - c0
                dt = t1 - t0
                runner.post(op, prepared, result)
                untimed += (t0 - u0) + (time.perf_counter() - t1)
            except Exception:  # a failed op is counted, not fatal
                ok, cpu = False, 0.0
                traceback.print_exc(file=sys.stderr)
            r0 = time.perf_counter()
            ref = reference_job(runner.spark, f"{runner.base}/reference")
            untimed += time.perf_counter() - r0
            out.append(OpResult(op.kind, op.category, dt, cpu, ok, ref))
    return out, time.perf_counter() - t_phase, untimed
