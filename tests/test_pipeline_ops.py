"""LLM-pipeline operator tests (SURVEY §2.4): dedup recall/precision,
ANN behavior on near-identical vectors, text functions, multimodal
plumbing."""

import math

import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from parquetranger_spark.functions.text import lang_id, quality_score, doc_fingerprint
from parquetranger_spark.operators.dedup import (
    exact_dedup,
    near_dedup_embedding,
    near_dedup_minhash,
    near_dedup_simhash,
)
from parquetranger_spark.operators.multimodal import extract_features, frame_sample, pack_binary
from parquetranger_spark.operators.similarity import topk_cosine_bruteforce, topk_cosine_lsh


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def vecs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _with_near_dups(docs, every=10):
    d = docs.select("doc_id", "text")
    dups = d.where(F.col("doc_id") % every == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail token")).alias("text"),
    )
    return d.unionByName(dups), dups.count()


def test_exact_dedup_keeps_min_id(spark, docs):
    d = docs.select("doc_id", "text")
    corpus = d.unionByName(d.select((F.col("doc_id") + 999999).alias("doc_id"), "text"))
    kept = exact_dedup(corpus)
    n_docs = d.count()
    assert kept.count() == n_docs  # every text has exactly one survivor
    assert kept.agg(F.max("doc_id")).first()[0] < 999999  # min ids kept
    assert kept.agg(F.sum("n_copies")).first()[0] == 2 * n_docs


def test_minhash_finds_injected_near_dups(spark, docs):
    corpus, n_dups = _with_near_dups(docs)
    base_ids = [r[0] for r in docs.where(F.col("doc_id") % 10 == 0).select("doc_id").collect()]
    pairs = near_dedup_minhash(corpus, threshold=0.6).toPandas()
    found = set(map(tuple, pairs[["id_a", "id_b"]].values))
    # every injected near-dup pair recovered (LSH recall), jaccard filter holds
    assert {(i, i + 1_000_000) for i in base_ids} <= found
    assert len(base_ids) == n_dups
    assert (pairs.jaccard >= 0.6).all()


def test_simhash_finds_injected_near_dups(spark, docs):
    corpus, n_dups = _with_near_dups(docs)
    pairs = near_dedup_simhash(corpus, max_hamming=6).toPandas()
    found = set(map(tuple, pairs[["id_a", "id_b"]].values))
    hits = sum(1 for (a, b) in found if b == a + 1_000_000)
    assert hits >= int(0.9 * n_dups)  # simhash: high recall on near-identical


def test_embedding_dedup_finds_scaled_copies(spark, vecs):
    base = vecs.where(F.col("vec_id") < 100).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    pert = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.0001).alias("embedding"),
    )
    pairs = near_dedup_embedding(base.unionByName(pert), threshold=0.999).toPandas()
    found = set(map(tuple, pairs[["id_a", "id_b"]].values))
    assert {(i, i + 1_000_000) for i in range(100)} <= found


def test_ann_recovers_identical_neighbors(spark, vecs):
    # scale-path honesty check: for queries that *have* a near-identical
    # neighbor, LSH must put it at rank 1 (same buckets ⇒ always candidate)
    base = vecs.where(F.col("vec_id") < 50)
    probes = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.0001).cast("float")).alias("embedding"),
    )
    corpus = vecs.select("vec_id", "embedding").unionByName(probes)
    got = topk_cosine_lsh(probes, corpus, k=1).toPandas()
    assert len(got) == 50
    assert (got.neighbor_id == got.query_id - 1_000_000).all()


def test_bruteforce_topk_is_exact_and_ranked(spark, vecs):
    got = topk_cosine_bruteforce(vecs.where(F.col("vec_id") < 5), vecs, k=3).toPandas()
    assert len(got) == 15
    for qid, grp in got.groupby("query_id"):
        sims = grp.sort_values("rank").cos.tolist()
        assert sims == sorted(sims, reverse=True)
        assert qid not in set(grp.neighbor_id)  # self excluded


def _ref_cos(a, b):
    """Plain-Python reference cosine: sequential ``acc = acc + x*y``
    folds, dot / (norm·norm); undefined (None) when either vector is
    null, the lengths differ or the fold yields NaN (a NaN or null
    element, a zero norm)."""

    def fold(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc = acc + x * y
        return acc

    if a is None or b is None or len(a) != len(b):
        return None
    a = [math.nan if x is None else x for x in a]
    b = [math.nan if x is None else x for x in b]
    den = math.sqrt(fold(a, a)) * math.sqrt(fold(b, b))
    v = fold(a, b) / den if den else math.nan  # zero norm: 0/0
    return None if math.isnan(v) else v


def _ref_topk(qrows, crows, k):
    """Plain-Python reference of the exact top-k policy: a pair scores
    :func:`_ref_cos`; an undefined cosine ranks after every real score,
    ties by neighbor id; null ids produce no output; self-pairs are
    excluded."""
    out = []
    for qid in sorted({q for q, _ in qrows if q is not None}):
        scored = [
            (_ref_cos(qv, cv), nid)
            for q, qv in qrows
            if q == qid
            for nid, cv in crows
            if nid is not None and nid != qid
        ]
        scored.sort(key=lambda t: (t[0] is None, -(t[0] or 0.0), t[1]))
        out += [(qid, nid, r, c) for r, (c, nid) in enumerate(scored[:k], 1)]
    return out


def _run_topk(spark, qrows, crows, k, kind, layout):
    schema = f"vec_id {kind}, embedding array<double>"
    corpus = spark.createDataFrame(crows, schema)  # one slice per core
    if layout == "single":
        corpus = corpus.coalesce(1)
    got = topk_cosine_bruteforce(spark.createDataFrame(qrows, schema), corpus, k=k)
    return sorted(map(tuple, got.collect()), key=lambda r: (r[0], r[2]))


_ELEM = st.sampled_from([None, math.nan, 0.0, 0.0, 1.0, -1.0, 0.5, 2.0])
_VEC = st.one_of(
    st.lists(_ELEM, min_size=3, max_size=3),
    st.none(),
    st.lists(_ELEM, min_size=0, max_size=4),  # ragged
)


@st.composite
def _topk_case(draw):
    ids = draw(st.lists(st.integers(0, 99), min_size=1, max_size=9, unique=True))
    rows = [(i, draw(_VEC)) for i in ids]
    rows += [(None, draw(_VEC)) for _ in range(draw(st.integers(0, 1)))]
    qidx = draw(st.sets(st.integers(0, len(rows) - 1), min_size=1, max_size=3))
    k = draw(st.integers(1, len(rows) + 2))
    return rows, sorted(qidx), k, draw(st.sampled_from(["long", "string"]))


_Q1, _V2 = [1.0, 0.0, 0.0, 0.0], [9.0, 1.0, 0.0, 0.0]  # cos(1, 2) = 0.99388…
_V4 = [0.0, 0.0, 1.0, 0.0]  # orthogonal to the query: cos 0.0


@given(case=_topk_case(), expected=st.none())
# (a) a NaN candidate must not evict the real rank-2 neighbor
@example(
    case=(
        [(1, _Q1), (2, _V2), (3, [math.nan, 1.0, 0.0, 0.0]), (4, _V4),
         (5, [1.0, 1.0, 1.0, 1.0]), (6, [-1.0, 0.0, 0.0, 0.0])],
        [0], 2, "long",
    ),
    expected=[(1, 2, 1, 0.9938837346736188), (1, 5, 2, 0.5)],
)
# (b) a null neighbor id produces no row (was INT64_MIN at rank 1)
@example(
    case=([(1, _Q1), (2, _V2), (None, _Q1), (4, _V4)], [0], 2, "long"),
    expected=[(1, 2, 1, 0.9938837346736188), (1, 4, 2, 0.0)],
)
# (c) a zero-norm row scores NULL and ranks last (the join raised)
@example(
    case=([(1, _Q1), (2, _V2), (3, [0.0] * 4), (4, _V4)], [0], 3, "long"),
    expected=[(1, 2, 1, 0.9938837346736188), (1, 4, 2, 0.0), (1, 3, 3, None)],
)
# (d) string ids take the same kernel, zero norm included
@example(
    case=([("a", [1.0, 0.0]), ("b", [0.0, 0.0]), ("c", [1.0, 1.0])], [0], 2, "string"),
    expected=[("a", "c", 1, 0.7071067811865475), ("a", "b", 2, None)],
)
@settings(max_examples=5, deadline=None)
def test_bruteforce_matches_python_reference(spark, case, expected):
    """Differential check of the streamed top-k kernel against the
    plain-Python policy reference: same rows, same ranks, bit-identical
    cos, on a single-partition and a multi-partition corpus."""
    rows, qidx, k, kind = case
    if kind == "string":
        rows = [(None if i is None else str(i), v) for i, v in rows]
    qrows = [rows[i] for i in qidx]
    want = _ref_topk(qrows, rows, k)
    if expected is not None:
        assert want == expected
    for layout in ("single", "multi"):
        assert _run_topk(spark, qrows, rows, k, kind, layout) == want, layout


def test_bruteforce_query_blocks_match_single_block(spark, monkeypatch):
    """A query matrix over the ship cap is scored block by block, one
    corpus pass each, and the union ranks exactly like one block; a
    batch over the kernel's matrix cap is scored chunk by chunk, with
    the same result."""
    from parquetranger_spark.operators import similarity

    crows = [(i, [float(i % 5), 1.0, 0.25 * (i % 3)]) for i in range(20)]
    crows += [(20, None), (21, [1.0, 2.0]), (22, [math.nan, 1.0, 0.5]), (23, [0.0] * 3)]
    qrows = [crows[i] for i in (0, 3, 5, 8, 20, 21, 22, 23)]
    single = _run_topk(spark, qrows, crows, 4, "long", "multi")
    assert single == _ref_topk(qrows, crows, 4)

    cut = []
    blocks = similarity._query_blocks
    monkeypatch.setattr(similarity, "_QUERY_BLOCK_BYTES", 2 * 3 * 8)  # two dim-3 rows
    monkeypatch.setattr(
        similarity, "_query_blocks", lambda rows, cap: cut.append(blocks(rows, cap)) or cut[-1]
    )
    assert _run_topk(spark, qrows, crows, 4, "long", "multi") == single
    assert len(cut[-1]) >= 3

    # the kernel's matrix cap at two query rows × two corpus rows: the
    # one-partition corpus (one 24-row batch) is scored in 12 chunks
    monkeypatch.setattr(similarity, "_KERNEL_MATRIX_BYTES", 2 * 2 * 8)
    for k in (1, 4):
        assert _run_topk(spark, qrows, crows, k, "long", "single") == _ref_topk(qrows, crows, k)


@st.composite
def _cos_pairs(draw):
    # mostly equal-length pairs (scored), some ragged or null ones, and
    # several lengths — the empty vector included — in one batch
    pairs = []
    for _ in range(draw(st.integers(1, 24))):
        n = draw(st.integers(0, 5))
        same = st.lists(_ELEM, min_size=n, max_size=n)
        a = draw(st.one_of(same, same, same, st.none()))
        b = draw(st.one_of(same, same, same, _VEC))
        pairs.append((a, b))
    return pairs


@given(pairs=_cos_pairs())
@example(
    pairs=[
        (_Q1, _V2),  # 0.99388…
        ([1.0, 1.0], [1.0, 0.0]),  # another length in the same batch
        ([0.0] * 4, _V2),  # zero norm
        ([], []),  # empty: 0/0
        (_Q1, None),  # null vector
        (_Q1, [1.0, 0.0, 0.0]),  # ragged
        ([1.0, None, 0.0], [1.0, 1.0, 1.0]),  # null element
        ([math.nan, 1.0], [1.0, 1.0]),  # NaN element
        ([-1.0, 0.0, 1.0], [1.0, 0.0, -1.0]),  # -1.0
    ]
)
@settings(max_examples=8, deadline=None)
def test_cosine_matches_python_reference(spark, pairs):
    """Differential check of the one exact pair scorer ``vectors.cosine``
    against the plain-Python reference: bit-identical cos per row (by
    ``float.hex``) and NULL wherever the reference is undefined, with
    every row in one Arrow batch and spread across partitions."""
    from parquetranger_spark.functions.vectors import cosine

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i long, a array<double>, b array<double>",
    )
    want = [
        None if c is None else c.hex() for c in (_ref_cos(a, b) for a, b in pairs)
    ]
    for frame in (df.coalesce(1), df.repartition(3)):
        got = frame.select("i", cosine(F.col("a"), F.col("b")).alias("c")).collect()
        got = [None if r["c"] is None else r["c"].hex() for r in sorted(got)]
        assert got == want


def test_text_functions_shapes(spark, docs):
    out = docs.select(
        lang_id("text").alias("lang_pred"),
        quality_score("text").alias("q"),
        doc_fingerprint("text").alias("fp"),
    ).toPandas()
    assert out.lang_pred.isin(["de", "en", "es", "fr", "zh", "und"]).all()
    assert ((out.q >= 0) & (out.q <= 1)).all()
    assert (out.fp >= 0).all() and out.fp.nunique() > len(out) * 0.9


def test_multimodal_plumbing(spark, docs):
    packed = pack_binary(docs.limit(100), "text", "doc_id")
    assert dict(packed.dtypes)["payload"] == "binary"
    feats = extract_features(packed).toPandas()
    assert len(feats) == 100
    assert (feats.decoder == "fake-md5").all()  # codec libs absent here
    assert (feats.byte_len > 0).all()
    assert feats.content_md5.str.len().eq(32).all()
    assert ((feats.width >= 16) & (feats.width < 256)).all()
    sampled = frame_sample(packed, every_n=5)
    assert 0 < sampled.count() < 100

def test_ivf_topk_recall_vs_bruteforce(spark, vecs):
    from parquetranger_spark.operators.similarity import topk_cosine_ivf

    probes = vecs.where(F.col("vec_id") < 30)
    exact = topk_cosine_bruteforce(probes, vecs, k=5).toPandas()
    approx = topk_cosine_ivf(probes, vecs, k=5, n_lists=16, n_probe=8).toPandas()
    ex = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    ap = set(map(tuple, approx[["query_id", "neighbor_id"]].values))
    assert len(ap & ex) / len(ex) >= 0.7  # half the lists probed: most top-5 found
    # within probed candidates ranking is exact cosine, descending
    for _, grp in approx.groupby("query_id"):
        sims = grp.sort_values("rank").cos.tolist()
        assert sims == sorted(sims, reverse=True)


def test_ivf_recovers_identical_neighbors(spark, vecs):
    from parquetranger_spark.operators.similarity import topk_cosine_ivf

    base = vecs.where(F.col("vec_id") < 50)
    probes = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.0001).cast("float")).alias("embedding"),
    )
    corpus = vecs.select("vec_id", "embedding").unionByName(probes)
    got = topk_cosine_ivf(probes, corpus, k=1, n_lists=8, n_probe=2).toPandas()
    # a near-identical copy quantizes to the same list ⇒ always a candidate
    assert (got.neighbor_id == got.query_id - 1_000_000).mean() >= 0.95


def test_hyperplane_bits_compiles_at_real_dims(spark):
    # scale-risk gate: at realistic embedding dims (768) × 16 planes the
    # sketch must stay one constant-folded plane literal + one fold — the
    # unrolled per-plane shape blows past codegen limits here
    import time

    from parquetranger_spark.functions.vectors import hyperplane_bits
    from parquetranger_spark.operators.similarity import default_planes

    dim = 768
    planes = default_planes(dim, n_planes=16)
    df = spark.range(200).select(
        "id",
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (i.cast("double") * 0.37 + F.col("id").cast("double")) % 7.0 - 3.0,
        ).alias("v"),
    )
    t0 = time.monotonic()
    out = df.select("id", hyperplane_bits(F.col("v"), planes).alias("b")).toPandas()
    elapsed = time.monotonic() - t0
    assert len(out) == 200 and out.b.notna().all()
    assert out.b.nunique() > 1  # the sketch actually discriminates
    assert elapsed < 60, f"hyperplane_bits at dim {dim} took {elapsed:.1f}s"


def test_simhash_signature_is_jvm_side(spark, docs):
    # the signature plan must contain no Python workers (no pandas UDF /
    # ArrowEvalPython / BatchEvalPython nodes) — SimHash is the hot path of
    # near_dedup_simhash at 100 TB
    from parquetranger_spark.operators.dedup import simhash_signatures

    plan = simhash_signatures(docs)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "FlatMapGroupsInPandas" not in plan
    sigs = simhash_signatures(docs.limit(50)).toPandas()
    assert len(sigs) == 50 and sigs.sig.nunique() > 40


def test_salted_agg_matches_plain_groupby(spark, sf_dir):
    from parquetranger_spark.functions.skew import salted_agg

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    got = (
        salted_agg(
            li,
            ["l_returnflag"],
            {"n": ("count", "*"), "qty": ("sum", "l_quantity"), "mx": ("max", "l_discount"),
             "avg_q": ("avg", "l_quantity")},
            n_salts=8,
        )
        .toPandas()
        .set_index("l_returnflag")
        .sort_index()
    )
    exp = (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("qty"),
            F.max("l_discount").alias("mx"),
            F.avg("l_quantity").alias("avg_q"),
        )
        .toPandas()
        .set_index("l_returnflag")
        .sort_index()
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # the salt stage really fans out: partial agg groups by (key, salt)
    import pytest

    with pytest.raises(ValueError):
        salted_agg(li, ["l_returnflag"], {"bad": ("median", "l_quantity")})


def test_salted_join_matches_plain_join(spark, sf_dir):
    from parquetranger_spark.functions.skew import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    dim = spark.createDataFrame(
        [("A", "accepted"), ("N", "none"), ("R", "returned")], "l_returnflag string, label string"
    )
    got = (
        salted_join(li, dim, ["l_returnflag"], n_salts=8)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
        .toPandas()
        .set_index("label")
        .sort_index()
    )
    exp = (
        li.join(dim, "l_returnflag")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
        .toPandas()
        .set_index("label")
        .sort_index()
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    import pytest

    with pytest.raises(ValueError):
        salted_join(li, dim, ["l_returnflag"], how="full")


def test_connected_components_chain_and_clique(spark):
    """Chains (worst diameter), cliques, and isolated pairs resolve to
    min-id components within max_iter."""
    from parquetranger_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5, clique {10,11,12}, pair (20,21)
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def _union_find_components(edges):
    """Plain-Python reference for connected_components: every non-null
    id in a pair, labeled with the minimum id reachable from it."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for v in (a, b):
            if v is not None:
                parent.setdefault(v, v)
    for a, b in edges:
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_connected_components_matches_union_find(spark):
    """Star-round CC agrees with a union-find reference on random
    graphs, long chains in both orientations (a reversed 40-chain is
    past any O(diameter)-round budget of 20), cliques, self-loops,
    duplicate and reversed pairs, string ids, null ids and the empty
    graph — exact labels, one row per vertex."""
    import random

    from parquetranger_spark.operators.dedup import connected_components

    cases = []
    for seed, n, m in [(1, 40, 25), (2, 60, 80), (3, 30, 12), (4, 50, 50)]:
        rng = random.Random(seed)
        cases.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        )
    cases.append([(i, i + 1) for i in range(15)])
    cases.append([(i + 1, i) for i in range(40)])
    # self-loops only + a mixed component
    cases.append([(7, 7), (8, 8), (1, 2), (2, 2)])
    cases.append([(1, 2), (2, 1), (1, 2), (3, 2), (2, 3), (3, 2)])
    for edges in cases:
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got_rows = connected_components(pairs).collect()
        got = {r.id: r.component for r in got_rows}
        assert len(got_rows) == len(got), "duplicate vertex labels"
        assert got == _union_find_components(edges)

    words = [("b", "a"), ("c", "b"), ("d", "c"), ("y", "x"), ("z", "z")]
    pairs = spark.createDataFrame(words, "id_a string, id_b string")
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == _union_find_components(words)
    assert got["d"] == "a"

    # a NULL id adds no edge and is never returned; its partner is kept
    nulls = [(1, None), (2, 3), (None, None), (4, 4), (5, None), (5, 6)]
    pairs = spark.createDataFrame(nulls, "id_a long, id_b long")
    got_rows = sorted(tuple(r) for r in connected_components(pairs).collect())
    assert got_rows == [(1, 1), (2, 2), (3, 2), (4, 4), (5, 5), (6, 5)]

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0


def test_cc_round_job_budget(spark):
    """Job-count tripwire for the CC rounds: a round materializes its
    checkpoint INSIDE the convergence-probe job (lazy localCheckpoint),
    each star step is ONE window shuffle and only small-star ends in a
    distinct, so a round costs 5 jobs (AQE stage jobs included). A
    reappearing eager-checkpoint job, a groupBy+join-back star step or
    a dropped distinct coming back shows up here as a job-count jump."""
    from parquetranger_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    ).localCheckpoint(eager=True)

    sc.setJobGroup("cc_budget", "CC job budget")
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    sc.setJobGroup("cc_budget_done", "")
    assert got == {i: 0 for i in range(13)}

    jobs = len(sc.statusTracker().getJobIdsForGroup("cc_budget"))
    # a 13-chain converges in 5 star rounds: measured 29 jobs; the
    # budget holds one more round (5 jobs), no more
    assert jobs <= 34, f"CC fired {jobs} jobs on a 13-chain"


def test_connected_components_raises_when_unconverged(spark):
    import pytest

    from parquetranger_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1)


def test_pq_topk_recall_vs_bruteforce(spark, vecs):
    from parquetranger_spark.operators.similarity import topk_cosine_pq

    probes = vecs.where(F.col("vec_id") < 30)
    exact = topk_cosine_bruteforce(probes, vecs, k=5).toPandas()
    approx = topk_cosine_pq(probes, vecs, k=5, m=8, n_codes=256).toPandas()
    ex = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    ap = set(map(tuple, approx[["query_id", "neighbor_id"]].values))
    # 256 codes × 8 subspaces (64-bit code) + 4k re-rank: near-exact
    assert len(ap & ex) / len(ex) >= 0.9
    # the emitted ranking is exact cosine within the re-ranked candidates
    for _, grp in approx.groupby("query_id"):
        sims = grp.sort_values("rank").cos.tolist()
        assert sims == sorted(sims, reverse=True)
        assert len(grp) == 5


def test_pq_codebooks_deterministic_and_reusable(spark, vecs):
    from parquetranger_spark.operators.similarity import (
        topk_cosine_pq,
        train_pq_codebooks,
    )

    b1 = train_pq_codebooks(vecs, m=8, n_codes=64, seed=7)
    b2 = train_pq_codebooks(vecs, m=8, n_codes=64, seed=7)
    assert b1 == b2  # seeded fit — stable across runs/retries
    probes = vecs.where(F.col("vec_id") < 10)
    out = topk_cosine_pq(probes, vecs, k=3, codebooks=b1).toPandas()
    assert set(out.groupby("query_id").size()) == {3}


def test_embed_binary_deterministic_and_dup_top1(spark, docs):
    from parquetranger_spark.operators.multimodal import embed_binary, pack_binary
    from parquetranger_spark.operators.similarity import topk_cosine_bruteforce

    d = docs.select("doc_id", "text").where(F.col("doc_id") < 50)
    dups = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    emb = embed_binary(pack_binary(d.unionByName(dups), "text", "doc_id"))
    e1 = {r["item_id"]: r["embedding"] for r in emb.collect()}
    e2 = {r["item_id"]: r["embedding"] for r in emb.collect()}
    assert e1 == e2  # retry-stable
    assert all(len(v) == 64 for v in e1.values())
    top = topk_cosine_bruteforce(
        emb.where(F.col("item_id") >= 1_000_000), emb, k=1,
        vec_col="embedding", id_col="item_id",
    ).toPandas()
    # every duplicate's nearest neighbor is its byte-identical twin
    for _, r in top.iterrows():
        assert r.neighbor_id == r.query_id - 1_000_000
        assert abs(r.cos - 1.0) < 1e-9


def test_pagerank_contracts(spark):
    """PageRank sanity: ranks sum to 1; a uniform cycle is uniform; a
    star's center dominates and matches the closed-form value."""
    import pandas as pd

    from parquetranger_spark.operators.dedup import pagerank

    # 4-cycle: all ranks equal 0.25
    cyc = spark.createDataFrame(
        pd.DataFrame({"id_a": [0, 1, 2, 3], "id_b": [1, 2, 3, 0]})
    )
    r = {row["id"]: row["rank"] for row in pagerank(cyc, iterations=20).collect()}
    assert abs(sum(r.values()) - 1.0) < 1e-9
    assert all(abs(v - 0.25) < 1e-9 for v in r.values())

    # star with center 0 and 5 leaves: closed form center = (1-d)/n + d*5*leaf... 
    # just assert dominance + sum-normalization + symmetry of leaves
    star = spark.createDataFrame(
        pd.DataFrame({"id_a": [0] * 5, "id_b": [1, 2, 3, 4, 5]})
    )
    rs = {row["id"]: row["rank"] for row in pagerank(star, iterations=30).collect()}
    assert abs(sum(rs.values()) - 1.0) < 1e-9
    leaves = [v for k, v in rs.items() if k != 0]
    assert rs[0] > max(leaves) * 2
    assert max(leaves) - min(leaves) < 1e-12


def test_qgram_prefix_cuts_candidates_in_same_length_blocks(spark):
    """The q-gram prefix filter's reason to exist: a same-length-heavy
    corpus (every string 12 chars) makes length bands useless — the band
    channel verifies ~n²/2 pairs — while rare-first prefix grams cut the
    candidate set by an order of magnitude AND recall stays exact."""
    import random

    from parquetranger_spark.operators.dedup import (
        _qgram_prefix_candidates,
        fuzzy_pairs,
    )

    rng = random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    words = ["".join(rng.choice(alpha) for _ in range(12)) for _ in range(300)]
    # a handful of true near-dups: one substitution each
    for i in range(0, 30, 3):
        w = list(words[i])
        w[5] = "z" if w[5] != "z" else "q"
        words.append("".join(w))
    pdf = pd.DataFrame({"id": range(len(words)), "s": words})
    sdf = spark.createDataFrame(pdf)

    base = sdf.select(
        F.col("id"), F.col("s").alias("__s"), F.length("s").alias("__len")
    ).withColumn("__band", F.expr("__len div 3"))
    n = len(words)
    band_pairs = n * (n - 1) // 2  # one 12-char band: the full cross set
    qg_pairs = _qgram_prefix_candidates(base, 2, 2, "id").count()
    assert qg_pairs < band_pairs / 10, (qg_pairs, band_pairs)

    # and the verified result is still the exact distance-<=2 pair set
    got = {
        (r["id_a"], r["id_b"])
        for r in fuzzy_pairs(sdf, "s", "id", max_dist=2, qgram=2).collect()
    }
    want = {(i, 300 + j) for j, i in enumerate(range(0, 30, 3))}
    assert want <= got
    banded = {
        (r["id_a"], r["id_b"])
        for r in fuzzy_pairs(sdf, "s", "id", max_dist=2).collect()
    }
    assert got == banded


def test_bloom_no_false_negatives_and_low_fpr(spark):
    """functions/bloom.py contract: every inserted value probes True
    (false negatives impossible — same double-hash positions on both
    sides), and the false-positive rate on disjoint values stays near
    the (m, k, n) design point. The probe must stay a pure JVM Column
    (no Python eval node in the plan)."""
    from parquetranger_spark.functions.bloom import bloom_build, bloom_probe

    vals = spark.range(2000).select(F.concat(F.lit("in"), F.col("id")).alias("s"))
    bits = bloom_build(vals, "s", m_bits=1 << 16, k=5)
    assert len(bits) == (1 << 16) // 8  # packed bytes
    assert vals.where(bloom_probe(bits, F.col("s"), m_bits=1 << 16, k=5)).count() == 2000

    other = spark.range(50_000).select(
        F.concat(F.lit("out"), F.col("id")).alias("s")
    )
    fp = other.where(bloom_probe(bits, F.col("s"), m_bits=1 << 16, k=5)).count()
    # design FPR at n=2000, m=65536, k=5 is ~0.1%; allow 10x slack
    assert fp < 500, fp

    plan = (
        other.where(bloom_probe(bits, F.col("s"), m_bits=1 << 16, k=5))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    with pytest.raises(ValueError):
        bloom_probe(bits, F.col("s"), m_bits=1 << 20, k=5)
