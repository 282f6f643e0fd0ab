"""Persisted IVF index (operators/ann_index.py): build / incremental add
/ dv-delete / probed query, plus the partition-pruned-scan plan gate."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from parquetranger_spark.operators.ann_index import AnnIndex
from parquetranger_spark.operators.similarity import topk_cosine_bruteforce


def _vectors(spark, n, dim=8, seed=7, id0=0):
    rng = np.random.default_rng(seed)
    v = rng.normal(size=(n, dim))
    pdf = pd.DataFrame(
        {"vec_id": np.arange(id0, id0 + n), "embedding": [list(map(float, r)) for r in v]}
    )
    return spark.createDataFrame(pdf)


@pytest.fixture()
def idx(spark, tmp_root):
    return AnnIndex(tmp_root + "/idx", spark=spark)


def test_build_query_recall(spark, idx):
    corpus = _vectors(spark, 400).cache()
    idx.build(corpus, n_lists=16, seed=1)
    q = corpus.where(F.col("vec_id") < 30)
    got = idx.query(q, k=3, n_probe=6).cache()
    exact = topk_cosine_bruteforce(q, corpus, k=3).cache()
    total = exact.count()
    hits = exact.join(got, ["query_id", "neighbor_id"], "left_semi").count()
    assert total == 90
    assert hits / total >= 0.6  # IVF recall floor at n_probe=6/16


def test_query_zero_norm_query_vector(spark, idx):
    # a zero-norm query scores every centroid and neighbor undefined:
    # no ZeroDivisionError/DIVIDE_BY_ZERO, k rows ranked by neighbor id,
    # probes ranked by list_id
    idx.build(_vectors(spark, 200), n_lists=8, seed=1)
    zq = spark.createDataFrame([(999, [0.0] * 8)], "vec_id long, embedding array<double>")
    got = sorted(map(tuple, idx.query(zq, k=3, n_probe=2).collect()), key=lambda r: r[2])
    assert [r[2] for r in got] == [1, 2, 3]
    assert all(r[3] is None for r in got)
    assert [r[1] for r in got] == sorted(r[1] for r in got)
    assert idx._probe_rows([(999, [0.0] * 8)], 3)[0][3] == [0, 1, 2]


def _ref_cos(a, b):
    # plain-Python fold: acc = acc + x*y in dimension order; None when a
    # vector is null, the lengths differ or the result is NaN
    if a is None or b is None or len(a) != len(b):
        return None

    def fold(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc = acc + x * y
        return acc

    den = math.sqrt(fold(a, a)) * math.sqrt(fold(b, b))
    v = fold(a, b) / den if den else math.nan
    return None if math.isnan(v) else v


def test_probe_order_matches_python_sort():
    # nearest first by centroid cosine, undefined cosines last, ties by
    # list id: the one probe ranking of AnnIndex and topk_cosine_ivf
    from parquetranger_spark.functions.vectors import _probe_order, _rows_mat

    cents = [
        (7, [1.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (5, [0.0, 0.0, 0.0]),  # zero norm: every cosine undefined
        (1, [1.0, 0.0, 0.0]),  # duplicate of list 7: exact tie
        (9, [1.0, 1.0, -1.0]),
        (2, [-2.0, 0.5, 0.25]),
    ]
    queries = [
        [1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0],  # cos 0.0 against lists 7, 3 and 1
        [math.nan, 1.0, 0.0],  # NaN element
        None,  # null query
        [1.0, 2.0],  # ragged
        [2.0, 2.0, -2.0],
    ]
    C = _rows_mat([c for _, c in cents], 3)
    lids = np.array([lid for lid, _ in cents])
    for n in (1, 3, len(cents), len(cents) + 2):
        got = _probe_order(_rows_mat(queries, 3), C, lids, n).tolist()
        want = []
        for qv in queries:
            scored = [(_ref_cos(qv, c), lid) for lid, c in cents]
            scored.sort(key=lambda t: (t[0] is None, -(t[0] or 0.0), t[1]))
            want.append([lid for _, lid in scored[:n]])
        assert got == want, n
    assert want[0] == [1, 7, 9, 3, 2, 5]  # tie 1/7 by id, zero norm last
    assert want[3] == want[4] == [1, 2, 3, 5, 7, 9]


def test_full_probe_paths_match_bruteforce(spark, tmp_root):
    """Probing every list (and re-ranking every candidate) must return
    exactly the exact top-k: same ids, ranks and bit-identical cos, on a
    corpus with a zero-norm row and duplicate vectors (exact ties)."""
    from parquetranger_spark.operators.similarity import topk_cosine_ivf, topk_cosine_pq

    rng = np.random.default_rng(11)
    vecs = [list(map(float, r)) for r in rng.normal(size=(36, 8))]
    vecs[5] = [0.0] * 8
    vecs[20] = list(vecs[3])
    vecs[21] = list(vecs[3])
    vecs[30] = list(vecs[12])
    corpus = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    ).cache()
    q = corpus.where(F.col("vec_id").isin(3, 5, 12, 20, 27))
    k, n_lists = 4, 4

    def rows(df):
        return sorted(map(tuple, df.collect()))

    want = rows(topk_cosine_bruteforce(q, corpus, k=k))
    assert len(want) == 5 * k
    assert [r[3] for r in want if r[0] == 5] == [None] * k
    assert rows(topk_cosine_ivf(q, corpus, k=k, n_lists=n_lists, n_probe=n_lists)) == want
    assert rows(topk_cosine_pq(q, corpus, k=k, m=4, n_codes=8, rerank=len(vecs))) == want
    idx = AnnIndex(tmp_root + "/full", spark=spark)
    idx.build(corpus, n_lists=n_lists, seed=1, pq_m=4, pq_codes=8)
    assert rows(idx.query(q, k=k, n_probe=n_lists)) == want
    assert rows(idx.query_pq(q, k=k, n_probe=n_lists, rerank=len(vecs))) == want


def test_query_corpus_with_zero_norm_row(spark, idx):
    # one zero-norm corpus row scores NULL in the rerank instead of
    # raising; probing every list reproduces the exact answer
    corpus = _vectors(spark, 200).withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0, F.array_repeat(F.lit(0.0), 8)).otherwise(
            F.col("embedding")
        ),
    ).cache()
    idx.build(corpus, n_lists=8, seed=1)
    q = corpus.where(F.col("vec_id") < 4)
    got = sorted(map(tuple, idx.query(q, k=3, n_probe=8).collect()))
    exact = sorted(map(tuple, topk_cosine_bruteforce(q, corpus, k=3).collect()))
    assert got == exact
    assert [r[3] for r in got if r[0] == 0] == [None] * 3


def test_add_routes_to_existing_lists(spark, idx):
    corpus = _vectors(spark, 300).cache()
    idx.build(corpus, n_lists=8, seed=1)
    n0 = idx.postings.count_rows()
    # an identical twin of vector 5 added later MUST land in the same
    # list (nearest-centroid routing) and come back at rank 1
    twin = corpus.where(F.col("vec_id") == 5).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.0001)).alias("embedding"),
    )
    idx.add(twin)
    assert idx.postings.count_rows() == n0 + 1
    lists = {
        r["list_id"]
        for r in idx.postings.get_full_df()
        .where(F.col("vec_id").isin([5, 1005]))
        .select("list_id")
        .collect()
    }
    assert len(lists) == 1
    got = idx.query(corpus.where(F.col("vec_id") == 5), k=1, n_probe=2)
    row = got.collect()[0]
    assert row["neighbor_id"] == 1005 and row["cos"] > 0.999999


def test_delete_tombstones_through_query(spark, idx):
    corpus = _vectors(spark, 200).cache()
    idx.build(corpus, n_lists=8, seed=1)
    twin = corpus.where(F.col("vec_id") == 9).select(
        (F.col("vec_id") + 1000).alias("vec_id"), F.col("embedding")
    )
    idx.add(twin)
    q = corpus.where(F.col("vec_id") == 9)
    assert idx.query(q, k=1, n_probe=2).collect()[0]["neighbor_id"] == 1009
    idx.delete(spark.createDataFrame(pd.DataFrame({"vec_id": [1009]})))
    got = idx.query(q, k=1, n_probe=2).collect()[0]
    assert got["neighbor_id"] != 1009


def test_query_scan_is_partition_pruned(spark, idx):
    corpus = _vectors(spark, 300).cache()
    idx.build(corpus, n_lists=8, seed=1)
    q = corpus.where(F.col("vec_id") < 3)
    plan = idx.query(q, k=2, n_probe=2)._jdf.queryExecution().executedPlan().toString()
    # the postings scan must carry the probed list ids as partition
    # filters — the probe decides the dirs, not a full-corpus scan
    assert "PartitionFilters: [list_id" in plan or "list_id IN" in plan
    assert "CartesianProduct" not in plan


def test_maintain_compacts_fragmented_lists(spark, idx):
    corpus = _vectors(spark, 200).cache()
    idx.build(corpus, n_lists=4, seed=1)
    for i in range(10):
        idx.add(_vectors(spark, 5, seed=100 + i, id0=10_000 + 5 * i))
    before = idx.postings.n_files
    res = idx.maintain(max_files_per_partition=3)
    assert res["compacted"]  # fragmented lists existed
    assert idx.postings.n_files < before
    assert idx.postings.count_rows() == 250


def test_filtered_query_prefilters_and_escalates(spark, idx):
    corpus = _vectors(spark, 400).withColumn(
        "bucket", (F.col("vec_id") % 10).cast("int")
    ).cache()
    idx.build(corpus, n_lists=16, seed=1, attr_cols=["bucket"])
    q = corpus.where(F.col("vec_id") < 20)
    # start with a deliberately tiny probe so the 10%-selective filter
    # forces at least one escalation round
    got = idx.query(q, k=3, n_probe=1, where="bucket = 3").cache()
    # every returned neighbor satisfies the predicate
    bad = got.join(
        corpus.where(F.col("bucket") != 3).select(F.col("vec_id").alias("neighbor_id")),
        "neighbor_id",
        "left_semi",
    ).count()
    assert bad == 0
    # escalation must fill k for every query (40 matching rows exist)
    counts = {r.query_id: r["count"] for r in got.groupBy("query_id").count().collect()}
    assert set(counts) == set(range(20)) and all(c == 3 for c in counts.values())
    # queries satisfied at probe=1 stay approximate (that's the ANN
    # contract); escalated ones probed more lists — recall floor only
    exact = topk_cosine_bruteforce(q, corpus.where(F.col("bucket") == 3), k=3)
    hits = exact.join(got, ["query_id", "neighbor_id"], "left_semi").count()
    assert hits / exact.count() >= 0.4


def test_filtered_query_fewer_matches_than_k(spark, idx):
    corpus = _vectors(spark, 200).withColumn(
        "rare", (F.col("vec_id") < 2).cast("boolean")
    ).cache()
    idx.build(corpus, n_lists=8, seed=1, attr_cols=["rare"])
    q = corpus.where((F.col("vec_id") >= 50) & (F.col("vec_id") < 55))
    got = idx.query(q, k=5, n_probe=1, where="rare").cache()
    # only 2 matching rows exist in the whole corpus: escalation ends at
    # probe-everything and returns exactly those two per query
    counts = {r.query_id: r["count"] for r in got.groupBy("query_id").count().collect()}
    assert all(c == 2 for c in counts.values()) and len(counts) == 5
    assert {r.neighbor_id for r in got.collect()} == {0, 1}


def test_add_carries_attrs_and_query_filters_them(spark, idx):
    corpus = _vectors(spark, 200).withColumn(
        "bucket", (F.col("vec_id") % 4).cast("int")
    ).cache()
    idx.build(corpus, n_lists=8, seed=1, attr_cols=["bucket"])
    twin = corpus.where(F.col("vec_id") == 7).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.0001)).alias("embedding"),
        F.lit(2).cast("int").alias("bucket"),
    )
    idx.add(twin)
    q = corpus.where(F.col("vec_id") == 7)
    top = idx.query(q, k=1, n_probe=8, where="bucket = 2").collect()
    assert top and top[0].neighbor_id == 1007 and top[0].cos > 0.999999


def test_lifecycle_soak_under_retention(spark, idx, tmp_root):
    """Verdict r5 #9 — the production retrieval loop: interleave
    add / delete / maintain / vacuum on BOTH index repos while a reader
    keeps querying, asserting recall (vs brute force over the LIVE
    corpus) and tombstone correctness after every phase. vacuum with
    keep_versions=1 + age 0 is the harshest retention setting: only the
    current snapshot's files survive, so any read path that still leaned
    on a pre-compaction or pre-delete version would break here."""
    corpus = _vectors(spark, 300).cache()
    idx.build(corpus, n_lists=12, seed=1)
    live = corpus

    def recall_floor(note, floor=0.55):
        q = live.limit(20).cache()
        got = idx.query(q, k=3, n_probe=6).cache()
        exact = topk_cosine_bruteforce(q, live, k=3).cache()
        total = exact.count()
        hits = exact.join(got, ["query_id", "neighbor_id"], "left_semi").count()
        assert total > 0 and hits / total >= floor, (
            f"{note}: recall {hits}/{total} below floor {floor}"
        )
        return got

    recall_floor("after build")

    # three add/delete rounds with maintenance + aggressive vacuum between
    for rnd in range(3):
        batch = _vectors(spark, 60, seed=100 + rnd, id0=1000 + rnd * 1000)
        idx.add(batch)
        live = live.unionByName(batch)
        dead = live.select("vec_id").orderBy("vec_id").limit(15).withColumn(
            "vec_id", F.col("vec_id")
        )
        dead_ids = {r.vec_id for r in dead.collect()}
        idx.delete(dead)
        live = live.where(~F.col("vec_id").isin(list(dead_ids))).cache()

        got = recall_floor(f"round {rnd} after add+delete")
        assert not ({r.neighbor_id for r in got.collect()} & dead_ids), (
            f"round {rnd}: tombstoned ids served"
        )

        if rnd % 2 == 0:
            idx.maintain(max_files_per_partition=2)
        # harshest retention on both repos, mid-loop
        idx.postings.vacuum(max_age_seconds=0, keep_versions=1)
        idx.centroids.vacuum(max_age_seconds=0, keep_versions=1)
        got = recall_floor(f"round {rnd} after maintain+vacuum")
        assert not ({r.neighbor_id for r in got.collect()} & dead_ids)

    # the repos really were tightened: a single retained version each
    assert len(idx.postings.versions()) == 1
    assert len(idx.centroids.versions()) == 1
    # and a fresh handle (new process shape) serves identically
    from parquetranger_spark.operators.ann_index import AnnIndex

    idx2 = AnnIndex(idx.root, spark=spark)
    q = live.limit(5)
    a = {(r.query_id, r.neighbor_id) for r in idx.query(q, k=3, n_probe=6).collect()}
    b = {(r.query_id, r.neighbor_id) for r in idx2.query(q, k=3, n_probe=6).collect()}
    assert a == b


def test_pq_composed_index_lifecycle(spark, sf_dir, tmp_path):
    """IVF-PQ composition (round-7 verdict #6): build(pq_m=) persists
    codebooks and m-byte codes; add() encodes against the FROZEN books;
    query_pq ADC-scans codes only (plan-asserted) and re-ranks exactly;
    deletes hold through the PQ path."""
    import re

    from parquetranger_spark.operators.ann_index import AnnIndex

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = e.where(F.col("vec_id") % 5 != 0)
    incr = e.where(F.col("vec_id") % 5 == 0)
    idx = AnnIndex(str(tmp_path) + "/idx", spark=spark)
    n_lists = idx.build(base, seed=42, pq_m=4, pq_codes=64)
    idx.add(incr)  # must encode with the stored books
    assert idx.postings.get_full_df().where(F.col("pq").isNull()).count() == 0
    assert idx.postings.get_full_df().where(F.size("pq") != 4).count() == 0
    dead = e.where(F.col("vec_id") % 50 == 0).select("vec_id")
    idx.delete(dead)

    q = e.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 120))
    got = idx.query_pq(q, k=3, n_probe=max(4, n_lists // 2), rerank=30).cache()
    # plan: the candidate scan reads codes WITHOUT raw vectors
    plan = got._jdf.queryExecution().executedPlan().toString()
    schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    assert any("pq:" in s for s in schemas)
    assert not any("pq:" in s and "cv:" in s for s in schemas)
    # k rows per query, exact-cosine ordering, no deleted ids
    per_q = {r["query_id"]: r["count"] for r in got.groupBy("query_id").count().collect()}
    assert set(per_q.values()) == {3}
    assert got.join(dead, got["neighbor_id"] == dead["vec_id"], "left_semi").count() == 0
    # recall vs the uncompressed serving path over the same probes
    ref = idx.query(q, k=3, n_probe=max(4, n_lists // 2)).cache()
    hits = ref.join(got, ["query_id", "neighbor_id"], "left_semi").count()
    assert hits >= 0.7 * ref.count()
    # built-without-PQ indexes refuse query_pq loudly
    bare = AnnIndex(str(tmp_path) + "/bare", spark=spark)
    bare.build(base.limit(200), seed=1)
    with pytest.raises(ValueError, match="without pq_m"):
        bare.query_pq(q, k=3)


def test_rebuild_without_pq_retires_codebooks(spark, sf_dir, tmp_path):
    """Self-review regression: a rebuild WITHOUT pq_m must purge stale
    codebooks — query_pq refuses loudly instead of serving null-coded
    garbage, and add() stops encoding."""
    from parquetranger_spark.operators.ann_index import AnnIndex

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).limit(400)
    idx = AnnIndex(str(tmp_path) + "/idx", spark=spark)
    idx.build(e, seed=42, pq_m=4, pq_codes=32)
    assert idx._load_books() is not None
    idx.build(e, seed=42)  # rebuild, no PQ
    assert idx._load_books() is None
    q = e.limit(5)
    with pytest.raises(ValueError, match="without pq_m"):
        idx.query_pq(q, k=2)
    idx.add(e.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding").limit(10))
    assert "pq" not in idx.postings.get_full_df().columns or (
        idx.postings.get_full_df().where(F.col("pq").isNotNull()).count() == 0
    )


def _skewed(spark, n, target, dim=8, seed=11, id0=50_000, spread=0.05):
    """Vectors tightly clustered around ``target`` — every one routes to
    the same nearest centroid (the drift workload)."""
    rng = np.random.default_rng(seed)
    v = np.asarray(target)[None, :] + spread * rng.normal(size=(n, dim))
    pdf = pd.DataFrame(
        {"vec_id": np.arange(id0, id0 + n), "embedding": [list(map(float, r)) for r in v]}
    )
    return spark.createDataFrame(pdf)


def test_maintain_splits_skewed_list(spark, idx):
    """Round-8 drift repair: skewed appends concentrate into one posting
    list; maintain() 2-means-splits it — conservation, routing-table
    update, and both tables moving atomically."""
    corpus = _vectors(spark, 320).cache()
    idx.build(corpus, n_lists=8, seed=1)
    # 10 skewed batches aimed at one region of the space
    target = [3.0] * 8
    for i in range(10):
        idx.add(_skewed(spark, 40, target, seed=100 + i, id0=50_000 + 40 * i))
    n_total = idx.postings.count_rows()
    sizes = {
        r["list_id"]: r["n_rows"] for r in idx.postings.stats().collect()
    }
    fat = max(sizes, key=sizes.get)
    assert sizes[fat] >= 400  # the skew landed in one list
    cents_before = idx.centroids.count_rows()
    # merge=False: this test pins the SPLIT pass's conservation/routing
    # contract with exact raw counts; the merge pass (delete-heavy repair,
    # covered by test_maintain_merges_underfull_lists) moves rows via
    # dv-upsert, which legitimately inflates raw counts and retires
    # routing entries whenever the quantizer happens to leave an
    # underfull list — layout noise this test must not depend on
    res = idx.maintain(split_factor=2.0, min_split_rows=64, merge=False)
    assert fat in res["split"] and len(res["split"][fat]) >= 2
    # conservation: no row lost or duplicated
    assert idx.postings.count_rows() == n_total
    assert (
        idx.postings.get_full_df().select("vec_id").distinct().count() == n_total
    )
    # routing table grew by the extra children
    extra = sum(len(v) - 1 for v in res["split"].values())
    assert idx.centroids.count_rows() == cents_before + extra
    # the fat list actually shrank
    sizes2 = {
        r["list_id"]: r["n_rows"] for r in idx.postings.stats().collect()
    }
    assert sizes2[fat] < sizes[fat]
    # every posting's list still matches a live centroid (no orphans)
    live = {r["list_id"] for r in idx.centroids.get_full_df().collect()}
    posted = {
        r["list_id"]
        for r in idx.postings.get_full_df().select("list_id").distinct().collect()
    }
    assert posted <= live
    # serving still exact for a twin probe (drift region included)
    probe = _skewed(spark, 1, target, seed=999, id0=90_000)
    got = idx.query(probe, k=3, n_probe=2, exclude_self=False)
    assert got.count() == 3 and got.collect()[0]["cos"] > 0.9
    # convergence: repeated sweeps reach a balanced fixed point (a tight
    # cluster splits near-randomly, so children can stay imbalanced for
    # a sweep or two — the nightly-job shape), with conservation at
    # every step and no oscillation
    for _ in range(4):
        if idx.maintain(split_factor=2.0, min_split_rows=64)["split"] == {}:
            break
        assert idx.postings.count_rows() == n_total
    else:
        raise AssertionError("split sweeps did not converge in 4 rounds")
    assert idx.maintain(split_factor=2.0, min_split_rows=64)["split"] == {}
    assert idx.postings.count_rows() == n_total


def test_maintain_retrains_pq_on_drift(spark, idx):
    """PQ codebooks retrain only past the drift threshold, and the
    re-encoded codes serve better than the stale ones."""
    corpus = _vectors(spark, 256, seed=3).cache()
    idx.build(corpus, n_lists=4, seed=1, pq_m=4, pq_codes=16)
    meta0 = idx._load_pq_meta()
    assert meta0["train_mse"] is not None and meta0["train_mse"] >= 0
    # undrifted: no retrain
    assert idx.maintain(split_factor=None, pq_drift=0.25)["pq_retrained"] is False
    # flood with a sharply different distribution: axis-aligned one-hot
    # directions quantize badly under gaussian-trained codebooks (a
    # concentrated single-direction drift would actually quantize
    # BETTER — the metric is quantization error, not novelty)
    rng = np.random.default_rng(5)
    hot = np.eye(8)[rng.integers(0, 8, 4096)] * 3.0 + 0.05 * rng.normal(
        size=(4096, 8)
    )
    idx.add(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": np.arange(50_000, 54_096),
                    "embedding": [list(map(float, r)) for r in hot],
                }
            )
        )
    )
    old_books = meta0["books"]
    res = idx.maintain(split_factor=None, pq_drift=0.25)
    assert res["pq_retrained"] is True
    meta1 = idx._load_pq_meta()
    assert meta1["books"] != old_books
    # the refreshed books quantize the CURRENT corpus better
    assert idx._pq_sample_mse(meta1["books"]) <= idx._pq_sample_mse(old_books)
    # codes were re-encoded in the same atomic commit: none null
    assert idx.postings.get_full_df().where(F.col("pq").isNull()).count() == 0
    got = idx.query_pq(
        corpus.where(F.col("vec_id") < 5), k=3, n_probe=4, rerank=30
    )
    assert got.groupBy("query_id").count().where("count <> 3").count() == 0


def test_maintain_merges_underfull_lists(spark, idx):
    """Delete-heavy drift: lists thinned far below the mean merge into
    the nearest surviving centroid — conservation, routing shrink, and
    recall intact."""
    corpus = _vectors(spark, 480).cache()
    idx.build(corpus, n_lists=12, seed=1)
    sizes = {r["list_id"]: r["n_rows"] for r in idx.postings.stats().collect()}
    # gut two lists: delete all but 2 vectors from each
    victims = sorted(sizes)[:2]
    doomed = (
        idx.postings.get_full_df()
        .where(F.col("list_id").isin([int(v) for v in victims]))
        .select("vec_id", "list_id")
        .collect()
    )
    keep_per_list = {v: [r.vec_id for r in doomed if r.list_id == v][:2] for v in victims}
    kill = [
        r.vec_id
        for r in doomed
        if r.vec_id not in keep_per_list[r.list_id]
    ]
    idx.delete(spark.createDataFrame([(int(k),) for k in kill], "vec_id long"))
    n_live = idx.postings.get_full_df().count()
    res = idx.maintain(split_factor=2.0)
    assert set(res["merged"]) == set(victims)
    # routing table shrank by exactly the retired lists
    live = {r["list_id"] for r in idx.centroids.get_full_df().collect()}
    assert live.isdisjoint(victims) and len(live) == 12 - len(victims)
    # conservation: every live row still present exactly once
    assert idx.postings.get_full_df().count() == n_live
    posted = {
        r["list_id"]
        for r in idx.postings.get_full_df().select("list_id").distinct().collect()
    }
    assert posted <= live  # no orphaned postings
    # the moved survivors are still retrievable at rank 1 by their twin
    probe_id = keep_per_list[victims[0]][0]
    q = corpus.where(F.col("vec_id") == int(probe_id))
    got = idx.query(q, k=1, n_probe=4, exclude_self=False).collect()
    assert got and got[0]["neighbor_id"] == probe_id and got[0]["cos"] > 0.999999
    # idempotent: a second sweep merges nothing
    assert idx.maintain(split_factor=2.0)["merged"] == {}
