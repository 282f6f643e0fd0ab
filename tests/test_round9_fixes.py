"""Round-9 verdict/advice fixes.

- PQ drift sampling is hash-uniform and deterministic (not partition-
  order biased): drift pinned to the HIGHEST list id triggers retrain
  at the same threshold as lowest-id drift (verdict #2 / advice #1).
- Split pass hands the old list_id to the child that actually wins
  corpus rows; every published child is non-empty (advice #2).
- PQ retrain re-encodes in bounded per-partition-batch commits with
  epoch stamps; serving is correct mid-re-encode and a crashed retrain
  resumes (verdict #6).
- maintain() grows n_lists toward √n as the corpus grows (verdict #8).
- query_pq caps the candidate-id In-literal pushdown (advice #4).
- stream hold names are validated like register_retention_hold's
  (advice #3).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from parquetranger_spark.functions.vectors import to_double
from parquetranger_spark.operators.ann_index import AnnIndex


def _vectors(spark, n, dim=8, seed=7, id0=0):
    rng = np.random.default_rng(seed)
    v = rng.normal(size=(n, dim))
    pdf = pd.DataFrame(
        {"vec_id": np.arange(id0, id0 + n), "embedding": [list(map(float, r)) for r in v]}
    )
    return spark.createDataFrame(pdf)


def _hot(n, dim=8, seed=5):
    """Axis-aligned one-hot spikes: quantize badly under gaussian-trained
    codebooks (same device as test_maintain_retrains_pq_on_drift)."""
    rng = np.random.default_rng(seed)
    return np.eye(dim)[rng.integers(0, dim, n)] * 3.0 + 0.05 * rng.normal(
        size=(n, dim)
    )


def _pin_drift(idx, spark, lid, n=2000, seed=5, id0=70_000):
    """Append drifted vectors pinned to EXACTLY list ``lid`` — bypasses
    add()'s routing so the test controls which partition dir drifts."""
    meta = idx._load_pq_meta()
    hot = _hot(n, seed=seed)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(id0, id0 + n),
                "embedding": [list(map(float, r)) for r in hot],
            }
        )
    )
    b = (
        df.select("vec_id", to_double(F.col("embedding")).alias("cv"))
        .withColumn("list_id", F.lit(int(lid)))
        .withColumn("pq", AnnIndex._encode_udf(meta["books"])(F.col("cv")))
        .withColumn("pq_epoch", F.lit(int(meta["epoch"])))
    )
    idx.postings.extend(b)


@pytest.fixture()
def idx(spark, tmp_root):
    return AnnIndex(tmp_root + "/idx", spark=spark)


def test_drift_sample_is_deterministic_and_spans_lists(spark, idx):
    corpus = _vectors(spark, 600).cache()
    idx.build(corpus, n_lists=12, seed=1, pq_m=4, pq_codes=16)
    books = idx._load_pq_meta()["books"]
    # deterministic for a given seed (the old bare limit() depended on
    # partition scan order)
    assert idx._pq_sample_mse(books, seed=7) == idx._pq_sample_mse(books, seed=7)
    # the sampler's top-64-by-hash ids span most lists — a bare limit
    # would have read one or two partition dirs
    post = idx.postings.get_full_df()
    ids = [
        r["vec_id"]
        for r in post.select(
            "vec_id",
            F.xxhash64(F.col("vec_id").cast("string"), F.lit(42)).alias("h"),
        )
        .orderBy("h")
        .limit(64)
        .select("vec_id")
        .collect()
    ]
    spanned = (
        post.where(F.col("vec_id").isin(ids)).select("list_id").distinct().count()
    )
    assert spanned >= 8


@pytest.mark.parametrize("which", ["highest", "lowest"])
def test_drift_detected_in_any_list(spark, tmp_root, which):
    """Verdict #2 done-criterion: drift injected into the HIGHEST list id
    triggers retrain at the same threshold as lowest-id drift."""
    idx = AnnIndex(f"{tmp_root}/idx_{which}", spark=spark)
    corpus = _vectors(spark, 256, seed=3).cache()
    idx.build(corpus, n_lists=4, seed=1, pq_m=4, pq_codes=16)
    lists = sorted(
        r["list_id"] for r in idx.centroids.get_full_df().select("list_id").collect()
    )
    lid = lists[-1] if which == "highest" else lists[0]
    _pin_drift(idx, spark, lid)
    res = idx.maintain(split_factor=None, pq_drift=0.25)
    assert res["pq_retrained"] is True


def test_split_children_all_nonempty_and_old_id_wins_rows(spark, idx):
    """Advice #2: the old list_id goes to the child that wins the most
    full-corpus rows, so its partition is always overwritten (no silent
    duplicates), and no published child is row-less."""
    corpus = _vectors(spark, 320).cache()
    idx.build(corpus, n_lists=8, seed=1)
    rng = np.random.default_rng(11)
    tgt = [3.0] * 8
    for i in range(10):
        hot = np.asarray(tgt) + 0.2 * rng.normal(size=(40, 8))
        idx.add(
            spark.createDataFrame(
                pd.DataFrame(
                    {
                        "vec_id": np.arange(50_000 + 40 * i, 50_040 + 40 * i),
                        "embedding": [list(map(float, r)) for r in hot],
                    }
                )
            )
        )
    n_total = idx.postings.count_rows()
    res = idx.maintain(split_factor=2.0, min_split_rows=64, merge=False)
    assert res["split"]
    live_counts = {
        r["list_id"]: r["n"]
        for r in idx.postings.get_full_df()
        .groupBy("list_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for old, children in res["split"].items():
        assert old in children  # the old id was granted to a real winner
        for ch in children:
            assert live_counts.get(ch, 0) >= 1  # no row-less child
    # no duplicates: conservation on ids
    assert idx.postings.get_full_df().select("vec_id").distinct().count() == n_total
    assert idx.postings.count_rows() == n_total


def test_pq_reencode_is_batched_and_epoch_stamped(spark, idx):
    """Verdict #6: a retrain must not be one O(table) commit — posting
    partitions re-encode in bounded batches, each its own commit."""
    corpus = _vectors(spark, 400, seed=3).cache()
    idx.build(corpus, n_lists=8, seed=1, pq_m=4, pq_codes=16)
    lists = sorted(
        r["list_id"] for r in idx.centroids.get_full_df().select("list_id").collect()
    )
    _pin_drift(idx, spark, lists[-1])
    v0 = len(idx.postings.versions())
    res = idx.maintain(
        split_factor=None, pq_drift=0.25, reencode_batch_lists=2
    )
    assert res["pq_retrained"] is True
    # ≥ ceil(n_lists/2) partition-overwrite commits, not one replace_all
    assert len(idx.postings.versions()) - v0 >= 4
    # every row stamped with the new epoch; old epoch retired
    metas = idx._load_pq_metas()
    assert list(metas) == [1]
    assert (
        idx.postings.get_full_df()
        .where(F.coalesce(F.col("pq_epoch"), F.lit(-1)) != 1)
        .count()
        == 0
    )
    assert idx.postings.get_full_df().where(F.col("pq").isNull()).count() == 0


def test_pq_serving_correct_mid_reencode_and_resume(spark, idx):
    """Mid-retrain (two codebook epochs live, some partitions still on
    the old codes) query_pq scores every candidate against its OWN
    epoch's books; a later maintain() resumes and finishes the
    re-encode."""
    from parquetranger_spark.operators.similarity import train_pq_codebooks
    from parquetranger_spark.operators.ann_index import _PQ_META_SCHEMA

    corpus = _vectors(spark, 400, seed=3).cache()
    idx.build(corpus, n_lists=8, seed=1, pq_m=4, pq_codes=16)
    meta0 = idx._load_pq_meta()
    # simulate the first half of a retrain that crashed: publish epoch-1
    # books, re-encode ONE list, leave the rest on epoch 0
    books1 = train_pq_codebooks(
        idx.postings.get_full_df(), vec_col="cv", m=4, n_codes=16, seed=99
    )
    idx._pq_repo().extend(
        spark.createDataFrame(
            [(1, 4, 16, books1, float(meta0["train_mse"]))], _PQ_META_SCHEMA
        )
    )
    first = sorted(
        r["list_id"] for r in idx.centroids.get_full_df().select("list_id").collect()
    )[0]
    part = idx.postings.get_full_df().where(F.col("list_id") == int(first))
    idx.postings.replace_groups(
        part.withColumn("pq", AnnIndex._encode_udf(books1)(F.col("cv"))).withColumn(
            "pq_epoch", F.lit(1)
        )
    )
    assert (
        idx.postings.get_full_df().select("pq_epoch").distinct().count() == 2
    )  # genuinely mixed
    # serving mid-re-encode: a corpus vector finds ITSELF at rank 1
    # through the ADC shortlist + exact rerank, codes matched per-epoch
    q = corpus.where(F.col("vec_id") < 10)
    got = idx.query_pq(q, k=3, n_probe=8, rerank=30, exclude_self=False).cache()
    assert got.groupBy("query_id").count().where("count <> 3").count() == 0
    top = {r["query_id"]: r["neighbor_id"] for r in got.where("rank = 1").collect()}
    assert all(qid == nid for qid, nid in top.items())
    # resume: maintain() finds two live epochs, finishes the re-encode,
    # retires epoch 0
    res = idx.maintain(split_factor=None, pq_drift=0.25)
    assert res["pq_retrained"] is True
    assert list(idx._load_pq_metas()) == [1]
    assert (
        idx.postings.get_full_df().where(F.col("pq_epoch") != 1).count() == 0
    )


def test_maintain_grows_lists_toward_sqrt(spark, idx):
    """Verdict #8: splitting repairs skew but never raises the list
    count toward √n as the corpus grows — maintain(grow_to_sqrt=True)
    must, or serving drifts toward n/n_lists linear scans."""
    small = _vectors(spark, 200, seed=2).cache()
    idx.build(small, n_lists=6, seed=1)
    idx.add(_vectors(spark, 1800, seed=9, id0=10_000))
    n_total = idx.postings.count_rows()
    target = int(np.sqrt(2000))  # ≈ 44
    res = idx.maintain(split_factor=4.0, min_split_rows=16, merge=False)
    assert res["split"]  # growth selected lists even without skew
    grown = idx.centroids.count_rows()
    assert grown >= target * 0.5
    assert idx.postings.count_rows() == n_total
    assert (
        idx.postings.get_full_df().select("vec_id").distinct().count() == n_total
    )
    # serving still exact for a twin probe after the growth sweep
    got = idx.query(
        small.where(F.col("vec_id") == 3), k=1, n_probe=4, exclude_self=False
    ).collect()
    assert got and got[0]["neighbor_id"] == 3 and got[0]["cos"] > 0.999999
    # growth is not churn: a second sweep on an unchanged corpus is a
    # far smaller repair (fixed point, modulo straggler rebalancing)
    res2 = idx.maintain(split_factor=4.0, min_split_rows=16, merge=False)
    assert len(res2["split"]) <= max(2, len(res["split"]) // 2)


def test_query_pq_caps_id_pushdown(spark, idx):
    """Advice #4: rerank×|queries| past the cap must take the join path
    (no 400k-literal In expression) and still serve correct results."""
    corpus = _vectors(spark, 300, seed=3).cache()
    idx.build(corpus, n_lists=4, seed=1, pq_m=4, pq_codes=16)
    q = corpus.where(F.col("vec_id") < 3)
    # 3 queries × rerank 20000 > 16384 → join path
    got = idx.query_pq(q, k=3, n_probe=4, rerank=20_000, exclude_self=False).cache()
    assert got.groupBy("query_id").count().where("count <> 3").count() == 0
    top = {r["query_id"]: r["neighbor_id"] for r in got.where("rank = 1").collect()}
    assert all(qid == nid for qid, nid in top.items())
    # the plan carries no giant In-literal for the refine scan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("vec_id#") > 0  # sanity: plan rendered
    # the isin fast path still works under the cap
    got2 = idx.query_pq(q, k=3, n_probe=4, rerank=30, exclude_self=False)
    assert got2.where("rank = 1").count() == 3


def test_stream_hold_name_validated(spark, tmp_root):
    """Advice #3: a hold name with '/' or a leading '.' would write its
    marker OUTSIDE the holds dir — rejected eagerly at the API and again
    at reader construction."""
    from parquetranger_spark.sources.table_repo import TableRepo

    t = TableRepo(tmp_root + "/t", commit_mode="manifest", spark=spark)
    t.extend(spark.createDataFrame([(1, "a")], "id int, v string"))
    with pytest.raises(ValueError, match="bad hold name"):
        t.stream_manifest(hold="evil/../../x")
    with pytest.raises(ValueError, match="bad hold name"):
        t.stream_manifest(hold=".hidden")
    with pytest.raises(ValueError, match="bad hold name"):
        t.stream_changes(hold="a/b")
