"""Physical-plan quality gates (the 100 TB story, SURVEY §4).

Correctness tests prove the operators compute the right rows; these prove
they compute them the way a 1000-executor cluster needs: partition-pruned
scans, pushed-down predicates, pruned read schemas, broadcast joins for
small sides, map-side partial aggregation, and no accidental cartesian
products in the LSH candidate joins."""

import pyspark.sql.functions as F
import pytest

from parquetranger_spark import TableRepo
from parquetranger_spark.operators.dedup import candidate_pairs_minhash
from parquetranger_spark.queries.common import load


def plan(df, mode: str = "formatted") -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


@pytest.fixture(scope="module")
def repo(spark, tmp_path_factory, sf_dir):
    t = TableRepo(
        str(tmp_path_factory.mktemp("plans")) + "/li",
        group_cols="l_returnflag",
        spark=spark,
    )
    t.extend(load(spark, sf_dir, "lineitem"))
    return t


def test_partition_pruned_scan(spark, repo):
    p = plan(repo.get_partition_df("A"))
    # Catalyst prunes to the one matching directory — the partition filter
    # must live in PartitionFilters, not in a post-scan Filter
    assert "PartitionFilters" in p
    assert "l_returnflag" in p.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_predicate_pushdown_to_parquet(spark, repo):
    df = repo.get_full_df().where(F.col("l_quantity") > 30).select("l_quantity")
    p = plan(df)
    pushed = p.split("PushedFilters", 1)[1].split("]", 1)[0]
    assert "l_quantity" in pushed and "GreaterThan" in pushed


def test_column_pruned_read_schema(spark, repo):
    df = repo.get_full_df().groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    p = plan(df)
    schema = p.split("ReadSchema", 1)[1].splitlines()[0]
    # a 2-column aggregate must not scan the other 14 lineitem columns
    assert "l_quantity" in schema and "l_extendedprice" not in schema


def test_small_dim_join_broadcasts(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    nat = load(spark, sf_dir, "supplier").join(
        F.broadcast(load(spark, sf_dir, "nation")), on=F.expr("s_nationkey = n_nationkey")
    )
    df = li.join(F.broadcast(nat), on=F.expr("l_suppkey = s_suppkey"))
    assert "BroadcastHashJoin" in plan(df)
    assert "SortMergeJoin" not in plan(df)


def test_groupby_has_partial_aggregation(spark, repo):
    df = repo.get_full_df().groupBy("l_returnflag").agg(F.avg("l_quantity").alias("a"))
    p = plan(df, "simple")
    # map-side combine: a partial HashAggregate below the exchange
    assert "partial_avg" in p
    assert "WholeStageCodegen" in plan(df, "codegen") or "HashAggregate" in p


def test_minhash_candidates_no_cartesian(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    p = plan(candidate_pairs_minhash(docs))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_ngram_jaccard_pairs_no_cartesian(spark, sf_dir):
    # the exact any-overlap pair query must build candidates from the
    # inverted shingle index (equi-join), never an O(n²) cross join of
    # the blocked subset — the full-query plan is gated, not just the
    # operator, so a regression in the query wiring is caught too
    from parquetranger_spark.queries.pipeline import ngram_jaccard_pairs

    p = plan(ngram_jaccard_pairs(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_upsert_by_groups_reads_partition_pruned(spark, sf_dir, tmp_path, monkeypatch):
    # by_groups=True: touched groups = incoming group values, so the
    # read-back scan must carry literal PartitionFilters (O(touched
    # partitions) on read, not a full-table scan feeding the semi-join)
    t = TableRepo(
        str(tmp_path) + "/li",
        group_cols="l_returnflag",
        index_cols=["l_orderkey", "l_linenumber"],
        spark=spark,
    )
    li = load(spark, sf_dir, "lineitem")
    t.extend(li)

    cls = type(li)  # the concrete (classic) DataFrame class in Spark 4
    captured = []
    orig = cls.localCheckpoint

    def spy(self, eager=True):
        captured.append(plan(self))
        return orig(self, eager)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    upd = li.where("l_returnflag = 'A'").limit(10).withColumn("l_quantity", F.lit(77.0))
    before = {p for p in t.paths if "l_returnflag=N" in p}
    t.replace_records(upd, by_groups=True)
    assert {p for p in t.paths if "l_returnflag=N" in p} == before
    assert captured, "upsert did not checkpoint its rewrite frame"
    segs = [s.split("]", 1)[0] for s in captured[0].split("PartitionFilters")[1:]]
    assert any("l_returnflag" in s and "A" in s for s in segs), segs


def test_upsert_no_full_table_child_rewrite(spark, repo, sf_dir, tmp_path):
    # replace_records on a grouped repo must read back only touched
    # partitions: the scan filter is a partition-key semi-join, visible as
    # a broadcast join over the partition column — never a full-table scan
    # feeding the rewrite for a single-partition update.
    t = TableRepo(
        str(tmp_path) + "/li",
        group_cols="l_returnflag",
        index_cols=["l_orderkey", "l_linenumber"],
        spark=spark,
    )
    li = load(spark, sf_dir, "lineitem")
    t.extend(li)
    upd = li.where("l_returnflag = 'A'").limit(10).withColumn("l_quantity", F.lit(99.0))
    before = {p for p in t.paths if "l_returnflag=N" in p}
    t.replace_records(upd)
    after = {p for p in t.paths if "l_returnflag=N" in p}
    assert before == after  # untouched partition's files not rewritten
    got = t.get_full_df().where("l_quantity = 99.0").count()
    assert got == 10


def test_salted_agg_two_stage_shape(spark, sf_dir):
    """The salted plan must show THREE hash-aggregate levels — partial +
    final over (key, salt), then partial + final over (key) — so a hot
    key's rows fan over n_salts reducers instead of one."""
    from parquetranger_spark.functions.skew import salted_agg

    ev = load(spark, sf_dir, "events").select("event_type", "event_id")
    out = salted_agg(ev, ["event_type"], {"n": ("count", "*")}, n_salts=16)
    p = plan(out)
    assert "__pqr_salt" in p  # salt key present in the first-stage agg
    # two distinct grouping key sets: (event_type, salt) then (event_type)
    assert p.count("HashAggregate") >= 4
    # the merge stage groups on the bare key
    assert "Keys [1]: [event_type" in p or "Keys: [event_type" in p


def test_q18_agg_reuses_join_partitioning(spark, sf_dir):
    """Grouping keys ⊇ join key: the aggregate must reuse the join's hash
    partitioning — exactly one exchange per join side, none for the agg
    (the property that matters when both sides are too big to broadcast)."""
    from parquetranger_spark.queries.compute import sql_q18_big_orders

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        p = plan(sql_q18_big_orders(spark, sf_dir), "simple")
    finally:
        # unset when it was unset — leaving -1 behind disables broadcasts
        # for every later test in the session
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert p.count("Exchange") == 2, p


def test_q3_top_orders_broadcasts_dim_and_takes_ordered(spark, sf_dir):
    from parquetranger_spark.queries.compute import sql_q3_top_orders

    p = plan(sql_q3_top_orders(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p  # per-partition top-10, no global sort


def test_q5_single_fact_exchange(spark, sf_dir):
    """Six-table Q5 plan: every dim side broadcasts — exactly one
    shuffle-exchange pair (orders ⋈ lineitem), regardless of how many
    dimensions hang off the tree."""
    from parquetranger_spark.queries.compute import sql_q5_local_supplier

    p = plan(sql_q5_local_supplier(spark, sf_dir), "simple")
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 3


def test_topk_per_group_plans_window_group_limit(spark, sf_dir):
    """rank-filter top-k must plan as WindowGroupLimit (map-side top-k
    below the exchange) — the property that keeps per-group top-n from
    shuffling whole groups at scale."""
    from parquetranger_spark.queries.compute import topk_per_group

    assert "WindowGroupLimit" in plan(topk_per_group(spark, sf_dir))


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The hint-free complement to functions/skew.py: with AQE skew-join
    enabled, a hot-key join partition is split at runtime — the final
    adaptive plan carries the skew=true marker — without salting, hints,
    or any query rewrite. (Thresholds are lowered so local-scale shuffle
    sizes register as skewed.)"""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200000).select(
            F.when(F.col("id") % 20 == 0, F.col("id") % 7).otherwise(0).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(7).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = left.join(right, "k")
        assert len(j.collect()) == 200000
        p = plan(j, "simple")
        assert "skew=true" in p and "isFinalPlan=true" in p, p
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q4_exists_plans_left_semi(spark, sf_dir):
    """The correlated EXISTS must plan as ONE left semi hash join with the
    non-equi ship-after-order predicate as the join residual — no distinct
    pass over lineitem, no inner-join-then-dedup."""
    from parquetranger_spark.queries.tpch import sql_q4_priority_check

    p = plan(sql_q4_priority_check(spark, sf_dir))
    assert "LeftSemi" in p
    assert "Distinct" not in p and "Dedup" not in p


def test_q16_and_q22_not_exists_plan_anti_joins(spark, sf_dir):
    """NOT EXISTS subqueries must decorrelate to LEFT ANTI hash joins; the
    Q16 exclusion list (filtered supplier dim) must broadcast."""
    from parquetranger_spark.queries.tpch import (
        sql_q16_supplier_parts,
        sql_q22_idle_customers,
    )

    p16 = plan(sql_q16_supplier_parts(spark, sf_dir))
    assert "LeftAnti" in p16 and "BroadcastHashJoin" in p16
    p22 = plan(sql_q22_idle_customers(spark, sf_dir))
    assert "LeftAnti" in p22


def test_q17_threshold_is_one_shuffle_no_join(spark, sf_dir):
    """The per-part average threshold runs as a window over the SAME hash
    partitioning the filter consumes: exactly one exchange, zero joins —
    the decorrelation Catalyst's agg+join rewrite would pay two shuffles
    for."""
    from parquetranger_spark.queries.tpch import sql_q17_small_qty_revenue

    p = plan(sql_q17_small_qty_revenue(spark, sf_dir), "simple")
    assert "Join" not in p
    # one exchange for the window partitioning + the final single-row agg's
    # SinglePartition exchange; nothing else
    assert p.count("Exchange") <= 2, p


def test_q19_disjunction_prunes_both_scan_sides(spark, sf_dir):
    """Catalyst must extract the common envelopes of the OR branches to
    both join inputs: the lineitem scan carries a pushed quantity filter
    and the part side filters before the broadcast."""
    from parquetranger_spark.queries.tpch import sql_q19_disjunctive_revenue

    p = plan(sql_q19_disjunctive_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    pushed = p.split("PushedFilters", 1)[1].split("]", 1)[0]
    assert "l_quantity" in pushed


def test_q8_q9_single_fact_exchange_all_dims_broadcast(spark, sf_dir):
    """Q8's 8-table tree and Q9's 5-table tree must broadcast every dim
    (part/supplier/nation/customer/region fold into BroadcastHashJoins)
    so the only shuffle joins are fact-fact (lineitem⋈orders) — at 100 TB
    a single sort-merge exchange instead of five."""
    from parquetranger_spark.queries.tpch import (
        sql_q8_market_share,
        sql_q9_product_profit,
    )

    for q in (sql_q8_market_share, sql_q9_product_profit):
        p = plan(q(spark, sf_dir), "simple")
        assert "BroadcastHashJoin" in p
        # the lone non-broadcast join is the lineitem⋈orders equi-join
        assert p.count("SortMergeJoin") + p.count("ShuffledHashJoin") <= 1, q.__name__


def test_q20_threshold_reuses_aggregate_partitioning(spark, sf_dir):
    """The per-part dominance threshold must run as a window over the
    (part, supplier) aggregate — no self-join of lineitem, and the window's
    part-key partitioning satisfied without a second fact-sized shuffle of
    raw rows (only the already-aggregated frame re-keys)."""
    from parquetranger_spark.queries.tpch import sql_q20_dominant_supplier

    p = plan(sql_q20_dominant_supplier(spark, sf_dir), "simple")
    # joins: part broadcast into the scan + supplier broadcast at the end;
    # nothing fact-fact
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert p.count("BroadcastHashJoin") == 2, p


def test_order_statistics_queries_never_global_sort(spark, sf_dir):
    """token_budget_sample's oracle is a GLOBAL ordered cumsum and
    length_trim_per_lang's is a per-language rank — but the engine must
    compute both without a corpus-wide sort: every window over the
    doc-sized frame is partitioned (by band / by tie group), and no
    physical Sort is global. The only single-partition work is over the
    tiny band/histogram aggregates."""
    import re

    from parquetranger_spark.queries.curation import (
        length_trim_per_lang,
        token_budget_sample,
    )

    for q in (token_budget_sample, length_trim_per_lang):
        p = plan(q(spark, sf_dir), "simple")
        # no global sort over the document ordering keys: physical Sort
        # prints "Sort [keys...], <global>, 0" — global must stay false
        assert not re.search(r"Sort \[[^\]]*n_chars[^\]]*\], true", p), q.__name__
    # the doc-sized running sum is partitioned by the coarse band
    pb = plan(token_budget_sample(spark, sf_dir), "simple")
    assert re.search(r"Window \[sum\(n_tok[^\n]*partitionBy.*__band|Window \[[^\n]*\], \[__band", pb), pb


def test_dynamic_partition_pruning_on_grouped_repo(spark, repo):
    """Joining a grouped TableRepo's fact on its partition column against
    a filtered dim must plan a dynamicpruningexpression in the scan's
    PartitionFilters — at 100 TB the fact side reads ONLY the partitions
    the dim's surviving keys name, decided at runtime (Catalyst DPP over
    the hive-layout directories the repo writes)."""
    dim = spark.createDataFrame(
        [("A", 1.0), ("N", 2.0)], "flag string, w double"
    ).where(F.col("w") > 1.5)
    j = (
        repo.get_full_df()
        .join(F.broadcast(dim), F.col("l_returnflag") == F.col("flag"))
        .agg(F.sum("l_quantity").alias("s"))
    )
    p = plan(j)
    seg = p.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "dynamicpruning" in seg.lower(), seg


def test_new_pair_generators_no_cartesian(spark, sf_dir):
    """Cluster-scoped (SemDeDup) and length-band (fuzzy) candidate
    generation must plan as equi-joins on the block keys — never a
    cartesian / nested-loop pair scan."""
    from parquetranger_spark.queries.curation import weighted_sample_poisson
    from parquetranger_spark.queries.pipeline import (
        fuzzy_title_pairs,
        semantic_dedup_kept,
    )

    for q in (semantic_dedup_kept, fuzzy_title_pairs):
        p = plan(q(spark, sf_dir), "simple")
        assert "CartesianProduct" not in p, q.__name__
        assert "BroadcastNestedLoopJoin" not in p, q.__name__
    # weighted sampling: one scan + a 1-row broadcast — no row shuffle at
    # all before the final selection (no Exchange over the doc frame other
    # than the scalar aggregate's)
    pw = plan(weighted_sample_poisson(spark, sf_dir), "simple")
    assert "SortMergeJoin" not in pw and pw.count("Exchange") <= 2, pw


def test_runtime_bloom_filter_prunes_fact_scan(spark, tmp_path):
    """Spark injects a runtime BLOOM FILTER on the fact side of a
    shuffle join when the dim side is selectively filtered: the fact
    scan's Filter gains might_contain(...) fed by a bloom_filter_agg
    subquery over the filtered dim keys — rows that cannot join are
    dropped at the scan, before the shuffle. Size thresholds
    (creationSideThreshold / applicationSideScanSizeThreshold, defaults
    10 MB / 10 GB) gate it to genuinely large scans, so at bench scale
    it must be demonstrated with thresholds lowered; at 100 TB the
    DEFAULTS fire on exactly the scans that matter. Conf is restored —
    the session is shared."""
    d = str(tmp_path)
    spark.range(200_000).select(
        F.col("id").alias("fk"), (F.col("id") % 1000).alias("v")
    ).write.parquet(d + "/fact")
    spark.range(20_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("seg")
    ).write.parquet(d + "/dim")
    keys = [
        ("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"),
        ("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"),
        ("spark.sql.autoBroadcastJoinThreshold", "-1"),
    ]
    saved = {k: spark.conf.get(k) for k, _ in keys}
    try:
        for k, v in keys:
            spark.conf.set(k, v)
        fact = spark.read.parquet(d + "/fact")
        dim = spark.read.parquet(d + "/dim").where(F.col("seg") == 3)
        j = fact.join(dim, fact.fk == dim.k).groupBy("seg").count()
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in p, "no runtime bloom filter on the fact scan"
        assert "bloom_filter_agg" in p
        # and it computes the right thing with the filter in place
        assert j.collect()[0]["count"] == 20_000 // 7 + (1 if 3 < 20_000 % 7 else 0)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_dv_read_broadcasts_tombstones(spark, tmp_path):
    """A deletion-vector read must be the base scan + ONE broadcast
    left-outer against the tiny tombstone frame — no shuffle join, no
    extra exchange on the data side."""
    import pandas as pd

    from parquetranger_spark import TableRepo

    t = TableRepo(
        str(tmp_path) + "/t", group_cols="C", index_cols="k",
        commit_mode="manifest", spark=spark,
    )
    t.extend(spark.createDataFrame(pd.DataFrame({
        "k": [f"k{i}" for i in range(1000)],
        "A": list(range(1000)),
        "C": [str(i % 3) for i in range(1000)],
    })))
    t.delete_records_dv(spark.createDataFrame(pd.DataFrame({"k": ["k1", "k2"]})))
    p = t.get_full_df()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p and "LeftOuter" in p
    assert "SortMergeJoin" not in p, "tombstone join fell back to a shuffle join"


def test_knn_density_ivf_no_cartesian(spark, sf_dir):
    """The outlier-density scale path must never be all-pairs: the IVF
    estimate stage is pure equi-join (no cartesian, no nested-loop), and
    the full operator's bounded exact rescan is the streamed top-k
    kernel, not a join."""
    from parquetranger_spark.operators.similarity import knn_density_ivf

    vecs = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # estimate-only plan: candidate generation is a list_id equi-join;
    # list assignment (nearest_centroid_col) and probe ranking
    # (_probe_order) are Arrow pandas_udfs over the shipped centroid
    # table — no join of any kind against the centroids
    p_est = plan(knn_density_ivf(vecs, k=5, rerank=None))
    assert "CartesianProduct" not in p_est
    assert p_est.count("BroadcastNestedLoopJoin") == 0
    # full operator: the estimate is checkpointed and the exact rescan
    # of the limit(rerank) candidates streams the corpus through the
    # mapInPandas top-k kernel — no nested-loop join, cartesian never
    p_full = plan(knn_density_ivf(vecs, k=5, rerank=50))
    assert "CartesianProduct" not in p_full
    assert p_full.count("BroadcastNestedLoopJoin") == 0
    # and the bounded side is visibly bounded: a limit feeds it
    assert "GlobalLimit" in p_full or "TakeOrderedAndProject" in p_full


def test_filtered_ann_pushes_attr_predicate_to_scan(spark, tmp_path_factory):
    """Filtered vector search must PRE-filter: the attribute predicate
    belongs in the postings scan's PushedFilters, not in a post-join
    Filter over an unfiltered candidate pool."""
    import numpy as np
    import pandas as pd

    from parquetranger_spark import AnnIndex

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "vec_id": range(300),
            "embedding": [list(map(float, r)) for r in rng.normal(size=(300, 8))],
            "bucket": [i % 5 for i in range(300)],
        }
    )
    idx = AnnIndex(str(tmp_path_factory.mktemp("annplan")) + "/idx", spark=spark)
    idx.build(spark.createDataFrame(pdf), n_lists=8, seed=1, attr_cols=["bucket"])
    q = spark.createDataFrame(pdf.head(5))
    # max_rounds=1 -> the plan under test is the single probe pass
    out = idx.query(q, k=3, n_probe=8, where="bucket = 2", max_rounds=1)
    p = plan(out)
    scan_filters = [
        seg.split("]", 1)[0]
        for seg in p.split("PushedFilters: [")[1:]
    ]
    assert any("bucket" in s for s in scan_filters), p


def test_governed_read_folds_into_scan_projection(spark, tmp_path_factory):
    """Masks + row filter must compile into the scan stage: one Project
    and one pushable Filter, no exchange, no second pass."""
    from pyspark.sql import Row

    t = TableRepo(
        str(tmp_path_factory.mktemp("govplan")) + "/t",
        commit_mode="manifest",
        single_writer=True,
        spark=spark,
    )
    t.extend(
        spark.createDataFrame(
            [Row(k=i, email=f"e{i}@x", seg="A" if i % 2 else "B") for i in range(10)]
        )
    )
    t.set_policy(row_filter="seg = 'A'", column_masks={"email": "'***'"})
    p = plan(t.get_full_df_governed())
    assert "Exchange" not in p, p
    # the constant mask even PRUNES the raw column from the read schema —
    # governance composed with column pruning, raw bytes never leave disk
    scan_schema = p.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "email" not in scan_schema, p
    # the (fail-closed, coalesce-wrapped) row filter runs inside the same
    # whole-stage-codegen span as the scan — one pass, no second job
    assert "coalesce((seg" in p, p


def test_epoch_mapped_read_adds_no_shuffle(spark, tmp_path_factory):
    """Schema-DDL mapping is a per-scan projection: a renamed table's
    read must stay a union of scans — zero exchanges introduced."""
    from pyspark.sql import Row

    t = TableRepo(
        str(tmp_path_factory.mktemp("ddlplan")) + "/t",
        commit_mode="manifest",
        single_writer=True,
        spark=spark,
    )
    t.extend(spark.createDataFrame([Row(k=1, v=1.0)]))
    t.rename_column("v", "value")
    t.add_column("w", "long", default=3)
    t.extend(spark.createDataFrame([Row(k=2, value=2.0, w=9)]))
    p = plan(t.get_full_df())
    assert "Exchange" not in p, p
    assert "Union" in p, p
