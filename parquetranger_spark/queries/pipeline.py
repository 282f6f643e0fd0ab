"""Declared queries for the LLM-data-pipeline tier (SURVEY §2.4 X1–X6).

The DuckDB oracle formulations are generated from the same constants
(stopword lists, moduli, thresholds) as the Spark expressions, and use the
same sequential-fold arithmetic shapes, so double results are bit-identical
(see queries/__init__ docstring for the exactness rules).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import FINGERPRINT_MOD, STOPWORDS, lang_id, quality_score, doc_fingerprint
from ..operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    near_dedup_embedding,
    near_dedup_minhash,
    near_dedup_simhash,
    overlap_candidate_pairs,
)
from ..operators.multimodal import extract_features, pack_binary
from ..operators.events import session_stats
from ..operators.similarity import topk_cosine_bruteforce, topk_cosine_lsh
from ..sources.table_repo import TableRepo
from . import query
from .common import dsum, dsum_sql, embedding_dim, load, record_build, scratch_dir

# ---------------------------------------------------------------- SQL helpers


def _sw_hits_sql(lang: str, text: str = "text") -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(string_split({text}, ' '), t -> list_contains([{words}], t)))"


def _fingerprint_sql(text: str = "text") -> str:
    return (
        f"CASE WHEN length({text}) = 0 THEN 0 ELSE "
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(generate_series(1, length({text})), "
        f"i -> CAST(ascii(substring({text}, i, 1)) AS BIGINT))), "
        f"(acc, x) -> (acc * 31 + x) % {FINGERPRINT_MOD}) END"
    )


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )


def _cosine_sql(a: str, b: str) -> str:
    return f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"


def _shingle_set_sql(text: str = "text") -> str:
    return (
        f"list_distinct(CASE WHEN len(string_split({text}, ' ')) < 3 "
        f"THEN [{text}] ELSE "
        f"list_transform(generate_series(1, len(string_split({text}, ' ')) - 2), "
        f"i -> concat(string_split({text}, ' ')[i], ' ', string_split({text}, ' ')[i+1], "
        f"' ', string_split({text}, ' ')[i+2])) END)"
    )


def _neardup_pairs_cte(threshold: float = 0.6) -> str:
    """CTE fragment defining ``sets`` and ``pairs`` (over a ``corpus``
    CTE already in scope): every doc pair with shingle-set Jaccard ≥
    ``threshold`` — EXACTLY, but via a prefix-filtered inverted-index
    equi-join instead of the quadratic self-join (round-8 verdict #4:
    the brute-force pair scan made these oracles 25+ min at sf0.1, so
    six queries were never value-checked above sf0.01).

    Prefix filtering (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07)
    is recall-COMPLETE — a theorem, not a tuning constant: J(A,B) ≥ t
    implies |A∩B| ≥ t·|A∪B| ≥ ceil(t·max(|A|,|B|)), and two sets sharing
    ≥ k elements must share one among the first |A|−k+1 (resp.
    |B|−k+1) elements under ANY global total order (here: md5 of the
    shingle — order-consistent across sets; a collision could only ADD
    a candidate, which the exact verify removes). The verified pair set
    is therefore IDENTICAL to the brute-force scan's, so every oracle
    built on ``pairs`` stays hash-exact at a fraction of the cost."""
    t = threshold
    return f"""
sets AS MATERIALIZED (
  SELECT doc_id, sh, list_sort(list_transform(sh, x -> md5(x))) AS hsh
  FROM (SELECT doc_id, {_shingle_set_sql()} AS sh FROM corpus)
),
pref AS MATERIALIZED (
  SELECT doc_id, unnest(list_slice(hsh, 1,
           CAST(len(hsh) - ceil({t} * len(hsh)) + 1 AS BIGINT))) AS tok
  FROM sets
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
),
pairs AS MATERIALIZED (
  SELECT id_a, id_b, jaccard FROM (
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
    FROM cand c
    JOIN sets a ON a.doc_id = c.id_a
    JOIN sets b ON b.doc_id = c.id_b
  ) WHERE jaccard >= {t}
)"""


def _lang_pred_sql(text: str = "text") -> str:
    scores = {lang: _sw_hits_sql(lang, text) for lang in STOPWORDS}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    chain = " ".join(
        f"WHEN {scores[lang]} = {best} THEN '{lang}'" for lang in sorted(STOPWORDS)
    )
    base = f"CASE WHEN {best} = 0 THEN 'und' {chain} ELSE 'und' END"
    cjk = f"len(regexp_extract_all({text}, '[一-鿿]'))"
    return f"CASE WHEN {cjk} * 3 > length({text}) THEN 'zh' ELSE {base} END"


_QUALITY_SQL = (
    "0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) + "
    f"0.3 * (CAST({_sw_hits_sql('en')} AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)) + "
    "0.3 * (1.0 - least(abs(CAST(length(text) AS DOUBLE) / "
    "CAST(len(string_split(text, ' ')) AS DOUBLE) - 5.0) / 10.0, 1.0))"
)

# ------------------------------------------------------------- text analysis


@query(
    "text_token_stats",
    oracle="""
SELECT lang,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(SUM(len(list_distinct(string_split(text, ' ')))) AS BIGINT) AS distinct_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
""",
)
def text_token_stats(spark, sf_dir):
    """X4: token counting over documents — all JVM-side array expressions."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.groupBy("lang").agg(
        F.sum(F.size(toks)).alias("total_tokens"),
        F.sum(F.size(F.array_distinct(toks))).alias("distinct_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "lang_id_heuristic",
    oracle=f"""
SELECT {_lang_pred_sql()} AS lang_pred, lang, count(*) AS n
FROM documents GROUP BY 1, 2
""",
)
def lang_id_heuristic(spark, sf_dir):
    """X4: stopword-score language ID (argmax over per-language hit
    counts, deterministic tie-break) — confusion counts vs the labeled
    lang column."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy(lang_id("text").alias("lang_pred"), F.col("lang")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "quality_score_hist",
    oracle=f"""
SELECT CAST(floor(({_QUALITY_SQL}) * 10) AS BIGINT) AS bucket, count(*) AS n
FROM documents GROUP BY 1
""",
)
def quality_score_hist(spark, sf_dir):
    """X4: deterministic quality score (length/stopword/token-shape
    heuristic), bucketed histogram."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy(
        F.floor(quality_score("text") * 10).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "doc_fingerprint",
    oracle=f"""
SELECT lang, count(DISTINCT {_fingerprint_sql()}) AS n_fp,
       min({_fingerprint_sql()}) AS min_fp, max({_fingerprint_sql()}) AS max_fp
FROM documents GROUP BY lang
""",
)
def doc_fingerprint_q(spark, sf_dir):
    """X4: rolling-hash content fingerprints (order-sensitive, exact
    integer math)."""
    d = load(spark, sf_dir, "documents")
    fp = doc_fingerprint("text")
    return d.groupBy("lang").agg(
        F.countDistinct(fp).alias("n_fp"),
        F.min(fp).alias("min_fp"),
        F.max(fp).alias("max_fp"),
    )


# ------------------------------------------------------------------- dedup


def _injected_docs(spark, sf_dir):
    """documents ∪ near-duplicate copies (id+100000, two extra tokens) of
    every 11th doc — the deterministic dup-injection corpus."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    dups = d.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xtra xtra")).alias("text"),
        "lang",
    )
    return d.unionByName(dups)


_INJECTED_SQL = """
SELECT doc_id, text, lang FROM documents
UNION ALL
SELECT doc_id + 100000 AS doc_id, text || ' xtra xtra' AS text, lang
FROM documents WHERE doc_id % 11 = 0
"""


@query(
    "dedup_exact_text",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
),
kept AS (
  SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM corpus GROUP BY md5(text)
)
SELECT count(*) AS n_unique, CAST(SUM(n_copies) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids
FROM kept
""",
)
def dedup_exact_text(spark, sf_dir):
    """X1: exact dedup (hash-groupBy, keep min id) over a corpus with
    injected exact duplicates."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.where(F.col("doc_id") % 7 == 0).select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    kept = exact_dedup(corpus)
    return kept.agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum("n_copies").alias("n_docs"),
        F.sum("doc_id").alias("sum_kept_ids"),
    )


@query(
    "dedup_near_minhash",
    oracle=f"""
WITH corpus AS ({_INJECTED_SQL}),
{_neardup_pairs_cte(0.6)}
SELECT id_a, id_b, jaccard FROM pairs
""",
)
def dedup_near_minhash(spark, sf_dir):
    """X2: MinHash banding LSH candidates → exact shingle-Jaccard verify.
    The oracle is the prefix-filtered exact pair scan (recall-complete —
    _neardup_pairs_cte); banding (8 bands × 4 rows) has ~1-1e-7 recall
    at the injected similarity, so the verified pair sets coincide."""
    return near_dedup_minhash(_injected_docs(spark, sf_dir), threshold=0.6, bucket_cap=5000)


@query(
    "dedup_simhash_pairs",
    oracle=r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  WHERE length(regexp_replace(text, '\s', '', 'g')) > 0
  UNION ALL
  SELECT doc_id + 100000, array_to_string(list_reverse(string_split(text, ' ')), ' ')
  FROM documents
  WHERE doc_id % 7 = 0 AND length(regexp_replace(text, '\s', '', 'g')) > 0
),
keyed AS (
  SELECT doc_id, md5(array_to_string(list_sort(string_split(text, ' ')), chr(31))) AS k
  FROM corpus
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM keyed a JOIN keyed b ON a.k = b.k AND a.doc_id < b.doc_id
""",
)
def dedup_simhash_pairs(spark, sf_dir):
    """X2 (SimHash): word-order-insensitive duplicate detection — the
    dedup flavor exact-text hashing cannot do (a token-shuffled
    plagiarism copy has a different md5 but the SAME token multiset).
    Corpus: documents ∪ token-REVERSED copies of every 7th doc. SimHash
    is the blocker: a multiset-equal pair has an IDENTICAL 64-bit
    signature (per-token contributions sum commutatively), so
    hamming == 0 candidates have structural recall 1 — no probabilistic
    tail, unlike simhash's near-dup use whose recall/precision contracts
    stay pytest-asserted (tests/test_pipeline_ops.py). Verify: exact
    sorted-token-multiset digest equality, which is also what the SQL
    oracle re-derives. Scale: the shuffle carries (sig-chunk, id) then
    (digest, id) — never text pairs."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    nonempty = d.where(F.length(F.regexp_replace(F.col("text"), r"\s", "")) > 0)
    reversed_copies = nonempty.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.col("text"), " ")), " ").alias("text"),
    )
    corpus = nonempty.unionByName(reversed_copies)
    # bucket_cap salting trades recall for safety on viral same-signature
    # clusters — fine for the near-dup flavor, NOT for this exact-oracle
    # query: a cluster above the cap would silently lose cross-salt pairs
    # and hash-mismatch. Assert the fixture stays under the cap so a
    # corpus change that crosses it fails LOUDLY here instead of as an
    # inscrutable oracle diff.
    cap = 5000
    import os as _os

    if not _os.environ.get("PQRS_BENCH_APPROX_ONLY"):
        # fixture-safety pre-check (one extra corpus agg) — skippable only
        # in the bench's attribution mode; every gate run pays it
        biggest = (
            corpus.groupBy(
                F.md5(F.concat_ws("\x1f", F.array_sort(F.split("text", " "))))
            )
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        if biggest and biggest > cap:
            raise AssertionError(
                f"dedup_simhash_pairs: a signature cluster of {biggest} docs "
                f"exceeds bucket_cap={cap}; salting would drop pairs the exact "
                "oracle expects — raise the cap for this query"
            )
    cand = near_dedup_simhash(corpus, max_hamming=0, bucket_cap=cap).select(
        "id_a", "id_b"
    )
    key = F.md5(
        F.concat_ws("\x1f", F.array_sort(F.split(F.col("text"), " ")))
    ).alias("k")
    keyed = corpus.select("doc_id", key)
    a = keyed.select(F.col("doc_id").alias("id_a"), F.col("k").alias("ka"))
    b = keyed.select(F.col("doc_id").alias("id_b"), F.col("k").alias("kb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .where(F.col("ka") == F.col("kb"))
        .select("id_a", "id_b")
    )


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
WITH sub AS (SELECT doc_id, text FROM documents WHERE lang = 'de' AND doc_id % 2 = 0),
sets AS (SELECT doc_id, {_shingle_set_sql()} AS sh FROM sub),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard > 0
""",
)
def ngram_jaccard_pairs(spark, sf_dir):
    """X2: exact n-gram (3-token shingle) Jaccard similarity — all pairs
    of a blocked subset with any overlap. Candidates come from an
    inverted-index shingle equi-join (work ∝ answer size), NOT a
    cartesian self-join — identical result set because jaccard > 0 holds
    exactly when a pair shares a shingle. Plan-gated no-cartesian in
    tests/test_plans.py."""
    d = load(spark, sf_dir, "documents").where(
        (F.col("lang") == "de") & (F.col("doc_id") % 2 == 0)
    )
    pairs = overlap_candidate_pairs(d)
    return jaccard_pairs(d, pairs).where(F.col("jaccard") > 0)


# --------------------------------------------------------------- similarity


@query(
    "topk_cosine_bruteforce",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 50),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {_cosine_sql('qv', 'cv')} AS cos
  FROM q, c WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 5
""",
)
def topk_cosine_bruteforce_q(spark, sf_dir):
    """X3 baseline: exact top-5 cosine neighbors for 50 query vectors —
    broadcast queries × one corpus scan, per-query window rank."""
    e = load(spark, sf_dir, "embeddings")
    out = topk_cosine_bruteforce(e.where(F.col("vec_id") < 50), e, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _topk_oracle(pred_sql: str, k: int) -> str:
    """Brute-force exact top-k SQL over a query subset — the shared
    oracle of the ANN family (same fold arithmetic as
    topk_cosine_bruteforce's, so cos doubles are bit-identical)."""
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE {pred_sql}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {_cosine_sql('qv', 'cv')} AS cos
  FROM q, c WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= {k}
"""


def _bf_width(corpus):
    """Width floor for a brute-force scoring kernel over a NARROW corpus:
    the kernel's parallelism is the corpus frame's width, which for a
    KB-sized local scan is 1-2 tasks scoring millions of pairs while the
    other cores idle (guide §2.6). Planning-only for scan-shaped frames;
    returns None (no extra shuffle) when the corpus is already at least
    cluster-wide — the 100 TB case."""
    sc = corpus.sparkSession.sparkContext
    return (
        sc.defaultParallelism
        if corpus.rdd.getNumPartitions() < sc.defaultParallelism
        else None
    )


def _ann_verified_exact(spark, approx, exact, min_recall: float, name: str):
    """The ANN-query oracle pattern: run the approximate index path, run
    the exact brute force over the same (bounded) query set, assert the
    index's recall in-query — a recall drop fails the gate LOUDLY instead
    of silently shipping worse neighbors — and emit the exact surface,
    which a SQL oracle can re-derive. Both frames are n_queries × k, so
    the two counts are driver-bounded. Both are cached before the recall
    check: without it the exact brute force runs three times (its own
    count, the recall semi-join, the returned surface) and the index
    path twice — the whole ANN DAG re-executed per action. The cached
    frames are n_queries × k rows (KBs); bench/gate clearCache between
    queries.

    ``PQRS_BENCH_APPROX_ONLY=1`` (bench-only, default off) returns the
    raw index path without the exact twin or the recall assert — so the
    bench can attribute a regression to the index itself vs the
    deliberately-added verify surface. The correctness gate never sets
    it: every gate/driver run pays the full verified-exact pattern."""
    import os as _os

    if _os.environ.get("PQRS_BENCH_APPROX_ONLY"):
        return approx.withColumn("rank", F.col("rank").cast("long"))
    exact = exact.cache()
    approx = approx.cache()
    total = exact.count()
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
    if total and hits < min_recall * total:
        raise AssertionError(
            f"{name}: index recall {hits / total:.3f} < required {min_recall}"
        )
    return exact.withColumn("rank", F.col("rank").cast("long"))


@query(
    "topk_cosine_ann",
    oracle="""
SELECT vec_id + 1000000 AS query_id, vec_id AS top1_id
FROM embeddings WHERE vec_id >= 50 AND vec_id < 100
""",
)
def topk_cosine_ann(spark, sf_dir):
    """X3 scale path: multi-table random-hyperplane LSH retrieval.
    Hyperplane LSH's real contract is NEAR-neighbor retrieval — highly
    cos-similar vectors collide in every table (positive scaling
    preserves every hyperplane sign), while a uniformly random corpus
    has no meaningful neighbors for it to find — so the oracle-checked
    surface is that contract: injected near-identical twins
    (embedding × 1.0001) MUST come back at rank 1 with cos ≈ 1
    (asserted in-query; the same invariant
    tests/test_pipeline_ops.py::test_ann_recovers_identical_neighbors
    holds operator-level). General exact top-k belongs to
    topk_cosine_bruteforce / _ivf / _pq."""
    e = load(spark, sf_dir, "embeddings")
    base = e.where((F.col("vec_id") >= 50) & (F.col("vec_id") < 100))
    probes = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.0001).cast("float")).alias(
            "embedding"
        ),
    )
    corpus = e.select("vec_id", "embedding").unionByName(probes)
    got = topk_cosine_lsh(
        probes, corpus, k=1, bucket_cap=5000, dim=embedding_dim(sf_dir)
    )
    return got.where(
        F.assert_true(
            F.col("cos") >= 0.999999, F.lit("LSH failed to retrieve the twin at rank 1")
        ).isNull()
    ).select("query_id", F.col("neighbor_id").alias("top1_id"))


@query(
    "dedup_embedding_pairs",
    oracle=f"""
WITH sub AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.001) AS v
             FROM embeddings WHERE vec_id % 17 = 0),
corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id % 17 = 0
  UNION ALL SELECT vec_id + 100000, v FROM sub
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cosine_sql('a.v', 'b.v')} AS cos
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b FROM pairs WHERE cos >= 0.99
""",
)
def dedup_embedding_pairs(spark, sf_dir):
    """X2 (embedding): near-dup vector pairs (cosine ≥ 0.99) via
    hyperplane-bucket candidates + exact verify, on a corpus with injected
    scaled copies. Oracle brute-forces the same (blocked) universe."""
    e = load(spark, sf_dir, "embeddings").where(F.col("vec_id") % 17 == 0)
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    orig = e.select("vec_id", as_double.alias("embedding"))
    pert = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(as_double, lambda x: x * 1.001).alias("embedding"),
    )
    corpus = orig.unionByName(pert)
    return near_dedup_embedding(
        corpus, threshold=0.99, bucket_cap=5000, dim=embedding_dim(sf_dir)
    ).select("id_a", "id_b")


# -------------------------------------------------------------- multimodal


@query(
    "binary_passthrough",
    oracle="""
SELECT 'fake-md5' AS decoder, count(*) AS n,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       count(DISTINCT md5(text)) AS n_distinct,
       CAST(SUM(16 + CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) % 240) AS BIGINT) AS sum_w,
       CAST(SUM(16 + CAST(concat('0x', substr(md5(text), 3, 2)) AS BIGINT) % 240) AS BIGINT) AS sum_h
FROM documents
""",
)
def binary_passthrough(spark, sf_dir):
    """X5: opaque binary payloads + metadata structs round-tripped through
    a TableRepo, then feature-extracted via Arrow-batched mapInPandas
    (decode layer stubbed — deterministic md5 fake)."""
    d = load(spark, sf_dir, "documents")
    packed = pack_binary(d, "text", "doc_id")
    t = TableRepo(scratch_dir("mm") + "/bin", index_cols="item_id", spark=spark)
    t.extend(packed)
    feats = extract_features(t.get_full_df())
    return feats.groupBy("decoder").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("byte_len").alias("total_bytes"),
        F.countDistinct("content_md5").alias("n_distinct"),
        F.sum("width").alias("sum_w"),
        F.sum("height").alias("sum_h"),
    )


# ------------------------------------------------------------------ events


_SESS_ORACLE = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN lag_ts IS NULL OR ts_ns - lag_ts > 1800000000000 THEN 1 ELSE 0 END AS new_s
  FROM (
    SELECT user_id, epoch_ns(ts) AS ts_ns,
           lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) AS lag_ts
    FROM events
  )
),
per_user AS (
  SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
  FROM flagged GROUP BY user_id
)
SELECT n_sessions, count(*) AS n_users, CAST(SUM(n_events) AS BIGINT) AS total_events
FROM per_user GROUP BY n_sessions
"""


@query("sessionization", oracle=_SESS_ORACLE)
def sessionization(spark, sf_dir):
    """X6: gap-based sessionization (lag + cumulative new-session flags,
    30-min gap) — distribution of sessions per user."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    stats = session_stats(ev, ts_ns_col="ts", gap_seconds=1800)
    return stats.groupBy("n_sessions").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").alias("total_events"),
    )


@query("stream_sessionization", oracle=_SESS_ORACLE)
def stream_sessionization(spark, sf_dir):
    """X6 streaming twin: the same sessionization computed by the custom
    stateful operator (applyInPandasWithState, streaming/sessions.py) over
    a file stream of the events table — final state must reproduce the
    batch result, so it shares the batch oracle."""
    import uuid

    from ..streaming.sessions import streaming_session_stats

    root = scratch_dir("ssess")
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    ev.write.mode("overwrite").parquet(f"{root}/src")
    stream = spark.readStream.schema("user_id long, ts long").parquet(f"{root}/src")
    name = f"sess_{uuid.uuid4().hex[:8]}"
    from ..streaming.ingest import state_partitions

    # per-stream state sizing: ~hundreds of users at this SF — 8 state
    # stores beat 32 on fixed costs; a real deployment sizes this to key
    # cardinality / executor count (see state_partitions docstring)
    with state_partitions(spark, 8):
        q = (
            streaming_session_stats(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(600)
    per_user = (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_sessions").alias("n_sessions"), F.max("n_events").alias("n_events"))
    )
    return per_user.groupBy("n_sessions").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").alias("total_events"),
    )


@query(
    "stream_events_hourly",
    oracle=f"""
SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
       count(*) AS n, {dsum_sql('value', 'sum_value')}
FROM events GROUP BY 1, 2
""",
)
def stream_events_hourly(spark, sf_dir):
    """X6 streaming: watermarked tumbling-window aggregation
    (streaming/ingest.py::windowed_event_counts) over a file stream of the
    events table; complete-mode memory sink, so the final table IS the
    batch answer — shares the events_hourly_agg oracle."""
    import uuid

    from ..streaming.ingest import windowed_event_counts

    root = scratch_dir("sevh")
    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    ev.write.mode("overwrite").parquet(f"{root}/src")
    stream = (
        spark.readStream.schema("ts long, event_type string, value double")
        .parquet(f"{root}/src")
        # epoch-nanos → timestamp (micros, exact for hour bucketing); UTC
        # session TZ keeps window starts epoch-hour aligned
        .withColumn("ts_t", F.timestamp_micros(F.expr("ts div 1000")))
    )
    agg = windowed_event_counts(stream, ts_col="ts_t", value_agg=dsum("value", "sum_value"))
    name = f"evh_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return spark.table(name).select(
        (F.unix_timestamp("window_start").cast("long") / 3600).cast("long").alias("hour_bucket"),
        "event_type",
        "n",
        "sum_value",
    )


@query(
    "topk_cosine_ivf",
    oracle=_topk_oracle("vec_id >= 100 AND vec_id < 150", 5),
)
def topk_cosine_ivf_q(spark, sf_dir):
    """X3 scale path, IVF flavor: seeded driver-side k-means coarse
    quantizer → inverted-list probe join → exact-cosine rank. Verified per
    gate run: recall ≥ 0.7 vs brute force asserted in-query, exact top-k
    emitted (SQL-reproducible — see _ann_verified_exact)."""
    from ..operators.similarity import topk_cosine_ivf

    e = load(spark, sf_dir, "embeddings")
    q = e.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))
    approx = topk_cosine_ivf(q, e, k=5, n_lists=16, n_probe=8)
    exact = topk_cosine_bruteforce(q, e, k=5)
    return _ann_verified_exact(spark, approx, exact, 0.7, "topk_cosine_ivf")


@query(
    "ann_index_persisted_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id >= 100 AND vec_id < 150 AND vec_id % 50 <> 0),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
      WHERE vec_id % 50 <> 0),
scored AS (
  SELECT query_id, neighbor_id, {_cosine_sql('qv', 'cv')} AS cos
  FROM q, c WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 5
""",
)
def ann_index_persisted_topk(spark, sf_dir):
    """X3 production-retrieval shape: a PERSISTED IVF index
    (operators/ann_index.py — list-partitioned postings + broadcastable
    centroid table on TableRepo storage) built once, then mutated the
    way a live retrieval corpus is: an incremental batch routes to
    existing lists via ``add()`` (O(batch), no re-train), stale vectors
    leave via ``delete()`` (deletion-vector tombstones, no list
    rewrite), and the query batch probes only its n_probe lists —
    a partition-pruned scan decided from the manifest. In-query
    asserts: no deleted id may surface as a neighbor (the dv gate holds
    through the index read), and recall ≥ 0.7 vs brute force over the
    post-delete corpus; the exact surface is emitted (SQL-reproducible
    — the _ann_verified_exact device)."""
    from ..operators.ann_index import AnnIndex

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = e.where(F.col("vec_id") % 7 != 0)
    incr = e.where(F.col("vec_id") % 7 == 0)
    dead = e.where(F.col("vec_id") % 50 == 0).select("vec_id")
    idx = AnnIndex(scratch_dir("annidx") + "/idx", spark=spark)
    import time as _time

    _b0 = _time.monotonic()
    n_lists = idx.build(base, seed=42)
    idx.add(incr)
    idx.delete(dead)
    record_build("ann_index_persisted_topk", _time.monotonic() - _b0)
    q = e.where(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 150) & (F.col("vec_id") % 50 != 0)
    )
    # recall at fixed n_probe DECAYS as the corpus grows (n_lists tracks
    # √n, so 8 probes is an ever-smaller fraction); probe a fixed ~third
    # of the lists instead — candidate volume stays n/3, recall stays
    # put across scale factors
    approx = idx.query(q, k=5, n_probe=max(8, n_lists // 3)).cache()
    if approx.join(
        dead, approx["neighbor_id"] == dead["vec_id"], "left_semi"
    ).count():
        raise AssertionError("deleted vector surfaced as a neighbor")
    corpus = e.where(F.col("vec_id") % 50 != 0)
    exact = topk_cosine_bruteforce(q, corpus, k=5)
    return _ann_verified_exact(spark, approx, exact, 0.7, "ann_index_persisted_topk")


@query(
    "ann_index_pq_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id >= 100 AND vec_id < 150),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {_cosine_sql('qv', 'cv')} AS cos
  FROM q, c WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 5
""",
)
def ann_index_pq_topk(spark, sf_dir):
    """X3/X15 IVF-PQ serving (round-7 verdict #6 —
    operators/ann_index.py::build(pq_m=) + query_pq): the persisted index
    stores m-byte PQ codes in the postings partitions; top-k serves by an
    asymmetric-distance scan over the PROBED partitions' codes column
    with exact re-rank reading raw vectors for candidates only — the
    scan-bandwidth story at 100 TB of embeddings. In-query asserts:
    (a) bytes-scanned — the plan's candidate scan reads the ``pq``
    column WITHOUT ``cv`` (parquet column pruning is the mechanism, so
    the plan is the proof); (b) recall ≥ 0.7 of the PQ path vs the
    UNCOMPRESSED index serving the same probes; (c) the emitted surface
    is the exact brute force (recall-asserted via _ann_verified_exact),
    which the SQL oracle re-derives."""
    import re as _re

    from ..operators.ann_index import AnnIndex

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = AnnIndex(scratch_dir("annpq") + "/idx", spark=spark)
    import time as _time

    _b0 = _time.monotonic()
    n_lists = idx.build(e, seed=42, pq_m=8)
    record_build("ann_index_pq_topk", _time.monotonic() - _b0)
    q = e.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))
    n_probe = max(8, n_lists // 3)
    approx = idx.query_pq(q, k=5, n_probe=n_probe, rerank=40).cache()
    plan = approx._jdf.queryExecution().executedPlan().toString()
    schemas = _re.findall(r"ReadSchema: struct<([^>]*)", plan)
    if any("pq:" in s and "cv:" in s for s in schemas):
        raise AssertionError(
            "PQ candidate scan reads raw vectors — column pruning regressed"
        )
    if not any("pq:" in s for s in schemas):
        raise AssertionError("no codes-only candidate scan found in the plan")
    import os as _os

    if not _os.environ.get("PQRS_BENCH_APPROX_ONLY"):
        uncompressed = idx.query(q, k=5, n_probe=n_probe).cache()
        total = uncompressed.count()
        hits = uncompressed.join(
            approx, ["query_id", "neighbor_id"], "left_semi"
        ).count()
        if total and hits < 0.7 * total:
            raise AssertionError(
                f"ann_index_pq_topk: PQ recall vs uncompressed index "
                f"{hits / total:.3f} < 0.7"
            )
    exact = topk_cosine_bruteforce(q, e, k=5)
    return _ann_verified_exact(spark, approx, exact, 0.7, "ann_index_pq_topk")


@query(
    "ann_index_drift_topk",
    oracle=f"""
WITH c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
  UNION ALL
  SELECT 1000000 * ((vec_id % 50) + 1) + vec_id AS neighbor_id,
         list_transform(embedding, x -> 3.0 + 0.1 * CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id % 50 < 10
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id >= 100 AND vec_id < 150),
scored AS (
  SELECT query_id, neighbor_id, {_cosine_sql('qv', 'cv')} AS cos
  FROM q, c WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 5
""",
)
def ann_index_drift_topk(spark, sf_dir):
    """X3/X15 index maintenance under DRIFT (round-7 verdict #1 —
    operators/ann_index.py::maintain): ``add()`` routes to frozen
    centroids, so ten append batches aimed at ONE region of the space
    (an affine squeeze of existing vectors toward a fixed point —
    SQL-reproducible) pile into a handful of posting lists and query
    cost walks from √n toward n. ``maintain()`` detects the oversized
    lists from the stats surface, re-clusters each with a local seeded
    k-means sized to the overload (O(oversized), one sweep), and moves
    postings + routing table in one fenced multi-table transaction.
    In-query asserts: the skew really concentrated (pre-maintain max
    list > split threshold), maintain really split (non-empty split
    map), the fat list shrank, no posting orphaned from the routing
    table, row conservation — then recall ≥ 0.7 vs brute force over the
    post-drift corpus, whose exact surface is emitted (the SQL oracle
    re-derives it)."""
    from ..functions.vectors import to_double
    from ..operators.ann_index import AnnIndex

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = AnnIndex(scratch_dir("anndrift") + "/idx", spark=spark)
    import time as _time

    _b0 = _time.monotonic()
    n_lists = idx.build(e, seed=42)
    for i in range(10):
        batch = e.where(F.col("vec_id") % 50 == i).select(
            (F.lit(1_000_000) * (i + 1) + F.col("vec_id")).alias("vec_id"),
            F.transform(
                to_double(F.col("embedding")),
                lambda x: F.lit(3.0) + F.lit(0.1) * x,
            ).alias("embedding"),
        )
        idx.add(batch)
    sizes = {r["list_id"]: r["n_rows"] for r in idx.postings.stats().collect()}
    mean = sum(sizes.values()) / len(sizes)
    if max(sizes.values()) <= 2.0 * mean:
        raise AssertionError(
            "drift workload failed to concentrate: no list exceeds 2x mean"
        )
    # the pre-maintain workload is append-only (build + adds, no dv),
    # so raw stats rows == live rows — no extra count job needed here
    n_live_before = sum(sizes.values())
    res = idx.maintain(split_factor=2.0, min_split_rows=32)
    if not res["split"]:
        raise AssertionError("maintain() split nothing on a skewed index")
    sizes2 = {r["list_id"]: r["n_rows"] for r in idx.postings.stats().collect()}
    fat = max(sizes, key=sizes.get)
    if sizes2.get(fat, 0) >= sizes[fat]:
        raise AssertionError("oversized list did not shrink after maintain()")
    # conservation on LIVE rows (round-8 advice): the merge pass moves
    # rows via dv-upsert, so RAW stats counts legitimately inflate with
    # tombstoned copies until compaction — raw equality would hard-fail
    # spuriously at any SF where a list dips under the merge floor
    if idx.postings.get_full_df().count() != n_live_before:
        raise AssertionError("maintain() lost or duplicated postings rows")
    live = {r["list_id"] for r in idx.centroids.get_full_df().collect()}
    live_lists = {
        r["list_id"]
        for r in idx.postings.get_full_df().select("list_id").distinct().collect()
    }
    if not live_lists <= live:
        raise AssertionError("live postings reference a list with no centroid")
    record_build("ann_index_drift_topk", _time.monotonic() - _b0)
    q = e.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))
    approx = idx.query(q, k=5, n_probe=max(8, n_lists // 3))
    corpus = idx.postings.get_full_df().select(
        F.col("vec_id"), F.col("cv").alias("embedding")
    )
    exact = topk_cosine_bruteforce(q, corpus, k=5)
    return _ann_verified_exact(spark, approx, exact, 0.7, "ann_index_drift_topk")


@query(
    "ann_filtered_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id >= 100 AND vec_id < 150),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
      WHERE vec_id % 10 = 3),
scored AS (
  SELECT query_id, neighbor_id, {{cos}} AS cos
  FROM q, c WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 5
""".format(cos=_cosine_sql("qv", "cv")),
)
def ann_filtered_topk(spark, sf_dir):
    """X3 filtered vector search (operators/ann_index.py::query with
    ``where=``): the production retrieval shape most engines bolt on
    late — top-k neighbors AMONG rows satisfying a metadata predicate.
    The index stores attribute columns alongside the postings
    (build(attr_cols=...)), the predicate applies INSIDE the probed
    partitions' parquet scan (pre-filter, pushed down by Catalyst —
    never a post-filter of an unfiltered pool that silently under-fills
    k), and probing escalates adaptively (1 → 4 → all lists) for
    queries a selective filter leaves short of k matches. Here a 10%
    filter with a deliberately tiny initial probe exercises the
    escalation path; recall ≥ 0.7 vs the filtered brute force is
    asserted in-query and the exact surface is emitted (the
    _ann_verified_exact device)."""
    from ..operators.ann_index import AnnIndex

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = e.withColumn("bucket", (F.col("vec_id") % 10).cast("int"))
    idx = AnnIndex(scratch_dir("annflt") + "/idx", spark=spark)
    import time as _time

    _b0 = _time.monotonic()
    n_lists = idx.build(corpus, seed=42, attr_cols=["bucket"])
    record_build("ann_filtered_topk", _time.monotonic() - _b0)
    q = e.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))
    # a filtered search probes MORE lists than an unfiltered one for the
    # same recall (only ~selectivity of each probed list competes): a
    # fixed ~half of the lists, as a FRACTION so recall holds across
    # scale factors (n_lists tracks √n)
    approx = idx.query(q, k=5, n_probe=max(24, n_lists // 2), where="bucket = 3").cache()
    # pre-filter invariant: every neighbor satisfies the predicate
    leak = approx.join(
        corpus.where(F.col("bucket") != 3).select(
            F.col("vec_id").alias("neighbor_id")
        ),
        "neighbor_id",
        "left_semi",
    ).count()
    if leak:
        raise AssertionError("filtered ANN returned a predicate-violating neighbor")
    exact = topk_cosine_bruteforce(q, corpus.where(F.col("bucket") == 3), k=5)
    return _ann_verified_exact(spark, approx, exact, 0.7, "ann_filtered_topk")


_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


@query(
    "bpe_token_stats",
    oracle=f"""
SELECT lang,
       CAST(SUM(len(regexp_extract_all(text, '{_BPE_RE}'))) AS BIGINT) AS total_bpe,
       CAST(SUM(len(list_distinct(regexp_extract_all(text, '{_BPE_RE}')))) AS BIGINT) AS distinct_bpe,
       CAST(MAX(len(regexp_extract_all(text, '{_BPE_RE}'))) AS BIGINT) AS max_bpe
FROM documents GROUP BY lang
""",
)
def bpe_token_stats(spark, sf_dir):
    """X4: BPE-ish pre-tokenizer counts (letter runs / digit runs / single
    symbols) — the token-budget estimator for training-data curation."""
    from ..functions.text import regex_tokens

    d = load(spark, sf_dir, "documents")
    bt = regex_tokens(F.col("text"))
    return d.groupBy("lang").agg(
        F.sum(F.size(bt)).alias("total_bpe"),
        F.sum(F.size(F.array_distinct(bt))).alias("distinct_bpe"),
        F.max(F.size(bt)).alias("max_bpe"),
    )


_CLUSTER_REPS_ORACLE = f"""
WITH RECURSIVE corpus AS ({_INJECTED_SQL}),
{_neardup_pairs_cte(0.6)},
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
closure AS (
  SELECT src, dst FROM reach
  UNION SELECT DISTINCT src, src FROM edges
),
comp AS (SELECT src AS id, min(dst) AS component FROM closure GROUP BY src)
SELECT component, count(*) AS cluster_size, CAST(SUM(id) AS BIGINT) AS sum_ids
FROM comp GROUP BY component
"""


@query("dedup_cluster_reps", oracle=_CLUSTER_REPS_ORACLE)
def dedup_cluster_reps(spark, sf_dir):
    """X2 completion: near-dup pairs → connected components → one
    representative (minimum id) per duplicate cluster
    (operators/dedup.py::connected_components, large-star/small-star
    rounds). The oracle computes the same components by recursive
    transitive closure — tractable for DuckDB at oracle scale, which is
    exactly why the engine side uses the O(log n)-round star rewrites
    instead. Only docs appearing in ≥1 pair are clustered (singletons
    need no dedup decision)."""
    from ..operators.dedup import connected_components, near_dedup_minhash

    pairs = near_dedup_minhash(
        _injected_docs(spark, sf_dir), threshold=0.6, bucket_cap=5000
    ).select("id_a", "id_b")
    # the pair list is already materialized ONCE inside near_dedup_minhash
    # (its eager localCheckpoint) — the star rounds and the labeling
    # re-read that checkpoint through a trivial projection, so a second
    # query-level checkpoint job would be pure overhead
    cc = connected_components(pairs)
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"), F.sum("id").alias("sum_ids")
    )


@query(
    "containment_pairs",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % 13 = 0 AND len(string_split(text, ' ')) >= 25
),
contained AS (
  SELECT doc_id + 200000 AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1, 20), ' ') AS text,
         doc_id AS src
  FROM base
),
corpus AS (
  SELECT doc_id, text FROM base UNION ALL SELECT doc_id, text FROM contained
),
sets AS (SELECT doc_id, {_shingle_set_sql()} AS sh FROM corpus)
SELECT c.src AS id_a, c.doc_id AS id_b,
       CAST(len(list_intersect(b.sh, a.sh)) AS DOUBLE) / CAST(len(b.sh) AS DOUBLE)
         AS containment
FROM contained c
JOIN sets a ON a.doc_id = c.src
JOIN sets b ON b.doc_id = c.doc_id
""",
)
def containment_pairs_q(spark, sf_dir):
    """X2 (asymmetric): shingle containment of an embedded excerpt in its
    source — 20-token prefixes injected as standalone docs score
    containment ≈ 1 against their source while their Jaccard is tiny
    (operators/dedup.py::containment_pairs). The quote/boilerplate-
    inclusion signal symmetric near-dedup cannot express."""
    from ..operators.dedup import containment_pairs

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    base = d.where((F.col("doc_id") % 13 == 0) & (F.size(toks) >= 25))
    contained = base.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, 20), " ").alias("text"),
        F.col("doc_id").alias("src"),
    )
    corpus = base.unionByName(contained.select("doc_id", "text"))
    pairs = contained.select(F.col("src").alias("id_a"), F.col("doc_id").alias("id_b"))
    return containment_pairs(corpus, pairs)


@query(
    "dedup_apply_clusters",
    oracle=f"""
WITH RECURSIVE corpus AS ({_INJECTED_SQL}),
{_neardup_pairs_cte(0.6)},
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
closure AS (
  SELECT src, dst FROM reach
  UNION SELECT DISTINCT src, src FROM edges
),
comp AS (SELECT src AS id, min(dst) AS component FROM closure GROUP BY src),
dropped AS (SELECT id FROM comp WHERE id <> component)
SELECT c.lang, count(*) AS n_kept, CAST(SUM(CAST(c.doc_id AS BIGINT)) AS BIGINT) AS sum_ids
FROM corpus c LEFT JOIN dropped d ON c.doc_id = d.id
WHERE d.id IS NULL
GROUP BY c.lang
""",
)
def dedup_apply_clusters(spark, sf_dir):
    """X2/X12 end-to-end APPLICATION: near-dup pairs → connected
    components → keep only each cluster's min-id representative → the
    deduplicated corpus, summarized per language. The anti-join on the
    non-representative id set is the one extra step after cluster
    resolution — the full near-dedup pipeline a corpus refresh actually
    runs."""
    from ..operators.dedup import connected_components, near_dedup_minhash

    corpus = _injected_docs(spark, sf_dir)
    pairs = near_dedup_minhash(corpus, threshold=0.6, bucket_cap=5000).select(
        "id_a", "id_b"
    )
    cc = connected_components(pairs)
    dropped = cc.where(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    kept = corpus.join(dropped, "doc_id", "left_anti")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("sum_ids")
    )


@query(
    "topk_cosine_pq",
    oracle=_topk_oracle("vec_id >= 150 AND vec_id < 200", 5),
)
def topk_cosine_pq_q(spark, sf_dir):
    """X3 compression path (round 4): product-quantized ADC scan + exact
    re-rank (operators/similarity.py::topk_cosine_pq). Verified per gate
    run: recall ≥ 0.8 vs brute force asserted in-query, exact top-k
    emitted (SQL-reproducible — see _ann_verified_exact)."""
    from ..operators.similarity import topk_cosine_pq

    e = load(spark, sf_dir, "embeddings")
    q = e.where((F.col("vec_id") >= 150) & (F.col("vec_id") < 200))
    # rerank=100: the ADC shortlist handed to exact re-scoring. The
    # default 4k=20 held 0.9 recall at 500 vectors but fell to 0.72 at
    # 2000 (the in-query assertion caught it at bench scale) — a wider
    # exact-rerank window is the standard PQ accuracy knob and costs 100
    # exact cosines per query regardless of corpus size.
    approx = topk_cosine_pq(q, e, k=5, m=8, n_codes=256, rerank=100)
    exact = topk_cosine_bruteforce(q, e, k=5)
    return _ann_verified_exact(spark, approx, exact, 0.8, "topk_cosine_pq")


@query(
    "multimodal_dedup",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 9 = 0
)
SELECT md5(text) AS content_md5, count(*) AS n_copies,
       CAST(min(doc_id) AS BIGINT) AS keep_id
FROM corpus GROUP BY md5(text) HAVING count(*) > 1
""",
)
def multimodal_dedup(spark, sf_dir):
    """X5 (round 4): end-to-end multimodal dedup — payloads packed to
    binary, content-hashed INSIDE the Arrow-batched feature extractor
    (operators/multimodal.py::extract_features), duplicate groups found
    by grouping on the 16-byte digest. The oracle reproduces the digests
    from the text (md5 over utf-8 bytes is representation-independent),
    so the mapInPandas decode path itself is value-verified, not just
    shape-checked. Scale: the shuffle carries (digest, id) only — the
    payload bytes never leave their scan tasks."""
    from ..operators.multimodal import extract_features, pack_binary

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.where(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    feats = extract_features(pack_binary(corpus, "text", "doc_id"))
    return (
        feats.groupBy("content_md5")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("item_id").alias("keep_id"))
        .where(F.col("n_copies") > 1)
    )


@query(
    "multimodal_embed_topk",
    oracle="""
SELECT doc_id + 100000 AS query_id, doc_id AS top1_id
FROM documents WHERE doc_id < 100 AND doc_id % 4 = 0
""",
)
def multimodal_embed_topk(spark, sf_dir):
    """X5→X3 bridge (round 4): binary payloads → pseudo-embeddings
    (operators/multimodal.py::embed_binary — a real encoder drops into
    the same mapInPandas slot) → exact cosine top-3 retrieval. Identical
    payloads embed identically, so each injected duplicate's top-1
    neighbor MUST be its twin at cos ≈ 1 — that retrieval contract is
    the oracle-checkable surface (query_id → twin id), asserted in-query
    on the cosine so a broken embed/rank path fails loudly rather than
    drifting. Embedding VALUES are md5-derived (not SQL-expressible);
    the retrieval RESULT is exactly derivable."""
    from ..operators.multimodal import embed_binary, pack_binary
    from ..operators.similarity import topk_cosine_bruteforce

    d = load(spark, sf_dir, "documents").select("doc_id", "text").where(F.col("doc_id") < 100)
    corpus = d.unionByName(
        d.where(F.col("doc_id") % 4 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    emb = embed_binary(pack_binary(corpus, "text", "doc_id"))
    out = topk_cosine_bruteforce(
        emb.where(F.col("item_id") >= 100000), emb, k=3, vec_col="embedding", id_col="item_id"
    )
    top1 = out.where(F.col("rank") == 1)
    return top1.where(
        F.assert_true(
            F.col("cos") >= 0.999999, F.lit("duplicate's top-1 is not an exact match")
        ).isNull()
    ).select("query_id", F.col("neighbor_id").alias("top1_id"))


@query(
    "semantic_dedup_kept",
    oracle=f"""
WITH sub AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.001) AS v
             FROM embeddings WHERE vec_id % 17 = 0),
corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id % 17 = 0
  UNION ALL SELECT vec_id + 100000, v FROM sub
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cosine_sql('a.v', 'b.v')} AS cos
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
),
pruned AS (SELECT DISTINCT id_b FROM pairs WHERE cos >= 0.99)
SELECT c.vec_id FROM corpus c
LEFT JOIN pruned p ON c.vec_id = p.id_b
WHERE p.id_b IS NULL
""",
)
def semantic_dedup_kept(spark, sf_dir):
    """X2 (semantic flavor): SemDeDup-shaped cluster-scoped dedup
    (operators/dedup.py::semantic_dedup) on a corpus with injected scaled
    copies — k-means clusters bound candidate generation, exact cosine
    verifies, every vector with a lower-id τ-neighbor is pruned. The
    oracle brute-forces the same prune rule over all pairs; the engine
    only ever compares within clusters, so the hash-exact match also
    certifies the clustering lost no qualifying pair on this corpus."""
    from ..operators.dedup import semantic_dedup

    e = load(spark, sf_dir, "embeddings").where(F.col("vec_id") % 17 == 0)
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    orig = e.select("vec_id", as_double.alias("embedding"))
    pert = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(as_double, lambda x: x * 1.001).alias("embedding"),
    )
    corpus = orig.unionByName(pert)
    return semantic_dedup(corpus, threshold=0.99, n_clusters=8, bucket_cap=5000)


@query(
    "fuzzy_title_pairs",
    oracle="""
WITH t0 AS (
  SELECT doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS title
  FROM documents WHERE doc_id % 5 = 0
),
t AS (
  SELECT doc_id, title FROM t0
  UNION ALL
  SELECT doc_id + 1000000, title || 'x' FROM t0 WHERE doc_id <= 100
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.title, b.title) AS INT) AS dist
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE levenshtein(a.title, b.title) <= 2
""",
)
def fuzzy_title_pairs(spark, sf_dir):
    """X2 (string flavor): approximate-string self-join — document-title
    pairs within Levenshtein distance 2 (operators/dedup.py::fuzzy_pairs)
    via the rare-first q-gram PREFIX FILTER (qgram=2): bounded candidate
    work inside big same-length blocks with EXACT recall (no bucket_cap
    trade needed), which is what lets the brute-force oracle still match
    hash-exactly. Deterministic distance-1 title twins are SEEDED for
    the low doc_ids (round-8 verdict #7: the organic corpus has zero
    qualifying pairs at sf0.01, so the oracle check was vacuous there —
    the twins keep the length-band blocking + levenshtein verify path
    value-checked at every scale factor, the topk_cosine_ann
    injected-twin pattern)."""
    from ..operators.dedup import fuzzy_pairs

    d = load(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    titles = d.select(
        "doc_id",
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " ").alias("title"),
    )
    twins = titles.where(F.col("doc_id") <= 100).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("title"), F.lit("x")).alias("title"),
    )
    return fuzzy_pairs(
        titles.unionByName(twins), "title", "doc_id", max_dist=2, qgram=2
    )


@query(
    "decontaminate_semantic",
    oracle=f"""
WITH c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
bench AS (SELECT vec_id, v FROM c WHERE vec_id % 25 = 0),
corpus AS (SELECT vec_id, v FROM c WHERE vec_id % 25 <> 0),
flagged AS (
  SELECT DISTINCT a.vec_id
  FROM corpus a JOIN bench b ON {_cosine_sql('a.v', 'b.v')} >= 0.95
)
SELECT count(*) AS n_corpus,
       (SELECT count(*) FROM flagged) AS n_flagged
FROM corpus
""",
)
def decontaminate_semantic(spark, sf_dir):
    """X7/X3: SEMANTIC benchmark decontamination — corpus vectors within
    cosine 0.95 of ANY benchmark vector are flagged (the embedding twin
    of decontaminate_ngrams: catches paraphrased eval leakage that
    n-gram overlap misses). The benchmark set is small by nature, so its
    pre-normed vectors BROADCAST into the corpus scan: one pass, zero
    corpus shuffle, each (corpus, bench) pair pays one dot fold — the
    plan that decontaminates a 100 TB corpus without moving it. Flagging
    dedups via semi-join-style distinct on ids only."""
    from ..functions.vectors import cosine_prenormed, norm, to_double

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    ).withColumn("nv", norm(F.col("v")))
    bench = e.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("bv"), F.col("nv").alias("nb")
    )
    corpus = e.where(F.col("vec_id") % 25 != 0)
    flagged = (
        corpus.crossJoin(F.broadcast(bench))
        .where(
            cosine_prenormed(F.col("v"), F.col("bv"), F.col("nv"), F.col("nb"))
            >= 0.95
        )
        .select("vec_id")
        .distinct()
    )
    return corpus.select(F.count(F.lit(1)).alias("n_corpus")).crossJoin(
        flagged.select(F.count(F.lit(1)).alias("n_flagged"))
    )


@query(
    "hard_negatives_topk",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv FROM e WHERE vec_id < 40),
scored AS (
  SELECT q.query_id, c.vec_id AS neg_id, {_cosine_sql('q.qv', 'c.v')} AS cos
  FROM q JOIN e c ON c.label <> q.q_label
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neg_id) AS rank
  FROM scored
)
SELECT query_id, neg_id, rank, cos FROM ranked WHERE rank <= 5
""",
)
def hard_negatives_topk(spark, sf_dir):
    """X3 (training-data flavor): HARD-NEGATIVE mining — for each query
    vector, the top-5 most-similar vectors with a DIFFERENT label (the
    near-miss examples contrastive training wants). Same plan skeleton
    as brute-force top-k: queries (pre-normed, with their labels)
    broadcast into one corpus scan, the label inequality rides the join
    condition so same-label pairs never score, and the per-query top-5
    is a window rank over candidates only. At 100 TB the corpus side
    would swap in the IVF/PQ candidate path unchanged."""
    from ..functions.vectors import cosine_prenormed, norm, to_double

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    ).withColumn("nv", norm(F.col("v")))
    q = e.where(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neg_id"))
    scored = (
        e.join(F.broadcast(q), e.label != q.q_label)
        .select(
            "query_id",
            F.col("vec_id").alias("neg_id"),
            cosine_prenormed(F.col("qv"), F.col("v"), F.col("nq"), F.col("nv")).alias(
                "cos"
            ),
        )
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select("query_id", "neg_id", "rank", "cos")
    )


@query(
    "dataset_split_counts",
    oracle="""
WITH t AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM documents
),
s AS (
  SELECT lang,
         CASE WHEN h % 10 < 8 THEN 'train'
              WHEN h % 10 = 8 THEN 'val' ELSE 'test' END AS split,
         doc_id
  FROM t
)
SELECT lang, split, count(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM s GROUP BY lang, split
""",
)
def dataset_split_counts(spark, sf_dir):
    """X7: deterministic train/val/test split (80/10/10) by content-key
    hash — the split assignment is a pure Column expression on the md5
    prefix, so membership is reproducible across engines, reruns, and
    incremental re-ingests (a new document never moves an old one between
    splits — the leakage guarantee that matters when the corpus grows).
    Zero shuffle beyond the audit aggregation."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    from ..functions.hashing import md5_prefix_long

    h = md5_prefix_long("doc_id")
    split = (
        F.when(h % 10 < 8, "train").when(h % 10 == 8, "val").otherwise("test")
    )
    return d.withColumn("split", split).groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("sum_ids")
    )


_SESS_WINDOW_ORACLE = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN lag_us IS NULL OR ts_us - lag_us >= 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM (
    SELECT user_id, epoch_ns(ts) // 1000 AS ts_us,
           lag(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000) AS lag_us
    FROM events
  )
),
per_user AS (
  SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
  FROM flagged GROUP BY user_id
)
SELECT n_sessions, count(*) AS n_users, CAST(SUM(n_events) AS BIGINT) AS total_events
FROM per_user GROUP BY n_sessions
"""


@query("events_session_window", oracle=_SESS_WINDOW_ORACLE)
def events_session_window(spark, sf_dir):
    """X6: the BUILT-IN ``session_window`` aggregation — Spark's native
    gap-merged session windows (each event extends its session by the
    30-min gap; overlapping extents merge inside one hash aggregate)
    computing the same per-user session distribution as the custom
    lag+cumsum operator. Boundary semantics differ by design: the
    built-in's windows are half-open (an event exactly gap after the
    previous one starts a NEW session) where the custom operator splits
    only when the gap is EXCEEDED — so this query carries its own oracle
    with the matching >= boundary at microsecond resolution (the
    truncation the timestamp cast applies). The built-in exists for the
    streaming case too (watermark + merging session state); batch-side
    it is one aggregation — no window-function sort pass — which is the
    cheaper plan when only per-session AGGREGATES (not per-row session
    ids) are needed."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.expr("timestamp_micros(ts div 1000)").alias("tts")
    )
    per_session = ev.groupBy(
        F.session_window("tts", "30 minutes"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_ev"))
    per_user = per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"), F.sum("n_ev").alias("n_events")
    )
    return per_user.groupBy("n_sessions").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").alias("total_events"),
    )


@query(
    "dedup_incremental_near",
    oracle=f"""
WITH hist AS (SELECT doc_id, text FROM documents),
newb AS (
  SELECT doc_id + 200000 AS doc_id, text || ' xtra xtra' AS text
  FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id + 300000,
         array_to_string(list_reverse(string_split(text, ' ')), ' ')
  FROM documents WHERE doc_id % 13 = 0
),
hs AS (SELECT doc_id, {_shingle_set_sql()} AS sh FROM hist),
ns AS (SELECT doc_id, {_shingle_set_sql()} AS sh FROM newb),
flagged AS (
  SELECT DISTINCT n.doc_id
  FROM ns n JOIN hs h
    ON CAST(len(list_intersect(n.sh, h.sh)) AS DOUBLE) /
       CAST(len(list_distinct(list_concat(n.sh, h.sh))) AS DOUBLE) >= 0.6
)
SELECT doc_id FROM flagged
""",
)
def dedup_incremental_near(spark, sf_dir):
    """X2/X7: INCREMENTAL MinHash near-dedup — a new batch (near-copies of
    every 11th history doc + word-reversed decoys of every 13th) checked
    against the history corpus through its PERSISTED LSH index
    (operators/dedup.py::minhash_index + incremental_near_dedup): only
    the batch is shingled, candidates come from an index equi-join, and
    exact verify re-reads only matched history docs — O(batch + matches)
    per refresh instead of re-deduping the corpus. The oracle
    brute-forces batch×history Jaccard, so the hash-exact match also
    certifies the index lost no qualifying pair (reversed decoys share
    the vocabulary but no 3-shingles — they must NOT flag)."""
    from ..operators.dedup import incremental_near_dedup, minhash_index

    hist = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    newb = hist.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xtra xtra")).alias("text"),
    ).unionByName(
        hist.where(F.col("doc_id") % 13 == 0).select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.array_join(F.reverse(toks), " ").alias("text"),
        )
    )
    index = minhash_index(hist)
    return incremental_near_dedup(newb, hist, index, threshold=0.6)


@query(
    "dedup_exact_normalized",
    oracle="""
WITH n AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
  FROM documents
)
SELECT count(DISTINCT h) AS n_unique, count(*) AS n_docs,
       count(*) - count(DISTINCT h) AS n_collapsed
FROM n
""",
)
def dedup_exact_normalized(spark, sf_dir):
    """X1 (normalized flavor): exact dedup AFTER text normalization —
    lowercase, punctuation stripped, whitespace collapsed — the
    preprocessing every production exact-dedup runs so case/punct
    variants of one document collapse (raw-byte md5 misses them). The
    normalization is one JVM regexp inside the scan stage; the dedup
    shuffle still carries 16-byte hashes."""
    d = load(spark, sf_dir, "documents")
    # ONE class covering punctuation and whitespace: a punct-only class
    # plus \s+ alternation leaves double spaces where punctuation adjoined
    # whitespace ('a. b' → 'a  b'), so variants would hash apart
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " "))
    h = F.md5(norm)
    return d.select(h.alias("__h")).agg(
        F.count_distinct("__h").alias("n_unique"),
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.count_distinct("__h")).alias("n_collapsed"),
    )


def _pagerank_oracle(iterations: int = 10) -> str:
    """Unrolled power-iteration PageRank in plain SQL — one CTE per
    round (join ranks onto edge sources, sum per destination), the exact
    computation operators/dedup.py::pagerank runs distributed. The edge
    set is the brute-force jaccard ≥ 0.6 pair graph (== the minhash
    output at this similarity, the same coincidence dedup_near_minhash's
    oracle rests on). Ranks are rounded to 6 decimals on BOTH sides to
    absorb double-sum association order."""
    base = "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)"
    its = "".join(
        f""",
r{i + 1} AS (
  SELECT e.d AS id, {base} + CAST(0.85 AS DOUBLE) * sum(r{i}.rank / deg.deg) AS rank
  FROM r{i} JOIN edges e ON r{i}.id = e.s JOIN deg ON deg.s = e.s GROUP BY e.d
)"""
        for i in range(iterations)
    )
    return f"""
WITH corpus AS ({_INJECTED_SQL}),
{_neardup_pairs_cte(0.6)},
edges AS MATERIALIZED (
  SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b AS s, id_a AS d FROM pairs
),
deg AS MATERIALIZED (SELECT s, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY s),
nn AS (SELECT CAST(count(DISTINCT s) AS DOUBLE) AS n FROM edges),
r0 AS (SELECT DISTINCT s AS id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM edges){its}
SELECT id, round(rank, 6) AS rank FROM r{iterations}
ORDER BY round(rank, 6) DESC, id LIMIT 20
"""


@query("neardup_pagerank", oracle=_pagerank_oracle(10))
def neardup_pagerank(spark, sf_dir):
    """X12 second iterative algorithm: PageRank over the near-duplicate
    pair graph — vertices with many (transitively popular) near-dup
    partners rank highest, the centrality signal a curation pass uses to
    pick which cluster member to KEEP (most-connected ≈ most canonical).
    Oracle: the identical power iteration unrolled in SQL
    (_pagerank_oracle); ranks round to 6 decimals on both sides so the
    engine-private double-sum association order cancels; the top-20
    ordering ties break on id deterministically. Convergence /
    normalization contracts (ranks sum to 1, star center dominates) stay
    pytest-asserted in tests/test_pipeline_ops.py."""
    from ..operators.dedup import near_dedup_minhash, pagerank

    pairs = near_dedup_minhash(
        _injected_docs(spark, sf_dir), threshold=0.6, bucket_cap=5000
    ).select("id_a", "id_b")
    pr = pagerank(pairs, iterations=10).select("id", F.round("rank", 6).alias("rank"))
    # global top-20 via orderBy().limit() → TakeOrderedAndProject (each
    # partition contributes its local top-20; never a one-task global
    # window sort — the same shape as the Q10/top-bigrams top-k)
    return pr.orderBy(F.col("rank").desc(), "id").limit(20)


@query(
    "neardup_triangles",
    oracle=f"""
WITH corpus AS ({_INJECTED_SQL}),
{_neardup_pairs_cte(0.6)}
SELECT count(*) AS n_triangles, (SELECT count(*) FROM pairs) AS n_edges
FROM pairs e1
JOIN pairs e2 ON e2.id_a = e1.id_b
JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
""",
)
def neardup_triangles(spark, sf_dir):
    """X12: exact triangle counting over the near-dup pair graph — the
    clique-density signal (a duplicate CLUSTER is triangle-rich; a chain
    of borderline matches is not), deciding when transitive merging is
    safe. Edges are oriented a<b so each triangle counts once via two
    equi-joins (e1:a→b, e2:b→c, closure a→c) — the standard
    m^{3/2}-bounded shape (at scale, orient by DEGREE instead of id so
    high-degree vertices never fan both joins). The oracle runs the same
    joins over the brute-force pair set, so the count is hash-exact."""
    from ..operators.dedup import near_dedup_minhash

    pairs = near_dedup_minhash(
        _injected_docs(spark, sf_dir), threshold=0.6, bucket_cap=5000
    ).select("id_a", "id_b")
    e1 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = pairs.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    e3 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return tri.agg(F.count(F.lit(1)).alias("n_triangles")).crossJoin(
        pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    )


@query(
    "label_centroid_audit",
    oracle="""
WITH x AS (
  SELECT label, u.i AS pos, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
),
cent AS (
  SELECT label, pos,
         CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS c
  FROM x GROUP BY label, pos
),
carr AS (
  SELECT label, array_agg(c ORDER BY pos) AS cl FROM cent GROUP BY label
),
d AS (
  SELECT e.vec_id, e.label,
         sqrt(list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(generate_series(1, len(e.embedding)),
               i -> (CAST(e.embedding[i] AS DOUBLE) - ca.cl[i])
                    * (CAST(e.embedding[i] AS DOUBLE) - ca.cl[i]))),
           (a, b) -> a + b)) AS dist
  FROM embeddings e JOIN carr ca USING (label)
)
SELECT label, count(*) AS n,
       min(dist) AS min_dist, max(dist) AS max_dist,
       CAST(SUM(CAST(dist AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mean_dist
FROM d GROUP BY label
""",
)
def label_centroid_audit(spark, sf_dir):
    """X3 cluster-quality audit: per-label centroid (exact decimal-routed
    per-DIMENSION means via posexplode — the columnar vector-mean
    primitive) and every member's Euclidean distance to its centroid —
    the compactness report that decides whether a labeled embedding
    space is clean enough to train on. Distances fold sequentially over
    the dimension order (identical left fold both engines); the
    per-label distance means route through DECIMAL so the whole surface
    is engine-exact. Centroids are 10×64 doubles — broadcast back onto
    one corpus scan."""
    from ..functions.vectors import to_double

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    )
    x = e.select("label", F.posexplode(F.col("v")).alias("pos", "x"))
    cent = x.groupBy("label", "pos").agg(
        (F.sum(F.col("x").cast("decimal(28,6)")).cast("double") / F.count(F.lit(1))).alias(
            "c"
        )
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cl")
    )
    diff2 = F.zip_with(F.col("v"), F.col("cl"), lambda a, b: (a - b) * (a - b))
    dist = F.sqrt(F.aggregate(diff2, F.lit(0.0), lambda acc, y: acc + y))
    d = e.join(F.broadcast(carr), "label").select("label", dist.alias("dist"))
    return d.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("dist").alias("min_dist"),
        F.max("dist").alias("max_dist"),
        (F.sum(F.col("dist").cast("decimal(28,6)")).cast("double") / F.count(F.lit(1))).alias(
            "mean_dist"
        ),
    )


@query(
    "embedding_outliers_knn",
    oracle=f"""
WITH c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id % 3 = 0
),
scored AS (
  SELECT a.vec_id, b.vec_id AS nb, {_cosine_sql('a.v', 'b.v')} AS cos
  FROM c a JOIN c b ON a.vec_id <> b.vec_id
),
kth AS (
  SELECT vec_id, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nb) AS rk
  FROM scored
)
SELECT vec_id, cos AS knn5_cos
FROM kth WHERE rk = 5
ORDER BY knn5_cos ASC, vec_id
LIMIT 10
""",
)
def embedding_outliers_knn(spark, sf_dir):
    """X3 density-based outlier detection: each vector's similarity to
    its 5th-nearest neighbor — a low value means the point sits in a
    sparse region (LOF-lite), the far-from-manifold examples a curation
    pass quarantines before training.

    The PRIMARY plan is the ANN-candidate path —
    :func:`operators.similarity.knn_density_ivf`: kth-NN within IVF
    candidate lists (list-id equi-join pair generation, never all-pairs)
    plus a bounded exact rescan of the ``rerank`` most-isolated
    estimates. The brute-force kth-NN over the same (bounded, oracle-
    tier) subset runs as the exact twin: the two top-10 isolated sets
    are compared in-query and a disagreement beyond the recall bar fails
    LOUDLY (the _ann_verified_exact device), and the exact surface is
    what the SQL oracle re-derives. Both frames are cached — each DAG
    executes once. At corpus scale the twin drops and the IVF path is
    the only plan (plan-gated cartesian-free in tests/test_plans.py)."""
    from ..operators.similarity import knn_density_ivf, topk_cosine_bruteforce

    base = load(spark, sf_dir, "embeddings").where(F.col("vec_id") % 3 == 0).select(
        "vec_id", "embedding"
    )
    scale10 = (
        knn_density_ivf(base, k=5, n_lists=16, n_probe=8, rerank=50)
        .orderBy(F.col("knn_cos").asc(), "vec_id")
        .limit(10)
        .cache()
    )
    import os as _os

    if _os.environ.get("PQRS_BENCH_APPROX_ONLY"):
        # bench-only attribution mode (see _ann_verified_exact): the IVF
        # scale path alone, no exact twin
        return scale10.select("vec_id", F.col("knn_cos").alias("knn5_cos"))

    # exact twin via the streamed scoring kernel (same fold order, same
    # window and tie-break as the old broadcast-crossJoin plan → scores
    # and the selected rows are bit-identical; the crossJoin shipped
    # BOTH vectors per pair through Arrow — |C|²·dim doubles — where the
    # kernel streams the corpus once against the collected query matrix)
    kth = topk_cosine_bruteforce(
        base, base, k=5, corpus_min_width=_bf_width(base)
    ).where(F.col("rank") == 5)
    exact10 = (
        kth.select(F.col("query_id").alias("vec_id"), F.col("cos").alias("knn5_cos"))
        .orderBy(F.col("knn5_cos").asc(), "vec_id")
        .limit(10)
        .cache()
    )
    total = exact10.count()
    hits = exact10.join(scale10, "vec_id", "left_semi").count()
    if total and hits < 0.7 * total:
        raise AssertionError(
            f"embedding_outliers_knn: IVF-candidate isolation set recalls "
            f"only {hits}/{total} of the exact top-10 (bar 0.7)"
        )
    return exact10


@query(
    "udtf_word_runs",
    oracle="""
WITH w AS (
  SELECT doc_id, lang, unnest(ws) AS word, generate_subscripts(ws, 1) AS i
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)
),
runs AS (
  SELECT doc_id, lang, word, count(*) AS run_len
  FROM (SELECT doc_id, lang, word, i,
               i - row_number() OVER (PARTITION BY doc_id, word ORDER BY i) AS grp
        FROM w)
  GROUP BY doc_id, lang, word, grp
  HAVING count(*) >= 2
)
SELECT lang, word, count(*) AS n_runs,
       CAST(SUM(run_len) AS BIGINT) AS run_words,
       CAST(MAX(run_len) AS INT) AS max_run
FROM runs GROUP BY lang, word
""",
)
def udtf_word_runs(spark, sf_dir):
    """X4 via the Spark-4 Python UDTF surface (functions/udtfs.py): each
    document streams through a LATERAL generator that emits its maximal
    adjacent-repeated-word runs (the stutter/copy-paste artifact quality
    filters flag), rolled up per (lang, word). The run detection is
    inherently sequential per document — exactly the shape a UDTF owns:
    Arrow-batched executor-side Python, no driver involvement, output
    bounded by |langs|×|vocab| regardless of corpus size. The oracle
    reproduces the runs relationally (gaps-and-islands: ordinal-unnest,
    per-word island ids via row_number, HAVING len ≥ 2) — two
    independent formulations, one hash."""
    from ..functions.udtfs import word_runs

    spark.udtf.register("pqrs_word_runs", word_runs)
    load(spark, sf_dir, "documents").select("doc_id", "lang", "text").createOrReplaceTempView(
        "pqrs_docs_udtf_v"
    )
    return spark.sql(
        """
SELECT d.lang, r.word, count(*) AS n_runs,
       CAST(SUM(r.run_len) AS BIGINT) AS run_words,
       MAX(r.run_len) AS max_run
FROM pqrs_docs_udtf_v d, LATERAL pqrs_word_runs(d.text) r
GROUP BY d.lang, r.word
"""
    )


@query("dedup_clusters_star", oracle=_CLUSTER_REPS_ORACLE)
def dedup_clusters_star(spark, sf_dir):
    """X2 clustering under the bench headline's name: the same near-dup
    pair graph and the same large-star/small-star rounds
    (operators/dedup.py::connected_components, Kiveris et al.) as
    `dedup_cluster_reps`, kept registered because the 75-query headline
    set lists it. Shares the transitive-closure oracle with
    `dedup_cluster_reps`."""
    from ..operators.dedup import connected_components, near_dedup_minhash

    pairs = near_dedup_minhash(
        _injected_docs(spark, sf_dir), threshold=0.6, bucket_cap=5000
    ).select("id_a", "id_b")
    cc = connected_components(pairs)
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"), F.sum("id").alias("sum_ids")
    )


@query(
    "corpus_overlap_minhash",
    oracle=f"""
WITH a AS (
  SELECT DISTINCT unnest(sh) AS s FROM (
    SELECT {_shingle_set_sql()} AS sh FROM documents WHERE doc_id % 2 = 0)
),
b AS (
  SELECT DISTINCT unnest(sh) AS s FROM (
    SELECT {_shingle_set_sql()} AS sh FROM documents WHERE doc_id % 3 = 0)
),
u AS (
  SELECT COALESCE(a.s, b.s) AS s,
         CASE WHEN a.s IS NULL THEN 0 ELSE 1 END AS ia,
         CASE WHEN b.s IS NULL THEN 0 ELSE 1 END AS ib
  FROM a FULL OUTER JOIN b ON a.s = b.s
)
SELECT CAST(SUM(ia) AS BIGINT) AS n_shingles_a,
       CAST(SUM(ib) AS BIGINT) AS n_shingles_b,
       CAST(SUM(ia * ib) AS BIGINT) AS n_common,
       CAST(SUM(ia * ib) AS DOUBLE) /
         CAST(SUM(ia) + SUM(ib) - SUM(ia * ib) AS DOUBLE) AS jaccard
FROM u
""",
)
def corpus_overlap_minhash(spark, sf_dir):
    """X2/X14: corpus-level overlap between two snapshots ("how much of
    crawl B is already in crawl A") as shingle-set Jaccard — the
    promote-or-drop signal for a recrawl. The emitted surface is EXACT
    (distinct-shingle counts folded in one pass: union with membership
    flags → per-shingle max → one aggregate; single division at the
    end). A 128-permutation corpus-level MinHash sketch — the O(1)-size
    structure two clusters would actually exchange instead of shipping
    shingle sets — is computed alongside and its estimate asserted
    in-query against the exact answer (|est − J| ≤ 0.15, the 3σ bound
    for K=128), so the gate catches sketch drift without putting
    engine-specific hash values in the oracle surface.

    Scale shape: shingles md5-narrowed before the distinct (16-byte
    shuffle keys); the sketch is K·|distinct shingles| narrow rows into
    a 128-group aggregate — both corpora one pass each, no pairwise
    anything."""
    from ..functions.text import shingles, tokens

    d = load(spark, sf_dir, "documents")

    def sh(pred):
        base = d.where(pred).select(tokens("text").alias("__t"))
        return base.select(
            F.explode(shingles(F.col("__t"))).alias("s")
        ).distinct()

    sa = sh(F.col("doc_id") % 2 == 0).withColumn("ia", F.lit(1)).withColumn("ib", F.lit(0))
    sb = sh(F.col("doc_id") % 3 == 0).withColumn("ia", F.lit(0)).withColumn("ib", F.lit(1))
    g = (
        sa.unionByName(sb)
        .groupBy("s")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
        .cache()
    )
    K = 128
    seeds = F.explode(F.sequence(F.lit(0), F.lit(K - 1))).alias("seed")
    mins = (
        g.select("s", "ia", "ib", seeds)
        .groupBy("seed")
        .agg(
            F.min(F.when(F.col("ia") == 1, F.xxhash64("s", "seed"))).alias("ma"),
            F.min(F.when(F.col("ib") == 1, F.xxhash64("s", "seed"))).alias("mb"),
        )
        .agg(F.sum((F.col("ma") == F.col("mb")).cast("int")).alias("m"))
    )
    est = mins.collect()[0]["m"] / K
    out = g.agg(
        F.sum("ia").alias("n_shingles_a"),
        F.sum("ib").alias("n_shingles_b"),
        F.sum(F.col("ia") * F.col("ib")).alias("n_common"),
        (
            F.sum(F.col("ia") * F.col("ib")).cast("double")
            / (F.sum("ia") + F.sum("ib") - F.sum(F.col("ia") * F.col("ib"))).cast("double")
        ).alias("jaccard"),
    )
    exact = out.collect()[0]["jaccard"]
    if abs(est - exact) > 0.15:
        raise AssertionError(
            f"corpus_overlap_minhash: sketch estimate {est:.3f} drifted from exact {exact:.3f}"
        )
    return out


def _lsh_planes():
    from ..operators.similarity import default_planes

    return default_planes(64, 8)


def _lsh_bucket_sql() -> str:
    """The 8 seeded hyperplanes as explicit literals, dot product written
    as an explicit left-associative chain — the fold order Spark's Column
    arithmetic (below) and SQL's left-assoc ``+`` share, so the doubles
    (and their signs) are bitwise identical and the bucket ids cannot
    diverge on a borderline vector."""
    dots = []
    for p in _lsh_planes():
        sql = " + ".join(
            f"(CAST(embedding[{i + 1}] AS DOUBLE) * {v!r})" for i, v in enumerate(p)
        )
        dots.append(f"({sql})")
    return " + ".join(
        f"(CASE WHEN {d} >= 0 THEN {1 << i} ELSE 0 END)" for i, d in enumerate(dots)
    )


def _lsh_bucket_col():
    """Column twin of _lsh_bucket_sql (built lazily — Columns need an
    active SparkContext, SQL strings don't)."""
    bucket = None
    for i, p in enumerate(_lsh_planes()):
        c = None
        for j, v in enumerate(p):
            term = F.element_at("embedding", j + 1).cast("double") * F.lit(v)
            c = term if c is None else c + term
        b = F.when(c >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = b if bucket is None else bucket + b
    return bucket


@query(
    "diversity_sample_lsh",
    oracle=f"""
WITH b AS (
  SELECT vec_id, ({_lsh_bucket_sql()}) AS bucket FROM embeddings
),
r AS (
  SELECT vec_id, bucket, row_number() OVER (
    PARTITION BY bucket ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM b
)
SELECT bucket, vec_id FROM r WHERE rn <= 2
""",
)
def diversity_sample_lsh(spark, sf_dir):
    """X3/X7: embedding-space DIVERSITY sampling — the cheap stand-in for
    k-center selection when curating "cover the space, don't oversample
    the dense blob": 8 fixed random hyperplanes carve the space into 256
    sign buckets, and an exact-2-per-bucket hash-ordered pick keeps the
    sample spread across regions however skewed the density. Everything
    is deterministic: the planes are seeded literals baked into BOTH
    engines, the dot products fold in the same left-associative order
    (bitwise-identical doubles, identical signs), and the per-bucket
    pick is md5-ordered — so the sample is stable across engines,
    reruns, and corpus growth within a bucket's unchanged head.

    Scale shape: bucketing is one codegen'd projection (no shuffle, no
    model); the exact-k pick is a WindowGroupLimit per bucket — the
    per-group top-k pattern that never sorts the corpus globally."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    b = e.select("vec_id", _lsh_bucket_col().alias("bucket"))
    w = Window.partitionBy("bucket").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        b.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 2)
        .select("bucket", "vec_id")
    )


@query(
    "multimodal_frame_sample",
    oracle="""
WITH fr AS (
  SELECT user_id, event_id, ts, row_number() OVER (
    PARTITION BY user_id ORDER BY ts, event_id) AS fn
  FROM events
)
SELECT user_id, count(*) AS n_frames,
       CAST(SUM(event_id) AS BIGINT) AS sum_frame_ids
FROM fr WHERE (fn - 1) % 10 = 0
GROUP BY user_id
""",
)
def multimodal_frame_sample(spark, sf_dir):
    """X5: uniform-stride frame subsampling
    (operators/multimodal.py::frame_sample_ordered) — every 10th frame
    of each stream in presentation order (events stand in as frames:
    user_id = stream, ts+event_id = total presentation order). The
    per-stream surface (count + selected-id sum) pins exactly WHICH
    frames were kept, not just how many — an off-by-one stride or an
    unstable tie-break shifts the selection and breaks the hash.

    Scale shape: one window per stream key (single shuffle+sort), then
    a map-side-combined aggregate; payload columns never enter the
    shuffle in a real pipeline (sample ids first, semi-join payloads
    after)."""
    from ..operators.multimodal import frame_sample_ordered

    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    kept = frame_sample_ordered(
        ev, 10, ["user_id"], "ts", tiebreak_cols=["event_id"]
    )
    return kept.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("event_id").alias("sum_frame_ids"),
    )


_BEST_OF_CLUSTER_ORACLE = f"""
WITH RECURSIVE corpus AS ({_INJECTED_SQL}),
{_neardup_pairs_cte(0.6)},
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
closure AS (
  SELECT src, dst FROM reach
  UNION SELECT DISTINCT src, src FROM edges
),
comp AS (SELECT src AS id, min(dst) AS component FROM closure GROUP BY src),
members AS (
  SELECT c.component, d.doc_id, {_QUALITY_SQL} AS q
  FROM comp c JOIN corpus d ON c.id = d.doc_id
),
ranked AS (
  SELECT component, doc_id,
         count(*) OVER (PARTITION BY component) AS cluster_size,
         row_number() OVER (
           PARTITION BY component ORDER BY q DESC, doc_id ASC) AS rn
  FROM members
)
SELECT component, doc_id AS keep_id, cluster_size FROM ranked WHERE rn = 1
"""


@query("dedup_best_of_cluster", oracle=_BEST_OF_CLUSTER_ORACLE)
def dedup_best_of_cluster(spark, sf_dir):
    """X2/X12 quality-aware cluster resolution: near-dup pairs →
    connected components → keep each cluster's HIGHEST-QUALITY member
    (deterministic doc_id tie-break), not its min id. This is the policy
    production dedup actually wants — when a boilerplate-stuffed scrape
    and a clean original collide, min-id keeps whichever crawled first;
    argmax-quality keeps the better training document. One quality pass
    over cluster members only (never the full corpus), one
    WindowGroupLimit-shaped pick per component.

    The quality heuristic is the shared X4 score (functions/text.py::
    quality_score) whose double arithmetic is bit-identical to the
    oracle's ``_QUALITY_SQL`` fold, so the argmax — including its
    tie-break — is engine-stable. Scale: components and members shuffle
    on component id (clusters are near-dup-sized, no skew beyond the
    salted pair generation already upstream); the window touches only
    clustered docs, a vanishing fraction of a real corpus. Clusters come
    from operators/dedup.py::connected_components: O(log n) star rounds,
    so chain-shaped duplicate graphs stay cheap."""
    from pyspark.sql import Window

    from ..operators.dedup import connected_components, near_dedup_minhash

    corpus = _injected_docs(spark, sf_dir)
    pairs = near_dedup_minhash(corpus, threshold=0.6, bucket_cap=5000).select(
        "id_a", "id_b"
    )
    cc = connected_components(pairs)
    members = cc.join(corpus, cc["id"] == corpus["doc_id"]).select(
        "component", "doc_id", quality_score("text").alias("q")
    )
    w = Window.partitionBy("component").orderBy(
        F.col("q").desc(), F.col("doc_id").asc()
    )
    return (
        members.withColumn(
            "cluster_size", F.count(F.lit(1)).over(Window.partitionBy("component"))
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("component", F.col("doc_id").alias("keep_id"), "cluster_size")
    )
