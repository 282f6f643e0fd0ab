"""Deduplication operators for the training-data pipeline tier (SURVEY
§2.4 X1/X2) — exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
cosine. Every operator is a DataFrame composition designed for the 100 TB
shape:

- candidate generation is always *bucketed* (band hash / bit chunk / LSH
  bucket equi-joins) so the only shuffles are hash-partitioned joins on
  bucket keys — never an O(n²) cross join;
- verification (exact Jaccard / hamming / cosine) runs only on candidate
  pairs;
- "keep" selection is a plain min() per group — no windows over the full
  table.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import shingles, tokens
from ..functions.vectors import hyperplane_bits


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """X1: exact dedup — keep the smallest id per identical text.

    Grouping on ``md5(text)`` instead of the raw text keeps shuffle rows
    narrow (16 bytes vs document bodies); the representative id is a plain
    min aggregate (partial + final, no window). NULL-text rows are
    excluded up front — md5(NULL) is NULL, so a crawl's failed
    extractions would otherwise collapse into one giant 'duplicate'
    group and all but one be reported as copies; missing text is a
    quality-filter concern, not a duplication fact (same guard as
    minhash/simhash signatures)."""
    return (
        df.where(F.col(text_col).isNotNull())
        .groupBy(F.md5(F.col(text_col)).alias("__h"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("__h")
    )


def _shingle_base_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, __bases) — each nonempty document's DISTINCT shingle base
    hashes as ``array<long>``: per-token xxhash64, then xxhash64 over each
    ``shingle_n``-token hash window (docs shorter than ``shingle_n``
    tokens collapse to one whole-text base, mirroring :func:`shingles`'
    short-doc branch). The long-array form is the shared currency of the
    signature path (explode → min-agg) and the fingerprint collapse
    (sort → hash) — no shingle STRINGS are ever materialized, which is
    what keeps both passes cheap on long documents.

    Tokens hash to longs ONCE in a materialized projection: ``element_at``
    over a non-materialized ``split`` re-evaluates the split per element
    (Catalyst does not CSE inside lambda bodies), turning shingling
    O(doc_len²). A base-hash collision merges two shingles — the same
    2⁻⁶⁴-per-pair posture every downstream hash consumer here already
    accepts."""
    # regexp, not trim(): trim strips only ASCII spaces, and a corpus of
    # tab/newline-only docs would still share one degenerate signature
    nonempty = df.where(F.length(F.regexp_replace(F.col(text_col), r"\s", "")) > 0)
    hashed = nonempty.select(
        F.col(id_col),
        F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t)).alias("__th"),
        tokens(F.col(text_col)).alias("__tk"),
    )
    n = F.size(F.col("__th"))
    bases = F.when(
        n < shingle_n, F.array(F.xxhash64(F.array_join(F.col("__tk"), " ")))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - (shingle_n - 1)),
            lambda i: F.xxhash64(
                *[F.element_at(F.col("__th"), i + j) for j in range(shingle_n)]
            ),
        )
    )
    return hashed.select(F.col(id_col), F.array_distinct(bases).alias("__bases"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document: shingle → base=xxhash64(shingle) →
    xxhash64(base, seed_i) → min per seed.

    Shape: tokens are hashed to longs ONCE in a materialized projection,
    each shingle base is ``xxhash64`` of ``shingle_n`` consecutive token
    hashes (never a concatenated string), and the ``num_hashes`` family
    members derive from the base long + seed — still a uniform hash
    family, with no string re-materialization per shingle. The
    materialization step matters: ``element_at(split(text), i)``-style
    expressions re-evaluate the ``split`` on every access (Catalyst does
    not CSE inside lambda bodies), turning shingling O(doc_len²) — hashing
    a pre-projected array column is O(doc_len). The min aggregate combines
    map-side, so the shuffle carries one row per (doc, input-partition) —
    not one per shingle.

    Note: documents with null / empty / whitespace-only text are filtered
    out up front and get no signature row. Without the filter every empty
    doc would carry the SAME degenerate signature (tokens [''] → one
    identical base hash) and a corpus with k empty docs — common in real
    crawls — would band-match into a k²/2 candidate clique, all
    "verifying" at jaccard 1.0. Empty docs belong to exact dedup, not
    near-dedup; left-join back to the corpus ids if one-row-per-doc
    matters to a direct caller."""
    return _signatures_from_base_sets(
        _shingle_base_sets(df, text_col, id_col, shingle_n), id_col, num_hashes
    )


def _signatures_from_base_sets(
    base_sets: DataFrame, id_col: str = "doc_id", num_hashes: int = 16
) -> DataFrame:
    """MinHash signatures from a precomputed (id, __bases) frame — lets
    callers that already hold base sets (the fingerprint-collapse path)
    skip a second tokenize/shingle scan. Hash family unchanged:
    ``min(xxhash64(base, seed_i))`` — but the min folds PER ROW with
    ``array_min(transform(...))`` instead of explode → groupBy: the
    signature stage is a pure scan projection with ZERO shuffle (the old
    explode shape pushed |corpus|×|shingles| rows through a hash
    aggregate — the dominant exchange at sf1 and a pointless one, since
    a per-document min needs no cross-partition combine)."""
    sig = F.array(
        *[
            F.array_min(
                F.transform(F.col("__bases"), lambda b: F.xxhash64(b, F.lit(i)))
            )
            for i in range(num_hashes)
        ]
    )
    return base_sets.select(F.col(id_col), sig.alias("signature"))


def _band_buckets(sig_df: DataFrame, id_col: str, bands: int, rows_per_band: int) -> DataFrame:
    """Explode a signature into (band_id, band_hash) bucket keys."""
    slices = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)).alias(
                    "bucket"
                ),
            )
            for b in range(bands)
        ]
    )
    return sig_df.select(id_col, F.explode(slices).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def collect_oversized(bb: DataFrame, keys: list[str], cap: int) -> DataFrame | None:
    """Bucket keys holding more than ``cap`` rows, materialized to the
    driver ONCE and re-emitted as a local relation (with the ``__n``
    count column) — or ``None`` when no bucket is oversized.

    The set is bounded by rows/cap and in practice a handful of viral
    buckets (broadcasting it already implies driver-size-bounded).
    Lazily embedding the aggregate in a join would re-run its shuffle
    inside each broadcast side — measured 2-3x on the minhash headline —
    and the common no-viral-bucket case skips the capping joins entirely.
    Shared by the salting (dedup) and truncation (similarity) remedies."""
    over = (
        bb.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > cap)
    )
    over_rows = over.collect()
    if not over_rows:
        return None
    return bb.sparkSession.createDataFrame(over_rows, schema=over.schema)


def _salt_oversized(
    bb: DataFrame, keys: list[str], id_col: str, cap: int | None
) -> tuple[DataFrame, list[str]]:
    """Split LSH buckets larger than ``cap`` rows into ~cap-sized salted
    sub-buckets, so a viral duplicate cluster (billions of identical docs
    landing in one (band, bucket)) self-joins in O(n·cap) pairs instead of
    O(n²). Returns the salted frame and the widened join keys.

    Shape: oversized buckets are found with a map-side-combined count
    filtered to ``> cap`` — that set is tiny by definition (few viral
    buckets), so the join-back broadcasts and the full bucket frame is
    never re-shuffled for the cap itself. Salt = xxhash64(id) mod
    ceil(n/cap): deterministic, and pairs within one salt group are still
    emitted, so only cross-salt recall inside already-degenerate buckets
    is lost — which the exact-verify stage bounds anyway. ``cap=None``
    disables (bit-identical to the uncapped plan)."""
    if cap is None:
        return bb, keys
    over_df = collect_oversized(bb, keys, cap)
    if over_df is None:
        return bb, keys
    n_salts = F.ceil(F.col("__n") / F.lit(float(cap))).cast("int")
    salted = bb.join(F.broadcast(over_df), keys, "left").withColumn(
        "__salt",
        F.when(F.col("__n").isNull(), F.lit(0)).otherwise(
            F.pmod(F.xxhash64(F.col(id_col)), n_salts).cast("int")
        ),
    ).drop("__n")
    return salted, keys + ["__salt"]


def candidate_pairs_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    bucket_cap: int | None = None,
    _handles: list | None = None,
) -> DataFrame:
    """X2 candidate generation: banded MinHash LSH. Docs sharing any band
    bucket become a candidate pair. The join is an equi-join on
    (band, bucket) — shuffle-partitioned by bucket, never O(n²).
    ``bucket_cap`` salts buckets above that size (see
    :func:`_salt_oversized`) so one pathological bucket can't go
    quadratic.

    Caching contract: the signature DataFrame is persisted (the banded
    self-join reads it twice and Catalyst plans no ReusedExchange across
    the differently-aliased sides; signatures are tiny — ``num_hashes``
    longs per doc — and MEMORY_AND_DISK spills safely at scale). Callers
    that pass ``_handles`` receive the persisted frames and own the
    unpersist; otherwise unpersist via ``spark.catalog.clearCache()`` or
    let :func:`near_dedup_minhash` manage the lifecycle."""
    return _candidates_from_base_sets(
        _shingle_base_sets(df, text_col, id_col, shingle_n),
        id_col,
        num_hashes,
        bands,
        bucket_cap,
        _handles=_handles,
    )


def _candidates_from_base_sets(
    base_sets: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    bucket_cap: int | None,
    _handles: list | None = None,
) -> DataFrame:
    rows_per_band = num_hashes // bands
    sig = _signatures_from_base_sets(base_sets, id_col, num_hashes)
    from pyspark import StorageLevel

    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    if _handles is not None:
        _handles.append(sig)
    bb = _band_buckets(sig, id_col, bands, rows_per_band)
    bb, keys = _salt_oversized(bb, ["band", "bucket"], id_col, bucket_cap)
    a = bb.select(F.col(id_col).alias("id_a"), *keys)
    b = bb.select(F.col(id_col).alias("id_b"), *keys)
    return (
        a.join(b, keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs. Shingle sets are
    attached via two hash joins on the id; the set math is JVM array ops."""
    # NOT persisted: shingle sets are corpus-sized (orders of magnitude
    # bigger than the signatures) — caching them trades a cheap recompute
    # (one tokenize pass per side) for heap pressure that GC-thrashes at
    # scale. The joins stream them instead. Tokens are materialized in
    # their own projection first so the shingle window reads an array
    # column instead of re-evaluating split() per element (see
    # minhash_signatures).
    sets = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__tk")).select(
        F.col(id_col), F.array_distinct(shingles(F.col("__tk"), shingle_n)).alias("sh")
    )
    a = sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
    )


def overlap_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Inverted-index candidate generation for EXACT any-overlap pair
    queries: ``jaccard > 0`` ⟺ the pair shares at least one shingle, so
    exploding each doc's distinct shingle set and self-equi-joining on
    the shingle yields precisely the pairs a cross join + post-filter
    would — with work proportional to Σ(posting-list²), i.e. the size of
    the ANSWER, never the O(n²) cross product of the corpus. Shingles
    are xxhash64-hashed so the shuffle key is one long, not a token
    triple; a hash collision can only ADD a candidate, and callers
    verify with the exact jaccard (> 0 filter) which removes it."""
    sets = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__tk")).select(
        F.col(id_col),
        F.array_distinct(shingles(F.col("__tk"), shingle_n)).alias("sh"),
    )
    inv = sets.select(
        F.col(id_col), F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("__s")
    )
    a = inv.select(F.col(id_col).alias("id_a"), "__s")
    b = inv.select(F.col(id_col).alias("id_b"), "__s")
    return (
        a.join(b, "__s")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-set CONTAINMENT of doc b in doc a —
    |sh(b) ∩ sh(a)| / |sh(b)| — for candidate pairs. The asymmetric
    companion to :func:`jaccard_pairs`: a short document quoted whole
    inside a long one has containment ≈ 1 while its Jaccard is tiny, so
    symmetric near-dedup never sees it. Same streaming two-join shape as
    the Jaccard verify; at discovery scale pair candidates come from
    prefix/sample fingerprints rather than plain MinHash (whose collision
    rate tracks Jaccard, not containment)."""
    sets = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__tk")).select(
        F.col(id_col), F.array_distinct(shingles(F.col("__tk"), shingle_n)).alias("sh")
    )
    a = sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (inter / F.size("sh_b").cast("double")).alias("containment"))
    )


def shingle_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, __fp) — a 128-bit fingerprint of each document's DISTINCT
    shingle set: ``struct(xxhash64(sorted_bases), xxhash64(seed,
    sorted_bases))``, two independently-seeded 64-bit hashes over the
    sorted :func:`_shingle_base_sets` array (≈2⁻¹²⁸ pairwise collision —
    the same negligible-risk posture as :func:`exact_dedup`'s md5
    grouping). All-long codegen arithmetic: no shingle strings, no
    explode, no shuffle.

    Two documents with equal fingerprints have identical distinct-shingle
    sets, hence pairwise Jaccard exactly 1.0, identical Jaccard against
    every third document, and — because MinHash signatures are a pure
    function of the same base-hash set — identical LSH behavior. That
    makes the fingerprint a lossless collapse key for near-dedup: one
    representative per fingerprint stands in for the whole group through
    candidate generation AND verification. The string-shingle↔base-hash
    correspondence is exact because ``concat_ws``-joined token shingles
    parse back to their token windows uniquely (tokens cannot contain the
    separator), so equal base sets ⇔ equal shingle-string sets up to the
    per-window hash collision already accepted everywhere downstream.

    Null / empty / whitespace-only docs are dropped (same guard as
    :func:`minhash_signatures`); short docs (< shingle_n tokens) collapse
    to a single whole-text base, mirroring both the signature path's
    short-doc branch and the verify path's :func:`shingles` semantics, so
    the collapse key agrees with both."""
    bases = _shingle_base_sets(df, text_col, id_col, shingle_n)
    return bases.select(F.col(id_col), _fp_col().alias("__fp"))


def _fp_col() -> "F.Column":
    """The 128-bit shingle-set fingerprint expression over a ``__bases``
    column (see :func:`shingle_fingerprints`)."""
    sorted_b = F.array_sort(F.col("__bases"))
    return F.struct(
        F.xxhash64(sorted_b).alias("h1"),
        # distinct constant prefix ⇒ an independent member of the family
        F.xxhash64(F.lit(-7046029254386353131), sorted_b).alias("h2"),
    )


def _jaccard_from_bases(base_sets: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Exact set Jaccard for candidate pairs over the hashed shingle sets
    (``__bases`` long arrays): |A∩B| / (|A|+|B|−|A∩B|). Same values as the
    string-set :func:`jaccard_pairs` up to the per-window hash collision
    every consumer of the base hashes already accepts (≈2⁻⁴⁸ per pair),
    but the two attach joins shuffle 8-byte longs instead of shingle
    strings (~3× fewer exchange bytes) and the intersect compares longs —
    the verify stage is the candidate-volume cost center on dup-dense
    corpora, so this is where narrow rows matter. The union size is
    derived from the two set sizes (the inputs are distinct sets), so no
    union array is ever materialized."""
    a = base_sets.select(F.col(id_col).alias("id_a"), F.col("__bases").alias("__ba"))
    b = base_sets.select(F.col(id_col).alias("id_b"), F.col("__bases").alias("__bb"))
    inter = F.size(F.array_intersect("__ba", "__bb")).cast("double")
    union = F.size("__ba").cast("double") + F.size("__bb").cast("double") - inter
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
    )


def near_dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    bucket_cap: int | None = None,
    eager: bool = True,
    collapse: bool = True,
) -> DataFrame:
    """X2 end-to-end: LSH candidates → exact set-Jaccard verify → pairs ≥
    threshold. Returns (id_a, id_b, jaccard). The verify computes
    |A∩B|/|A∪B| over the hashed shingle sets (:func:`_jaccard_from_bases`
    — long arrays, not shingle strings), identical values up to the
    per-window hash collision the whole MinHash path already accepts.

    ``collapse=True`` (default) ADAPTIVELY pre-groups documents by their
    exact distinct-shingle-set fingerprint (:func:`shingle_fingerprints`)
    and runs signatures + LSH + the exact-Jaccard verify over ONE
    representative per group, then expands group pairs back to document
    pairs with plain equi-joins; a one-row statistics probe first checks
    the duplication ratio and falls back to the direct plan when ≥~80 %
    of fingerprints are unique (the collapse machinery would be pure
    overhead there). Zero recall loss: same shingle set ⇒
    same MinHash signature (so the representative hits exactly the band
    buckets every member would) and the SAME exact Jaccard against any
    other document (so one verification decides the whole group pair);
    intra-group pairs have Jaccard exactly 1.0 by construction. This is
    the dup-dense-corpus bound: a cluster of k identical documents costs
    one signature + one bucket row instead of k² candidate pairs — LSH
    work scales with DISTINCT content, and only the final pair expansion
    (the answer itself) scales with duplication. Same pre-join collapse
    idea as the reference's keyed upsert deduping before its join
    (reference core.py:119). ``collapse=False`` keeps the direct
    every-doc-through-LSH plan (bit-identical result set).

    ``eager=True`` (default) materializes the (small) verified pair set via
    ``localCheckpoint`` and unpersists the intermediate caches before
    returning — no executor-storage leak in long-lived sessions. Pass
    ``eager=False`` to keep the plan fully lazy (intermediates then stay
    cached until ``clearCache``)."""
    from pyspark import StorageLevel

    handles: list[DataFrame] = []
    # ONE tokenize/shingle scan of the corpus feeds everything downstream —
    # fingerprints, signatures, LSH, and the verify all read this cached
    # (id, bases) frame; the corpus parquet is never re-scanned.
    base_sets = _shingle_base_sets(df, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    handles.append(base_sets)
    if collapse:
        # adaptive: the collapse machinery (a bases-carrying group-by and
        # the pair-expansion joins) only pays for itself when fingerprint
        # groups are fat. One tiny aggregate over the cached base sets
        # decides — the same runtime-statistics spirit as AQE's join
        # re-planning. A mostly-distinct corpus (crawls after exact
        # dedup) skips straight to the direct plan and pays only this one
        # narrow count; it also forces base_sets to materialize, which
        # every later pass reuses.
        row = base_sets.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(_fp_col()).alias("d"),
        ).first()
        collapse = row["d"] <= 0.8 * row["n"]
    if collapse:
        members = base_sets.select(F.col(id_col), _fp_col().alias("__fp")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        handles.append(members)
        # one member's bases stand in for the group's (identical sets);
        # min_by keeps the carry deterministic and single-shuffle
        reps = (
            base_sets.select(F.col(id_col), F.col("__bases"), _fp_col().alias("__fp"))
            .groupBy("__fp")
            .agg(
                F.min(id_col).alias(id_col),
                F.min_by("__bases", F.col(id_col)).alias("__bases"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        handles.append(reps)
        lsh_sets = reps.select(F.col(id_col), F.col("__bases"))
    else:
        reps = members = None
        lsh_sets = base_sets
    cands = _candidates_from_base_sets(
        lsh_sets, id_col, num_hashes, bands, bucket_cap, _handles=handles
    )
    # verify-stage shingle sets are only needed for docs that survived
    # candidate generation — a small fraction of the corpus. Semi-join the
    # cached base sets down, so exact-Jaccard cost scales with the
    # candidate set, not the table. cands is read three times (two id
    # projections + the verify join) and is tiny — persist it.
    cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
    handles.append(cands)
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # no broadcast hint: candidate-id cardinality is corpus-dependent (a
    # dirty corpus can have many near-dup pairs) — AQE picks broadcast at
    # runtime when the side is actually small
    cand_sets = lsh_sets.join(cand_ids, id_col, "left_semi")
    out = _jaccard_from_bases(cand_sets, cands, id_col).where(F.col("jaccard") >= threshold)
    if collapse:
        # expand representative pairs back to member pairs. Each document
        # belongs to exactly one fingerprint group, so every unordered
        # document pair is emitted exactly once: cross-group pairs via the
        # verified (fp_a, fp_b) row (Jaccard copied — exact, the sets are
        # identical to their reps'), intra-group pairs via a fingerprint
        # self-join at Jaccard 1.0. Work here is proportional to the
        # OUTPUT pair count — pure codegen equi-joins, no LSH buckets.
        rfp = reps.select(F.col(id_col), F.col("__fp"))
        fp_pairs = (
            out.join(
                rfp.select(F.col(id_col).alias("id_a"), F.col("__fp").alias("__fp_a")), "id_a"
            )
            .join(rfp.select(F.col(id_col).alias("id_b"), F.col("__fp").alias("__fp_b")), "id_b")
            .select("__fp_a", "__fp_b", "jaccard")
        )
        ma = members.select(F.col("__fp").alias("__fp_a"), F.col(id_col).alias("__ma"))
        mb = members.select(F.col("__fp").alias("__fp_b"), F.col(id_col).alias("__mb"))
        cross = (
            fp_pairs.join(ma, "__fp_a")
            .join(mb, "__fp_b")
            .select(
                F.least("__ma", "__mb").alias("id_a"),
                F.greatest("__ma", "__mb").alias("id_b"),
                "jaccard",
            )
        )
        intra = (
            members.select("__fp", F.col(id_col).alias("id_a"))
            .join(members.select("__fp", F.col(id_col).alias("id_b")), "__fp")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
            .where(F.lit(1.0) >= F.lit(float(threshold)))
        )
        out = cross.unionByName(intra)
    if eager:
        out = out.localCheckpoint(eager=True)
        for h in handles:
            h.unpersist()
    return out


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document, entirely JVM-side: explode whitespace
    tokens → ``xxhash64(token)`` → 64 sign-sum aggregates
    ``sum(2*((h>>j)&1)-1)`` → pack the sign bits into one long.

    Scale shape: the only shuffle is the per-doc groupBy, and the 64 sums
    combine map-side, so the exchange carries one 64-long row per (doc,
    input-partition) — no Python workers, no per-token driver/executor
    loops, whole-stage codegen throughout. Token multiplicity counts, as
    in the classic Charikar construction. Returns (id, sig). Null / empty /
    whitespace-only docs are dropped up front — they would all share one
    degenerate signature and chunk-match into a k²/2 candidate clique
    (same guard as minhash_signatures)."""
    nonempty = df.where(F.length(F.regexp_replace(F.col(text_col), r"\s", "")) > 0)
    toks = nonempty.select(
        F.col(id_col),
        F.explode(tokens(F.col(text_col))).alias("__tok"),
    ).select(F.col(id_col), F.xxhash64(F.col("__tok")).alias("__h"))
    bit_sums = [
        F.sum(F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"__b{j}")
        for j in range(64)
    ]
    per_doc = toks.groupBy(id_col).agg(*bit_sums)
    packed = reduce(
        lambda acc, j: acc.bitwiseOR(
            F.when(F.col(f"__b{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
                F.lit(0).cast("long")
            )
        ),
        range(1, 64),
        F.when(F.col("__b0") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
    )
    return per_doc.select(F.col(id_col), packed.alias("sig"))


def near_dedup_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 6,
    bucket_cap: int | None = None,
) -> DataFrame:
    """X2 (SimHash flavor): near-dups = hamming(sig_a, sig_b) ≤ k.
    Candidates via the pigeonhole band trick — split the 64-bit signature
    into 4×16-bit chunks; any pair within hamming ≤ 3 shares at least one
    exact chunk, so candidate generation is 4 equi-joins on a 16-bit key
    (for larger k the verify still filters correctly; recall degrades
    gracefully). Verification is ``bit_count(a XOR b)``. ``bucket_cap``
    salts (chunk, ckey) groups above that size so a viral cluster of
    same-signature docs can't self-join quadratically (see
    :func:`_salt_oversized`)."""
    sigs = simhash_signatures(df, text_col, id_col)
    chunks = sigs.select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sig"), 16 * c).bitwiseAND(F.lit(0xFFFF)).alias("ckey"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select(id_col, "sig", F.col("cc.chunk").alias("chunk"), F.col("cc.ckey").alias("ckey"))
    chunks, keys = _salt_oversized(chunks, ["chunk", "ckey"], id_col, bucket_cap)
    a = chunks.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), *keys)
    b = chunks.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), *keys)
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
        .select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def near_dedup_embedding(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.99,
    planes: list[list[float]] | None = None,
    bucket_cap: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """X2 (embedding flavor): pairs with cosine ≥ threshold. Candidates
    via random-hyperplane bucket equality (near-identical vectors land in
    the same bucket with overwhelming probability); verify with exact
    double cosine. ``bucket_cap`` salts oversized hyperplane buckets (see
    :func:`_salt_oversized`)."""
    from ..functions.vectors import cosine, to_double
    from .similarity import default_planes

    # dim= lets callers skip the tiny-but-real select(size).first() probe
    # job; query layer reads it from the parquet footer driver-side
    planes = planes or default_planes(dim=dim or _vec_dim(df, vec_col), n_planes=16)
    # the bucket self-join and pair dedup carry ONLY ids (shuffling
    # vectors through candidate generation multiplies exchange bytes by
    # the embedding dim); vectors attach once per candidate pair via two
    # hash joins and vectors.cosine scores the pair
    with_b = df.select(
        F.col(id_col), hyperplane_bits(F.col(vec_col), planes).alias("bucket")
    )
    with_b, keys = _salt_oversized(with_b, ["bucket"], id_col, bucket_cap)
    a = with_b.select(F.col(id_col).alias("id_a"), *keys)
    b = with_b.select(F.col(id_col).alias("id_b"), *keys)
    pairs = (
        a.join(b, keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vec = df.select(F.col(id_col), to_double(F.col(vec_col)).alias("__vd"))
    va = vec.select(F.col(id_col).alias("id_a"), F.col("__vd").alias("va"))
    vb = vec.select(F.col(id_col).alias("id_b"), F.col("__vd").alias("vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the step
    that turns pairwise matches into dedup clusters (keep one
    representative per component, drop the rest). Returns (id,
    component), component = the minimum id reachable from ``id``.

    Alternating large-star/small-star edge rewrites (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014): large-star
    points every vertex's larger neighbors at its minimum neighbor,
    small-star re-hangs its smaller neighbors there. The edge set
    converges to stars rooted at each component's minimum id in O(log n)
    rounds, so a long chain (crawl mirrors of mirrors) costs a few rounds
    more than a near-dup clique, not one round per hop. Each star step is
    ONE shuffle of the edge set: a min-over-neighborhood window on the
    vertex id, which every row carries, instead of a groupBy-min plus a
    join back.

    Each round's edges are cut with a lazy localCheckpoint, materialized
    in the same job as the convergence probe: a constant-size fingerprint
    aggregate (count + 64-bit pair-hash sum, plus decimal endpoint sums
    for numeric ids; decimal casts of string ids would throw under ANSI).
    An unchanged fingerprint is the fixpoint. Past ``max_iter`` rounds it
    raises ``RuntimeError`` rather than return half-merged components.

    Only one ``distinct`` runs per round, at the end of small-star. The
    input edges and large-star's output keep their duplicates: a window
    minimum does not change when a row repeats, and small-star's
    ``distinct`` folds them before the next checkpoint. So the first
    round's fingerprint differs from the input's when the input holds
    duplicate pairs, which costs at most one extra round.

    Labeling is one aggregate: the converged edges (leaf → root) plus a
    (v → v) row for every non-null endpoint of ``pairs``, then the
    minimum per id. So every non-null id that appears in a pair is
    returned exactly once; a vertex whose only pairs are self-loops, or
    whose partners are all NULL, is its own component; a NULL id adds no
    edge and is never returned. Vertices in no pair are not returned
    (singletons need no dedup decision).
    """
    from pyspark.sql import Window

    edges = (
        pairs.where(F.col(id_a) != F.col(id_b))  # NULL ids and self-loops drop here
        .select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .localCheckpoint(eager=False)  # materialized by the first fingerprint
    )

    numeric_ids = isinstance(
        pairs.schema[id_a].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DecimalType),
    )

    def _fingerprint(e: DataFrame) -> tuple:
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ]
        if numeric_ids:
            aggs += [
                F.sum(F.col("a").cast("decimal(38,0)")).alias("sa"),
                F.sum(F.col("b").cast("decimal(38,0)")).alias("sb"),
            ]
        return tuple(e.agg(*aggs).first())

    _w_min = F.min("b").over(Window.partitionBy("a"))

    def _large_star(e: DataFrame) -> DataFrame:
        und = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        return (
            und.withColumn("m", F.least(_w_min, F.col("a")))
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        d = e.select(
            F.greatest(F.col("a"), F.col("b")).alias("a"),
            F.least(F.col("a"), F.col("b")).alias("b"),
        ).withColumn("m", _w_min)
        hang = d.where(F.col("b") != F.col("m")).select(
            F.col("b").alias("a"), F.col("m").alias("b")
        )
        return hang.unionByName(d.select("a", F.col("m").alias("b"))).distinct()

    prev = _fingerprint(edges)
    for _ in range(max_iter):
        # lazy: materialized by the fingerprint probe on the next line
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        cur = _fingerprint(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter"
        )
    ends = pairs.select(F.col(id_a).alias("id")).unionByName(
        pairs.select(F.col(id_b).alias("id"))
    )
    return (
        edges.select(F.col("a").alias("id"), F.col("b").alias("component"))
        .unionByName(ends.where(F.col("id").isNotNull()).withColumn("component", F.col("id")))
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Dimensionality probe robust to NULL vectors: a NULL first row
    would yield size NULL/-1 → dim 0/-1 → degenerate (empty) hyperplanes
    → every vector in ONE bucket → the O(n²) self-join the bucketing
    exists to prevent. Scan to the first non-null vector instead."""
    row = (
        df.select(F.size(F.col(vec_col)).alias("d"))
        .where(F.col("d").isNotNull() & (F.col("d") > 0))
        .first()
    )
    return int(row["d"]) if row else 0


from ..serde import pickle_module_by_value as _pmv  # noqa: E402

_pmv(__name__)


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.99,
    n_clusters: int = 16,
    seed: int = 42,
    max_iter: int = 5,
    train_limit: int | None = 8192,
    bucket_cap: int | None = None,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023): cluster
    the embedding space with a seeded k-means, generate candidate pairs
    only WITHIN clusters, exact-verify with double cosine, and prune every
    item that has a lower-id neighbor at ``cos >= threshold``. Returns the
    kept ids.

    Scale shape: clustering replaces the all-pairs O(n²) with
    O(Σ cluster²) — SemDeDup's production setting sizes ``n_clusters``
    ≈ n/1000 so clusters stay small; here the knob is explicit, the fit
    runs on a bounded re-spread sample (same trade as topk_cosine_ivf's
    coarse quantizer), and ``bucket_cap`` salts degenerate clusters (viral
    duplicate blobs) exactly like the LSH buckets. Vectors are normalized
    BEFORE clustering so scaled copies of one direction always co-cluster
    (assignment is a deterministic argmin over broadcast centroids);
    candidate generation shuffles ids only; each surviving pair is scored
    by :func:`~..functions.vectors.cosine`.

    The prune rule — drop x iff some y < x has cos(x, y) ≥ τ — is a pure
    pairwise predicate (no cluster-representative election), so when
    candidate recall is total the result is engine-exact and a SQL oracle
    can brute-force it."""
    from ..functions.vectors import cosine, to_double
    from .similarity import _train_cap, fit_coarse_centroids, nearest_centroid_col

    vec = df.select(F.col(id_col), to_double(F.col(vec_col)).alias("__vd"))
    # cluster fit: ONE bounded-sample collect + seeded driver-side Lloyd
    # on L2-normalized vectors, then a shuffle-free broadcast-argmin
    # assignment — replaces pyspark.ml KMeans (~7 distributed jobs +
    # array_to_vector + model.transform over an interpreted per-row
    # normalize) fitting the same bounded sample (guide §1.2; the exact
    # device the ANN quantizer moved to in round 10). The clustering only
    # BOUNDS candidate generation — scaled copies of one direction
    # normalize to the same unit vector and co-assign under ANY
    # deterministic argmin, so the pruned set (exact-verified per pair)
    # is unchanged.
    import numpy as np

    sample = [
        r[0] for r in vec.select("__vd").limit(_train_cap(train_limit)).collect()
    ]
    if not sample:
        raise ValueError("semantic_dedup: empty corpus (nothing to cluster)")
    X = np.asarray(sample, dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    centers = fit_coarse_centroids(
        X.tolist(), k=n_clusters, seed=seed, iters=max(max_iter, 15)
    )
    assigned = nearest_centroid_col(
        vec, "__vd", list(enumerate(centers)), out_col="__cluster", unit=True
    ).select(id_col, "__vd", "__cluster")
    ids = assigned.select(F.col(id_col), "__cluster")
    ids, keys = _salt_oversized(ids, ["__cluster"], id_col, bucket_cap)
    a = ids.select(F.col(id_col).alias("id_a"), *keys)
    b = ids.select(F.col(id_col).alias("id_b"), *keys)
    cand = (
        a.join(b, keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = assigned.select(F.col(id_col).alias("id_a"), F.col("__vd").alias("va"))
    vb = assigned.select(F.col(id_col).alias("id_b"), F.col("__vd").alias("vb"))
    pruned = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .where(cosine(F.col("va"), F.col("vb")) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.select(id_col).join(pruned, id_col, "left_anti")


def _qgram_prefix_candidates(
    base: DataFrame, q: int, k: int, id_col: str, bucket_cap: int | None = None
) -> DataFrame:
    """Positional-order-free q-gram PREFIX FILTER candidates for an edit-
    distance-≤k self-join (Chaudhuri et al. SSJoin / Gravano et al.): one
    edit alters at most ``q`` distinct q-grams, so two strings within
    distance k share at least ``|G| − k·q`` grams — and under ANY global
    total order their (k·q + 1)-element prefixes must intersect. Grams
    are ordered RAREST-FIRST (document frequency, gram as tie-break), so
    prefix posting lists are the smallest ones — this is what keeps big
    same-length blocks from going quadratic without the bucket_cap
    recall trade.

    The theorem needs ≥ k·q + 1 DISTINCT grams per string; strings below
    that (short, or highly repetitive like 'ababab…') route through the
    length-band channel instead — asymmetrically joined against EVERY
    string in their own/adjacent bands, so low-gram × high-gram pairs
    are never lost between channels. Recall is exact with
    ``bucket_cap=None``; a cap salts gram posting lists above it (a gram
    shared by a viral block of identical strings would otherwise
    self-join quadratically — rare-first prefixes cannot shrink a block
    that shares EVERY gram), trading cross-salt recall inside those
    degenerate lists, same contract as every other capped operator."""
    from pyspark.sql import Window

    plen = k * q + 1
    # grams via a MATERIALIZED char array + slice, NOT substr-per-index:
    # each substr(s, i, q) walks the string from 0 (char-position seek),
    # so the sequence/substr form is O(len²) per string — the char-level
    # twin of the shingles()/doc_fingerprint materialization trap
    # documented in functions/text.py (measured 5×)
    csrc = base.select(
        F.col(id_col), "__len", "__band", "__s",
        F.split(F.col("__s"), "").alias("__cs"),
    )
    grams = F.when(
        F.col("__len") >= q,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.col("__len") - q + 1),
                lambda i: F.concat_ws("", F.slice(F.col("__cs"), i, q)),
            )
        ),
    ).otherwise(F.array(F.col("__s")))
    gb = csrc.select(F.col(id_col), "__len", "__band", grams.alias("__gs")).withColumn(
        "__ng", F.size("__gs")
    )
    high = gb.where(F.col("__ng") >= plen)
    lows = gb.where(F.col("__ng") < plen)

    # high×high: rare-first prefix equi-join on the gram
    g = high.select(F.col(id_col), "__len", F.explode("__gs").alias("__g"))
    dfreq = g.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy(id_col).orderBy("__df", "__g")
    prefix = (
        g.join(dfreq, "__g")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= plen)
        .select(id_col, "__g", "__len")
    )
    prefix, gkeys = _salt_oversized(prefix, ["__g"], id_col, bucket_cap)
    pa = prefix.select(F.col(id_col).alias("id_a"), *gkeys, F.col("__len").alias("__la"))
    pb = prefix.select(F.col(id_col).alias("id_b"), *gkeys, F.col("__len").alias("__lb"))
    hh = (
        pa.join(pb, gkeys)
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("__la") - F.col("__lb")) <= k)
        )
        .select("id_a", "id_b")
    )

    # low×anything: a low-gram string meets every string in its own and
    # adjacent length bands (the |Δlen| ≤ k bound is exact); low-gram
    # strings are rare by construction, so the asymmetric fan-out is
    # |lows| × band size, not quadratic in the corpus
    lo = lows.select(
        F.col(id_col).alias("id_a"),
        F.col("__len").alias("__la"),
        F.explode(
            F.array(F.col("__band") - 1, F.col("__band"), F.col("__band") + 1)
        ).alias("__band"),
    )
    all_b = gb.select(
        F.col(id_col).alias("id_b"), F.col("__len").alias("__lb"), "__band"
    )
    la = (
        lo.join(all_b, "__band")
        .where(
            (F.col("id_a") != F.col("id_b"))
            & (F.abs(F.col("__la") - F.col("__lb")) <= k)
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
    )
    return hh.unionByName(la).distinct()


def fuzzy_pairs(
    df: DataFrame,
    str_col: str,
    id_col: str,
    max_dist: int = 2,
    band_width: int = 3,
    bucket_cap: int | None = None,
    qgram: int | None = None,
) -> DataFrame:
    """Approximate-string self-join (entity-resolution shape): all pairs
    within Levenshtein distance ``max_dist``, WITHOUT a cross join.

    Blocking is exact by the length bound — edit distance ≥ |len(a) −
    len(b)|, so with length bands of ``band_width ≥ max_dist + 1`` every
    qualifying pair lands in the same or an adjacent band. Candidates =
    same-band pairs ∪ adjacent-band pairs (two id-only equi-joins);
    verification joins the strings back and evaluates the built-in
    ``levenshtein`` (JVM) once per candidate. Recall is 100 % as long as
    no band exceeds ``bucket_cap`` (always true with the cap disabled) —
    that regime is what lets the brute-force oracle match hash-exactly.

    Scale honesty: length blocking alone leaves big blocks at corpus
    scale (many strings share a length). Two remedies, composable by
    argument: ``bucket_cap`` salts oversized bands exactly like the LSH
    buckets — an explicit recall trade for bounded pair counts, since
    unlike the MinHash pipeline there is no second candidate channel to
    recover cross-salt pairs; ``qgram=q`` switches candidate generation
    to the rare-first q-gram prefix filter
    (:func:`_qgram_prefix_candidates`) — bounded verify work inside big
    same-length blocks WITHOUT any recall loss (recall stays exact)."""
    if band_width <= max_dist:
        raise ValueError("band_width must exceed max_dist for exact recall")
    base = df.select(
        F.col(id_col), F.col(str_col).alias("__s"), F.length(str_col).alias("__len")
    ).withColumn("__band", F.expr(f"__len div {band_width}"))
    if qgram is not None:
        cand = _qgram_prefix_candidates(base, qgram, max_dist, id_col, bucket_cap)
        sa0 = base.select(F.col(id_col).alias("id_a"), F.col("__s").alias("__sa"))
        sb0 = base.select(F.col(id_col).alias("id_b"), F.col("__s").alias("__sb"))
        return (
            cand.join(sa0, "id_a")
            .join(sb0, "id_b")
            .withColumn("dist", F.levenshtein("__sa", "__sb"))
            .where(F.col("dist") <= max_dist)
            .select("id_a", "id_b", "dist")
        )
    ids = base.select(id_col, "__band")
    ids, keys = _salt_oversized(ids, ["__band"], id_col, bucket_cap)
    a = ids.select(F.col(id_col).alias("id_a"), *keys)
    b = ids.select(F.col(id_col).alias("id_b"), *keys)
    same = a.join(b, keys).where(F.col("id_a") < F.col("id_b"))
    # adjacent bands: border pairs (Δlen ≤ max_dist across the boundary).
    # The SAME cap applies — the boundary key is as viral as the band
    # itself (most strings share a few lengths), and an uncapped
    # adjacent join would re-open exactly the quadratic blowup
    # bucket_cap closes on the same-band side. Both sides of a boundary
    # are salted TOGETHER (one union, one hash) so cross-side pairs
    # within a salt survive; cross-salt recall inside an oversized
    # boundary is the same explicit trade as the same-band salting.
    a1 = base.select(F.col(id_col).alias("__id"), (F.col("__band") + 1).alias("__nb"), F.lit(0).alias("__side"))
    b1 = base.select(F.col(id_col).alias("__id"), F.col("__band").alias("__nb"), F.lit(1).alias("__side"))
    u, adj_keys = _salt_oversized(a1.unionByName(b1), ["__nb"], "__id", bucket_cap)
    aa = u.where(F.col("__side") == 0).select(F.col("__id").alias("id_a"), *adj_keys)
    bb = u.where(F.col("__side") == 1).select(F.col("__id").alias("id_b"), *adj_keys)
    adj = aa.join(bb, adj_keys).where(F.col("id_a") != F.col("id_b")).select(
        F.least("id_a", "id_b").alias("id_a"), F.greatest("id_a", "id_b").alias("id_b")
    )
    cand = same.select("id_a", "id_b").unionByName(adj).distinct()
    sa = base.select(F.col(id_col).alias("id_a"), F.col("__s").alias("__sa"))
    sb = base.select(F.col(id_col).alias("id_b"), F.col("__s").alias("__sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("dist", F.levenshtein("__sa", "__sb"))
        .where(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """The PERSISTABLE LSH index of a corpus: one (id, band, bucket) row
    per document per band — what an incremental dedup pipeline stores in
    a TableRepo so history is never re-shingled. Index size is
    bands × corpus rows of three longs; rebuilding it is the one-off
    backfill, after which every new batch pays only its own signatures
    (see :func:`incremental_near_dedup`)."""
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    bb = _band_buckets(sig, id_col, bands, num_hashes // bands)
    # stamp the hash-family parameters into the band column's metadata —
    # it survives parquet round trips, so a probe with MISMATCHED
    # parameters (which would silently hash into disjoint buckets and
    # flag nothing) can be rejected instead of quietly missing every dup
    meta = {"num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n}
    return bb.withColumn("band", F.col("band").alias("band", metadata=meta))


def incremental_near_dedup(
    new_df: DataFrame,
    history_df: DataFrame,
    index_bb: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Incremental MinHash near-dedup: flag new-batch documents that are
    near-duplicates (Jaccard ≥ threshold) of the HISTORY corpus, using
    its persisted :func:`minhash_index` — the production shape for a
    growing corpus:

    - only the NEW batch is tokenized/shingled/signed (O(batch));
    - candidates come from an equi-join of the batch's band buckets
      against the stored index (shuffle carries ids and two longs — the
      history side is index rows, never documents);
    - the exact-Jaccard verify re-reads ONLY the matched history docs
      (semi-join on candidate ids) plus the matched new docs.

    Cost is O(batch + matches), not O(corpus) — the difference between
    re-running dedup nightly and streaming it. Returns the flagged new
    ids as (id_col) rows; callers anti-join to keep the novel documents
    and append their index rows (``minhash_index(new_kept)``) to the
    stored index."""
    stamped = index_bb.schema["band"].metadata if "band" in index_bb.columns else {}
    if stamped:
        want = {"num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n}
        got = {k: stamped.get(k) for k in want}
        if any(v is not None and v != want[k] for k, v in got.items()):
            raise ValueError(
                f"minhash index was built with {got}, probe uses {want} — "
                "mismatched hash families silently share no buckets and "
                "would flag nothing; rebuild the index or match the params"
            )
    nb = _band_buckets(
        minhash_signatures(new_df, text_col, id_col, num_hashes, shingle_n),
        id_col,
        bands,
        num_hashes // bands,
    ).select(F.col(id_col).alias("id_b"), "band", "bucket")
    hb = index_bb.select(F.col(id_col).alias("id_a"), "band", "bucket")
    if bucket_cap is not None:
        over = collect_oversized(hb, ["band", "bucket"], bucket_cap)
    else:
        over = None
    if over is not None:
        n_salts = F.ceil(F.col("__n") / F.lit(float(bucket_cap))).cast("int")
        hb = hb.join(F.broadcast(over), ["band", "bucket"], "left").withColumn(
            "__salt",
            F.when(F.col("__n").isNull(), F.lit(0)).otherwise(
                F.pmod(F.xxhash64(F.col("id_a")), n_salts).cast("int")
            ),
        ).drop("__n")
        # the batch side probes EVERY salt of a split bucket (asymmetric
        # join — zero recall loss, unlike self-join salting). The fan-out
        # list is derived from the OVERSIZED buckets only — a
        # driver-bounded handful (collect_oversized) — never the distinct
        # bucket set of the whole index, which is corpus-sized.
        exp = over.select(
            "band",
            "bucket",
            F.explode(F.sequence(F.lit(0), n_salts - 1)).alias("__salt"),
        )
        nb = nb.join(F.broadcast(exp), ["band", "bucket"], "left").fillna(
            {"__salt": 0}
        )
        keys = ["band", "bucket", "__salt"]
    else:
        keys = ["band", "bucket"]
    # cand feeds two semi-join id projections plus the verify join —
    # unpersisted, each action re-signs the batch and re-runs the index
    # probe (~3x candidate-generation per epoch); same reason the batch
    # twin persists its cands
    cand = nb.join(hb, keys).select("id_a", "id_b").distinct().localCheckpoint(eager=True)
    docs = history_df.join(
        cand.select(F.col("id_a").alias(id_col)).distinct(), id_col, "left_semi"
    ).unionByName(
        new_df.join(
            cand.select(F.col("id_b").alias(id_col)).distinct(), id_col, "left_semi"
        )
    )
    hits = jaccard_pairs(docs, cand, text_col, id_col, shingle_n).where(
        F.col("jaccard") >= threshold
    )
    return hits.select(F.col("id_b").alias(id_col)).distinct()


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Power-iteration PageRank over an undirected pair graph (edges are
    symmetrized) — the influence measure over a near-duplicate / citation
    graph, and the second iterative-algorithm shape next to
    :func:`connected_components`.

    Per round: one equi-join (ranks onto edge sources, out-degrees
    pre-joined once) + one map-side-combined sum per destination — the
    same partitioning every round, so at scale the shuffle reuses its
    exchange. Lineage is cut with an eager localCheckpoint every
    ``checkpoint_every`` rounds (an uncut 10-round plan re-executes the
    whole chain per action). Dangling nodes don't arise in a symmetrized
    pair graph (every vertex has degree ≥ 1). Returns (id, rank) with
    ranks summing to ~1."""
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
        .persist()
    )
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("__deg"))
    out_edges = sym.join(deg, "s").persist()
    nodes = sym.select(F.col("s").alias("id")).distinct()
    n = nodes.count()
    if n == 0:  # empty graph → empty ranks (same contract as
        # connected_components on an empty pair set)
        sym.unpersist()
        out_edges.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for i in range(iterations):
        contribs = (
            out_edges.join(ranks.withColumnRenamed("id", "s"), "s")
            .select(F.col("d").alias("id"), (F.col("rank") / F.col("__deg")).alias("c"))
        )
        ranks = (
            contribs.groupBy("id")
            .agg(F.sum("c").alias("__sum"))
            .select("id", (F.lit(base) + F.lit(damping) * F.col("__sum")).alias("rank"))
        )
        if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
            # intermediate checkpoints stay LAZY (plan truncation only);
            # the final one is eager so the whole chain materializes in
            # ONE job — and does so BEFORE sym/out_edges are unpersisted
            # below, keeping the 10 per-round joins reading the cache
            ranks = ranks.localCheckpoint(eager=(i == iterations - 1))
    sym.unpersist()
    out_edges.unpersist()
    return ranks
