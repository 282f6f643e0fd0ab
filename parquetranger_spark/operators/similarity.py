"""Embedding similarity search (SURVEY §2.4 X3): brute-force cosine top-k
as the exactness baseline, random-hyperplane-LSH bucketed top-k as the
scale path.

Scale design: brute force ships the (small) collected query matrix to a
kernel that streams the corpus once — one pass, no corpus shuffle, top-k
via per-query window; undefined cosines (null, ragged, NaN, zero norm)
rank last. The LSH path replaces the corpus-wide scan with an equi-join on
bucket keys, turning O(|Q|·|C|) into O(Σ bucket sizes); recall is tested
in tests/test_pipeline_ops.py.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine, hyperplane_bits


def default_planes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic (seeded) random hyperplanes, generated driver-side as
    literals — no RNG in executors, so retries are stable."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


# per-pass cap on the shipped query matrix: a larger query batch is cut
# into blocks of at most this many bytes, each scored in its own
# corpus pass
_QUERY_BLOCK_BYTES = 256 << 20


def topk_cosine_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    corpus_min_width: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine. The query side is small
    by contract: it is collected once, shipped to the executors
    (size-gated broadcast, :func:`_ship`) and the corpus streams ONCE
    through a mapInPandas kernel that scores every (query, candidate)
    cell of a batch and emits a per-batch candidate superset; a
    per-query window with the (cos desc, neighbor_id) order decides the
    final ranks. A query matrix over ``_QUERY_BLOCK_BYTES`` (256 MB) is
    cut into blocks of at most that size, each scored in its own corpus
    pass; the candidates are unioned before the one window.

    Scores are BIT-IDENTICAL to the Catalyst fold: float64 products
    accumulate in ascending dimension order and divide by the same
    (qn·cn) product (:func:`~..functions.vectors._fold_cos`).

    Edge-input policy, the same for any id type and any input:

    * a pair's cosine is UNDEFINED when either vector is null, their
      lengths differ, or the fold yields NaN (a NaN or null element, a
      zero norm); it is returned as NULL and ranks after every real
      score, ties broken by ``neighbor_id``;
    * a row with a null query or neighbor id produces no output;
    * self-pairs (query_id == neighbor_id) are excluded.

    ``corpus_min_width``: optional repartition of the corpus side before
    the kernel. The scoring stage's width is the corpus's scan width —
    byte-based, while kernel cost is |Q|·|C|·dim flops, so a KB-sized
    oracle-tier corpus otherwise scores millions of pairs in one task
    while the other cores idle (guide §2.6). Callers set it ONLY for
    corpora they know are bounded (exact-twin tiers) or already probed
    narrow — it is an unconditional shuffle, wrong for a 100 TB scan."""
    from functools import reduce

    from ..functions.vectors import _fold_cos, _rows_mat, to_double

    q = queries.select(
        F.col(id_col).alias("query_id"), to_double(F.col(vec_col)).alias("qv")
    ).where(F.col("query_id").isNotNull())
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), to_double(F.col(vec_col)).alias("cv")
    ).where(F.col("neighbor_id").isNotNull())
    if corpus_min_width and corpus_min_width > 1:
        c = c.repartition(int(corpus_min_width))
    qtype = q.schema["query_id"].dataType.simpleString()
    ctype = c.schema["neighbor_id"].dataType.simpleString()
    out_schema = f"query_id {qtype}, neighbor_id {ctype}, cos double"
    rows = [(r["query_id"], r["qv"]) for r in q.collect()]
    sc = corpus.sparkSession.sparkContext
    kk = max(int(k), 1)
    fold_cos, rows_mat = _fold_cos, _rows_mat  # closure-captured (module
    # is cloudpickle-registered by value: no repo on executor sys.path)

    def _kernel(shipped):
        def _score(batches):
            import numpy as _np
            import pandas as _pd

            groups = shipped.value if hasattr(shipped, "value") else shipped
            for pdf in batches:
                m = len(pdf)
                if not m:
                    continue
                nids = pdf["neighbor_id"].to_numpy()
                cvs = pdf["cv"].to_numpy()
                # undefined cells order by neighbor id: its rank in the batch
                nrank = _np.empty(m)
                nrank[_np.argsort(nids, kind="stable")] = _np.arange(m)
                take = min(kk, m)
                for qids, Q in groups:
                    cos = fold_cos(Q, rows_mat(cvs, Q.shape[1]))
                    # one sort key per cell: real scores by -cos (a -inf
                    # cos clamps to just past the finite ones), then the
                    # undefined cells by neighbor id, self-pairs last
                    undef = _np.isnan(cos)
                    key = _np.where(undef, _np.inf, -cos)
                    top = _np.max(key, where=_np.isfinite(key), initial=0.0)
                    key = _np.where(undef, top + 2.0 + nrank, _np.minimum(key, top + 1.0))
                    key[qids[:, None] == nids[None, :]] = _np.inf
                    # boundary ties all pass: a superset, ranked by the window
                    kth = _np.partition(key, take - 1, axis=1)[:, take - 1, None]
                    qi, ci = _np.nonzero((key <= kth) & (key < _np.inf))
                    if len(qi):
                        yield _pd.DataFrame(
                            {"query_id": qids[qi], "neighbor_id": nids[ci], "cos": cos[qi, ci]}
                        )

        return _score

    parts = [
        c.mapInPandas(_kernel(_ship(sc, blk, nbytes)), out_schema)
        for blk, nbytes in _query_blocks(rows, _QUERY_BLOCK_BYTES)
    ]
    cand = reduce(DataFrame.unionAll, parts)
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def _query_blocks(rows: list, cap: int) -> list:
    """Collected (query_id, vector) rows → ``[(block, nbytes)]``, each
    block a list of ``(query_ids, matrix)`` groups of one vector length
    holding at most ``cap`` matrix bytes (always at least one row). A
    null vector rides as a NaN row of the first group: every cosine
    against it is undefined. No rows → one empty block, so the plan
    keeps its shape."""
    import numpy as np

    from ..functions.vectors import _rows_mat

    by_len: dict = {}
    for qid, v in rows:
        by_len.setdefault(None if v is None else len(v), []).append((qid, v))
    nulls = by_len.pop(None, [])
    groups = sorted(by_len.items()) or [(0, [])]
    groups[0] = (groups[0][0], groups[0][1] + nulls)
    blocks, cur, room = [], [], cap
    for dim, grp in groups:
        row_b = 8 * max(dim, 1)
        while grp:
            if cur and room < row_b:
                blocks.append(cur)
                cur, room = [], cap
            n = max(1, room // row_b)
            part, grp = grp[:n], grp[n:]
            ids = np.asarray([qid for qid, _ in part])
            cur.append((ids, _rows_mat([v for _, v in part], dim)))
            room -= len(part) * row_b
    if cur or not blocks:
        blocks.append(cur)
    return [(b, sum(Q.nbytes for _, Q in b)) for b in blocks]


def topk_cosine_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 12,
    n_tables: int = 4,
    dim: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Approximate top-k: ``n_tables`` independent random-hyperplane
    sketches; a corpus vector is a candidate when it shares any table's
    bucket with the query. The (table, bucket) self-join and the
    candidate dedup carry ONLY ids — at real embedding dims, shuffling
    the vectors through candidate generation multiplies exchange bytes by
    ~dim×tables; vectors attach once per surviving pair via two hash
    joins on pre-normed projections, and each pair pays one dot fold.

    ``bucket_cap`` bounds the corpus side of each (table, bucket): a
    pathological bucket holding millions of near-identical vectors would
    otherwise hand every query probing it a quadratic candidate list.
    Oversized buckets (found via a tiny filtered count, broadcast back)
    keep a deterministic hash-ordered prefix of ``bucket_cap`` entries;
    per-query candidates are then ≤ n_tables × bucket_cap. Recall inside
    a degenerate bucket is the only loss — its members are
    near-interchangeable by construction. ``None`` disables (plan is
    bit-identical to uncapped)."""
    from ..functions.vectors import cosine_prenormed, norm, to_double

    if dim is None:
        row = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
        # empty corpus: no dimension to probe — zero hyperplanes still
        # yield a well-formed (empty) plan instead of a driver TypeError
        dim = int(row["d"]) if row else 0
    buckets = []
    for t in range(n_tables):
        planes = default_planes(dim, n_planes, seed=42 + t)
        buckets.append((t, planes))

    def with_buckets(df: DataFrame, idname: str) -> DataFrame:
        entries = F.array(
            *[
                F.struct(F.lit(t).alias("tbl"), hyperplane_bits(F.col(vec_col), planes).alias("bucket"))
                for t, planes in buckets
            ]
        )
        return df.select(F.col(id_col).alias(idname), F.explode(entries).alias("tb")).select(
            idname, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
        )

    qb = with_buckets(queries, "query_id")
    cb = with_buckets(corpus, "neighbor_id")
    if bucket_cap is not None:
        from .dedup import collect_oversized

        over = collect_oversized(cb, ["tbl", "bucket"], bucket_cap)
        if over is not None:
            over_df = F.broadcast(over.select("tbl", "bucket"))
            # the window (shuffle + sort) runs only on rows inside
            # oversized buckets — a tiny, semi-joined subset; everything
            # else passes through untouched
            in_over = cb.join(over_df, ["tbl", "bucket"], "left_semi")
            rest = cb.join(over_df, ["tbl", "bucket"], "left_anti")
            wcap = Window.partitionBy("tbl", "bucket").orderBy(
                F.xxhash64(F.col("neighbor_id"))
            )
            capped = (
                in_over.withColumn("__rn", F.row_number().over(wcap))
                .where(F.col("__rn") <= bucket_cap)
                .drop("__rn")
            )
            cb = rest.unionByName(capped)
    cands = (
        qb.join(cb, ["tbl", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), to_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), to_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cands.join(qvec, "query_id")
        .join(cvec, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


# closure-vs-broadcast cutover for numpy tables captured by scoring UDFs:
# below this the pickled task closure is cheaper (no per-call driver
# round-trip); above it one torrent broadcast per executor wins (and the
# per-worker closure copies would OOM at 100 TB routing-table shapes)
_BROADCAST_BYTES = 4 << 20


def _ship(sc, obj, nbytes: int):
    """Ship ``obj`` to executor UDFs by size: sc.broadcast past the
    cutover (per-executor torrent copy), the raw object (pickled task
    closure) below it. Consumers unwrap with
    ``x.value if hasattr(x, "value") else x``."""
    return sc.broadcast(obj) if nbytes > _BROADCAST_BYTES else obj


def _train_cap(train_limit: int | None, default_max: int = 65536) -> int:
    """Bound a quantizer-training sample: ``None`` means "as much as is
    safe" — a FIXED cap, never the whole corpus (the pre-round-11 shape
    collected the entire table to the driver for ``None``, a silent OOM
    at the 100 TB scale the docstrings advertise). ``0`` is refused
    loudly rather than treated as falsy-None."""
    if train_limit is None:
        return default_max
    if train_limit <= 0:
        raise ValueError(f"train_limit must be positive or None, got {train_limit}")
    return int(train_limit)


def fit_coarse_centroids(
    sample_vectors: list,
    k: int,
    seed: int = 42,
    iters: int = 15,
    restarts: int = 8,
) -> list[list[float]]:
    """Seeded driver-side Lloyd fit over an already-bounded sample — the
    coarse quantizer for the IVF paths. The pyspark.ml KMeans it replaces
    spent ~7 distributed jobs (takeSample + one collectAsMap per
    iteration) fitting the SAME bounded sample it was handed (guide §1.2:
    fix the algorithm before the per-task work) — a quantizer that only
    needs to carve space into k regions is a few GEMMs on ≤ train_limit
    × dim doubles, driver numpy, zero jobs. Each restart seeds with
    k-means++ (D² sampling) and the fit with the lowest quantization
    inertia wins — restarts are ~free driver-side and buy the recall
    margin a single distributed fit could not afford (measured on the
    sf0.1 fixtures: single random-init fit 0.68-0.71 recall at the
    probe-a-third setting, best-of-8 k-means++ 0.75). Deterministic for
    a given sample + seed, so retries/re-runs reproduce the index."""
    import numpy as np

    X = np.asarray(sample_vectors, dtype=np.float64)
    if X.ndim != 2 or not len(X):
        raise ValueError("fit_coarse_centroids: empty training sample")
    k = int(min(k, len(X)))
    x2 = (X * X).sum(1)

    def _one(rng):
        # seeded k-means++ (D²) init: spreads the k seeds over the sample
        # so the Lloyd sweeps start balanced — a plain random draw can
        # seed two centroids in one dense region and leave another region
        # to a single fat list, which costs IVF recall at fixed n_probe.
        # Each D² update is one matvec (|x|² − 2·x·c + |c|², clamped at
        # 0): the elementwise ((X − c)²).sum(1) form allocates an n × dim
        # temporary per seed, which dominated the whole fit at k ≥ 100
        C = np.empty((k, X.shape[1]), dtype=np.float64)
        C[0] = X[rng.randint(len(X))]
        d2min = np.maximum(x2 - 2.0 * (X @ C[0]) + C[0] @ C[0], 0.0)
        for j in range(1, k):
            tot = float(d2min.sum())
            if tot <= 0.0:
                C[j:] = X[rng.choice(len(X), size=k - j)]
                break
            C[j] = X[rng.choice(len(X), p=d2min / tot)]
            np.minimum(
                d2min, np.maximum(x2 - 2.0 * (X @ C[j]) + C[j] @ C[j], 0.0),
                out=d2min,
            )
        prev = None
        for _ in range(iters):
            d2 = (C * C).sum(1)[None, :] - 2.0 * (X @ C.T)
            assign = d2.argmin(1)
            if prev is not None and np.array_equal(assign, prev):
                break  # fixed point — further sweeps are no-ops
            prev = assign
            counts = np.bincount(assign, minlength=k)
            # per-dimension bincount beats np.add.at (buffered fancy
            # indexing) by ~10× for the tall-thin shapes here
            sums = np.stack(
                [
                    np.bincount(assign, weights=X[:, d], minlength=k)
                    for d in range(X.shape[1])
                ],
                axis=1,
            )
            nz = counts > 0
            C[nz] = sums[nz] / counts[nz, None]
        d2 = (C * C).sum(1)[None, :] - 2.0 * (X @ C.T)
        return C, float((d2.min(1) + x2).sum())

    # restarts are independent and GEMM-bound (BLAS releases the GIL) —
    # run them on a thread pool; each is seeded by its restart number so
    # the result is identical to the sequential loop, and min() ties
    # break to the lowest restart index (list order is preserved)
    from concurrent.futures import ThreadPoolExecutor

    n_r = max(restarts, 1)
    with ThreadPoolExecutor(max_workers=min(n_r, 8)) as ex:
        fits = list(
            ex.map(lambda r: _one(np.random.RandomState(seed + 1000 * r)), range(n_r))
        )
    return min(fits, key=lambda t: t[1])[0].tolist()


def nearest_centroid_col(
    df: DataFrame,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    out_col: str = "list_id",
    unit: bool = False,
) -> DataFrame:
    """Assign every row's ``vec_col`` to its nearest centroid by squared
    euclidean — SHUFFLE-FREE and Arrow-batched: the (id, centroid) table
    is pre-built as ONE numpy matrix and shipped via ``sc.broadcast``
    (once per executor — a closure capture would re-ship it inside every
    task binary and hold one copy per Python worker: at 100 TB shapes,
    n_lists ~3e5 × dim 768 doubles is GBs of closure); each batch is one
    numpy GEMM + argmin (guide §4.2 — hand whole batches to vectorized
    native code). |v|² is constant per row, so the score is −2·v·c + |c|²
    only. Ties break to the LOWEST centroid id: centroids are scanned in
    ascending-id order and argmin returns the first minimum — the same
    deterministic tie-break as the crossJoin + row_number window (and
    the interim array_min-over-structs shape) this replaces. The
    struct-min Catalyst expression measured ~3 ms/row at k=44, dim=64
    (interpreted higher-order functions, re-evaluated per consumer:
    projection, partition sort, write) — the numpy batch path is ~µs/row
    and the Python boundary crosses only ``vec_col``."""
    import numpy as np

    pairs = sorted(
        ((int(i), [float(x) for x in c]) for i, c in centroids),
        key=lambda t: t[0],
    )
    table = (
        np.asarray([i for i, _ in pairs], dtype=np.int32),
        np.asarray([c for _, c in pairs], dtype=np.float64),
    )
    # ship the table by SIZE: past ~4 MB it goes through sc.broadcast
    # (one torrent copy per executor — closure capture would re-ship it
    # in every task binary and hold a copy per Python worker, GBs at
    # n_lists ~3e5 × dim 768); below that the pickled-closure path is
    # cheaper (a broadcast costs a driver round-trip per CALL, measured
    # as a real regression in the add()-per-batch ingest loop)
    bc = (
        df.sparkSession.sparkContext.broadcast(table)
        if table[1].nbytes > _BROADCAST_BYTES
        else None
    )

    def _assign(vs):
        import numpy as np
        import pandas as _pd

        if not len(vs):
            return _pd.Series([], dtype="int32")
        idv, C = bc.value if bc is not None else table
        c2 = (C * C).sum(1)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        if unit:
            # L2-normalize per row BEFORE the distance (``unit=True``
            # callers fit their centroids on unit vectors, so scaled
            # copies of one direction always co-assign)
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        d2 = c2[None, :] - 2.0 * (X @ C.T)
        return _pd.Series(idv[d2.argmin(1)])

    return df.withColumn(out_col, F.pandas_udf(_assign, "int")(F.col(vec_col)))


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 256,
    seed: int = 42,
    train_limit: int = 8192,
    iters: int = 10,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the (L2-normalized) space
    into ``m`` subvectors and Lloyd-fit ``n_codes`` centroids per
    subspace on a bounded corpus sample. The sample collect is
    ``train_limit × dim`` floats (a few MB — driver-safe at any corpus
    size, same bounded-fit argument as the IVF quantizer above); the fit
    is seeded numpy, so codebooks are deterministic across runs/retries.
    Returned as plain nested lists — picklable into UDF closures without
    capturing module state."""
    import numpy as np

    sample = corpus.select(F.col(vec_col)).limit(train_limit).collect()
    if not sample:
        raise ValueError("train_pq_codebooks: empty corpus (nothing to train on)")
    X = np.asarray([r[0] for r in sample], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    # a sample smaller than n_codes would make choice(replace=False)
    # raise a cryptic numpy error; fewer centroids than requested is the
    # standard small-corpus degradation (every vector still encodes)
    n_codes = min(n_codes, len(X))
    rng = np.random.RandomState(seed)
    books = []
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        C = Xj[rng.choice(len(Xj), size=n_codes, replace=False)].copy()
        for _ in range(iters):
            # argmin ||x-c||² == argmin (||c||² - 2 x·c): one GEMM per
            # iteration instead of an n×k×d broadcast-subtract tensor
            d2 = (C * C).sum(1)[None, :] - 2.0 * (Xj @ C.T)
            assign = d2.argmin(1)
            # centroid update via bincount-accumulate (no per-cluster scan)
            counts = np.bincount(assign, minlength=n_codes)
            sums = np.zeros_like(C)
            np.add.at(sums, assign, Xj)
            nz = counts > 0
            C[nz] = sums[nz] / counts[nz, None]
        books.append(C.tolist())
    return books


def _lut_rows(qv, books):
    """The asymmetric-distance LUT for ONE query vector: m rows of
    subvector·codebook dots — numerically the exact computation the old
    executor-side ``_luts`` pandas UDF ran (same numpy calls on the same
    float64 inputs), moved driver-side so the table broadcasts once
    instead of riding every candidate row."""
    import numpy as np

    B = [np.asarray(b) for b in books]
    x = np.asarray(qv, dtype=np.float64)
    x /= max(np.linalg.norm(x), 1e-12)
    return np.stack(
        [x[j * C.shape[1] : (j + 1) * C.shape[1]] @ C.T for j, C in enumerate(B)]
    )


def _adc_udf(lut_bc, epoch_luts: bool = False):
    """Arrow-batched ADC scorer: Σ_j lut[j][code_j] as the SAME sequential
    left fold the old ``aggregate(zip_with(codes, lut, …))`` expression
    evaluated per pair (float64 adds in ascending-j order → bit-identical),
    vectorized across rows with one fancy-indexed gather per subspace.
    ``lut_bc`` is {query_id: (m × n_codes) ndarray} (or
    {(query_id, epoch): …} with ``epoch_luts``), shipped via
    :func:`_ship` — sc.broadcast past the size cutover, task closure
    below it (guide §4.5)."""

    def _score(Q, C, lut):
        import numpy as np

        out = np.empty(len(Q), dtype=np.float64)
        # small, bounded distinct-query loop; each iteration is one
        # vectorized gather+add chain over that query's candidate rows
        for key in set(Q.tolist()):
            m = Q == key
            L = lut[key]
            Cg = C[m]
            acc = np.zeros(Cg.shape[0], dtype=np.float64)
            for j in range(L.shape[0]):
                acc = acc + L[j, Cg[:, j]]
            out[m] = acc
        return out

    if epoch_luts:

        def _adc(qids, epochs, codes):
            import numpy as np
            import pandas as _pd

            if not len(qids):
                return _pd.Series([], dtype="float64")
            lut = lut_bc.value if hasattr(lut_bc, "value") else lut_bc
            Q = qids.to_numpy()
            E = epochs.to_numpy()
            C = np.stack([np.asarray(c, dtype=np.int64) for c in codes.to_numpy()])
            out = np.empty(len(Q), dtype=np.float64)
            keys = {(q, int(e)) for q, e in zip(qids.tolist(), epochs.tolist())}
            for qk, ek in keys:
                m = (Q == qk) & (E == ek)
                L = lut[(qk, ek)]
                Cg = C[m]
                acc = np.zeros(Cg.shape[0], dtype=np.float64)
                for j in range(L.shape[0]):
                    acc = acc + L[j, Cg[:, j]]
                out[m] = acc
            return _pd.Series(out)

        return F.pandas_udf(_adc, "double")

    def _adc(qids, codes):
        import numpy as np
        import pandas as _pd

        if not len(qids):
            return _pd.Series([], dtype="float64")
        lut = lut_bc.value if hasattr(lut_bc, "value") else lut_bc
        Q = qids.to_numpy()
        C = np.stack([np.asarray(c, dtype=np.int64) for c in codes.to_numpy()])
        return _pd.Series(_score(Q, C, lut))

    return F.pandas_udf(_adc, "double")


def topk_cosine_pq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    n_codes: int = 256,
    seed: int = 42,
    rerank: int | None = None,
    codebooks: list | None = None,
) -> DataFrame:
    """Approximate top-k via product quantization + asymmetric-distance
    scan + exact re-rank — the compression-side ANN path (IVF above is
    the partition-side one; real systems compose them).

    Scale shape: the corpus is ENCODED once into ``m`` uint8-sized codes
    (m bytes/vector instead of 4·dim — ~64× smaller at dim 128), an
    Arrow-batched pandas UDF pass that is the only Python in the
    pipeline. Each query precomputes an ``m × n_codes`` lookup table of
    subvector·centroid dots; the ADC scan is then pure JVM — broadcast
    the (small) query LUTs, one ``zip_with``+``aggregate`` fold per
    (query, corpus row) over the CODES, never the vectors. The top
    ``rerank`` (default 4k) ADC candidates per query re-score with exact
    cosine, so the emitted ranking is exact within the candidate set.
    At 100 TB the ADC scan reads m-byte codes instead of 512-byte
    vectors — the scan-bandwidth win IS the point of PQ."""
    import pandas as pd

    from ..functions.vectors import cosine_prenormed, norm, to_double

    rerank = rerank or 4 * k
    books = codebooks or train_pq_codebooks(
        corpus, vec_col=vec_col, m=m, n_codes=n_codes, seed=seed
    )

    def _encode(vs):
        import numpy as np
        import pandas as _pd

        B = [np.asarray(b) for b in books]
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(X), len(B)), dtype=np.int32)
        for j, C in enumerate(B):
            Xj = X[:, j * C.shape[1] : (j + 1) * C.shape[1]]
            # ||x-c||² argmin == (||c||² - 2 x·c) argmin — one GEMM per batch
            d2 = (C * C).sum(1)[None, :] - 2.0 * (Xj @ C.T)
            codes[:, j] = d2.argmin(1)
        return _pd.Series(list(codes))

    encode = F.pandas_udf(_encode, "array<int>")

    enc = corpus.select(F.col(id_col).alias("neighbor_id"), encode(F.col(vec_col)).alias("codes"))
    # Per-query LUTs (subvector·codebook dots) built DRIVER-SIDE from the
    # collected query batch (the broadcast-small side by contract — the
    # old shape already broadcast the same LUT rows) and shipped once
    # (size-gated broadcast, :func:`_ship`). The old shape attached the
    # m×n_codes LUT array to every (query, corpus) pair row and folded it
    # with zip_with+aggregate — interpreted per pair and LUT-wide rows
    # through the join (guide §4.2/§2.3: score in numpy, ship keys not
    # payloads).
    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).collect()
    luts = {r["query_id"]: _lut_rows(r["qv"], books) for r in qrows}
    lut_bc = _ship(
        queries.sparkSession.sparkContext,
        luts,
        sum(v.nbytes for v in luts.values()),
    )
    q_ids = queries.select(F.col(id_col).alias("query_id"))
    adc = (
        enc.crossJoin(F.broadcast(q_ids))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _adc_udf(lut_bc)(F.col("query_id"), F.col("codes")).alias("adc"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("neighbor_id"))
    cands = adc.withColumn("__r", F.row_number().over(wa)).where(F.col("__r") <= rerank)
    qv = queries.select(
        F.col(id_col).alias("query_id"), to_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), to_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cands.select("query_id", "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def knn_density_ivf(
    vectors: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int | None = None,
    n_probe: int = 4,
    rerank: int | None = 50,
    seed: int = 42,
) -> DataFrame:
    """Per-vector kth-NN similarity — the density signal LOF-style outlier
    quarantine ranks by (a LOW kth-neighbor cosine marks a sparse region).
    Returns one ``(id_col, knn_cos)`` row per vector.

    Scale shape — this is the ANN-candidate answer to the all-pairs
    O(n²) self-join the naive formulation needs:

    1. **estimate**: each vector's kth-NN *within its IVF candidate
       lists* (:func:`topk_cosine_ivf` self-query — k-means coarse
       quantizer, each vector probes its ``n_probe`` nearest of
       ``n_lists`` lists; the pair generation is an equi-join on
       ``list_id``, never a cross join). Candidate-set kth-NN is a
       one-sided UNDERestimate (a subset's kth order statistic can only
       drop), so isolated points are never missed — some dense points
       merely look too isolated.
    2. **bounded exact rescan**: the ``rerank`` most-isolated vectors by
       estimate (plus any vector whose candidate set had fewer than k
       neighbors) re-score against the full corpus via
       :func:`topk_cosine_bruteforce`'s streamed kernel — O(rerank · n)
       with ``rerank`` a constant, the standard ANN re-rank device,
       restoring exact kth-NN values exactly where the outlier ranking
       is decided (an undefined cosine ranks last, as it does there).

    Pair count is |corpus|² · n_probe / n_lists, so ``n_lists`` MUST
    grow with the corpus — the default is the standard IVF balance
    ``n_lists ≈ √n`` (one extra count job), which bounds total pair
    generation at O(n^1.5 · n_probe / √1) — the sub-quadratic IVF
    contract real systems (FAISS IVFFlat) run; a FIXED list count would
    silently degrade toward all-pairs as the corpus grows. Step 2
    ships ``rerank`` query rows to one corpus pass. Nothing is ever a
    cross join.
    ``rerank=None`` returns the raw (underestimated) densities."""
    if n_lists is None:
        import math

        n = vectors.count()
        n_lists = max(16, math.isqrt(max(n, 1)))
    # compute-vs-bytes width floor (guide §2.6): both scoring stages —
    # the IVF candidate join and the exact rescan — inherit a byte-based
    # width from a KB-sized local corpus and would score millions of
    # pairs in 1-2 tasks. Probe the input's scan width ONCE
    # (planning-only for scan-shaped frames) and floor both stages at
    # the cluster parallelism; at 100 TB the scan is already wider and
    # width stays None (no extra shuffle).
    sc = vectors.sparkSession.sparkContext
    width = None
    if vectors.rdd.getNumPartitions() < sc.defaultParallelism:
        width = sc.defaultParallelism
    est = topk_cosine_ivf(
        vectors,
        vectors,
        k=k,
        vec_col=vec_col,
        id_col=id_col,
        n_lists=n_lists,
        n_probe=n_probe,
        seed=seed,
        scoring_width=width,
    )
    est_k = est.where(F.col("rank") == k).select(
        F.col("query_id").alias(id_col), F.col("cos").alias("knn_cos")
    )
    ids = vectors.select(id_col)
    if not rerank:
        # contract: one row per vector, even without the rescan tier — a
        # vector whose probed lists held < k neighbors has no estimate,
        # so it surfaces with knn_cos NULL (nulls sort FIRST ascending:
        # an unmeasurable density reads as maximally isolated, which is
        # what a starved candidate set means)
        starved = ids.join(est_k, id_col, "left_anti").withColumn(
            "knn_cos", F.lit(None).cast("double")
        )
        return est_k.unionByName(starved)
    # materialize the estimate ONCE: it anchors three downstream frames
    # (rescan candidates, starvation anti-join, pass-through rest) — left
    # lazy, the whole IVF subtree would re-execute per reference. The
    # frame is one (id, double) row per vector — checkpoint-sized at any
    # corpus (a two-pass algorithm's standard intermediate).
    est_k = est_k.localCheckpoint(eager=True)
    # a vector whose probed lists held < k neighbors has NO rank-k row —
    # and sparse candidate sets are exactly the likely outliers, so those
    # always join the rescan set rather than silently vanishing
    starved = ids.join(est_k, id_col, "left_anti")
    cand_ids = (
        est_k.orderBy(F.col("knn_cos").asc(), id_col)
        .limit(rerank)
        .select(id_col)
        .unionByName(starved)
        .distinct()
    )
    cand = cand_ids.join(vectors.select(id_col, vec_col), id_col)
    exact_k = (
        topk_cosine_bruteforce(
            cand, vectors, k=k, vec_col=vec_col, id_col=id_col, corpus_min_width=width
        )
        .where(F.col("rank") == k)
        .select(F.col("query_id").alias(id_col), F.col("cos").alias("knn_cos"))
        # rerank-rows tiny; materialized once so the starved-vector
        # anti-join below does not re-execute the whole rescan subtree
        .localCheckpoint(eager=True)
    )
    # a rescanned vector with < k neighbors in the WHOLE corpus (n <= k)
    # has no exact kth neighbor either: emit it with knn_cos NULL rather
    # than dropping it — the one-row-per-vector contract holds at any n
    no_kth = cand_ids.join(exact_k, id_col, "left_anti").withColumn(
        "knn_cos", F.lit(None).cast("double")
    )
    rest = est_k.join(cand_ids, id_col, "left_anti")
    return exact_k.unionByName(no_kth).unionByName(rest)


def topk_cosine_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_iter: int = 5,
    train_limit: int | None = 8192,
    scoring_width: int | None = None,
) -> DataFrame:
    """Approximate top-k, IVF flavor: a k-means coarse quantizer splits the
    corpus into ``n_lists`` inverted lists; each query probes only its
    ``n_probe`` nearest lists.

    ``scoring_width``: optional explicit repartition of the probe frame
    before the candidate join. The scoring stage's width otherwise comes
    from AQE's byte-based coalescing of the probe window's exchange —
    but candidate scoring costs |probes|·(list size)·dim flops, so a
    byte-tiny local corpus scores everything in 1-2 tasks. Callers that
    measured their input narrow pass the cluster parallelism; leave None
    at scale (the window exchange is already wide there and an extra
    shuffle would be waste).

    Scale shape: the quantizer fits on a bounded corpus sample — ONE
    collect of ``train_limit × dim`` doubles, then a seeded driver-side
    Lloyd (:func:`fit_coarse_centroids`; the pyspark.ml KMeans this
    replaces spent ~7 distributed jobs fitting the same bounded sample).
    Centroids are tiny (n_lists × dim) and broadcast; list assignment is
    one shuffle-free broadcast-argmin projection
    (:func:`nearest_centroid_col`); the search joins queries to corpus
    rows on ``list_id`` — a shuffle-bounded equi-join touching
    |corpus| · n_probe / n_lists rows per query on average, never a full
    cross join. Exact cosine + window rank within the probed candidates.
    """
    from ..functions.vectors import cosine_prenormed, norm, to_double

    spark = corpus.sparkSession
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), to_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    # the coarse quantizer only needs to carve space into n_lists regions —
    # fit it on a bounded prefix instead of iterating k-means over the
    # whole corpus (at 100 TB the full fit would dominate the query; the
    # full corpus still gets exact list assignment below). None caps at
    # a fixed bound — never an unbounded corpus collect (_train_cap).
    sample = [r[0] for r in c.select("cv").limit(_train_cap(train_limit)).collect()]
    # driver-side Lloyd sweeps cost microseconds (the 5-iteration cap
    # existed because DISTRIBUTED iterations were jobs) — the helper
    # runs a deeper budget plus best-of-restarts for recall margin
    centers = fit_coarse_centroids(
        sample, k=n_lists, seed=seed, iters=max(max_iter, 15)
    )
    inv = nearest_centroid_col(c, "cv", list(enumerate(centers))).select(
        "neighbor_id", "cv", "cn", "list_id"
    )

    cents = [(i, [float(x) for x in ctr]) for i, ctr in enumerate(centers)]
    cents_df = spark.createDataFrame(cents, "list_id int, centroid array<double>")
    q = queries.select(
        F.col(id_col).alias("query_id"), to_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    wq = Window.partitionBy("query_id").orderBy(F.col("c_cos").desc(), F.col("list_id"))
    probes = (
        q.crossJoin(F.broadcast(cents_df))
        .select(
            "query_id", "qv", "qn", "list_id", cosine(F.col("qv"), F.col("centroid")).alias("c_cos")
        )
        .withColumn("__pr", F.row_number().over(wq))
        .where(F.col("__pr") <= n_probe)
        .select("query_id", "qv", "qn", "list_id")
    )
    if scoring_width and scoring_width > 1:
        # user-specified partitioning: AQE keeps it, so the candidate
        # join's scoring stage runs this wide (see docstring)
        probes = probes.repartition(int(scoring_width), "query_id")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        probes.join(inv, "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )
