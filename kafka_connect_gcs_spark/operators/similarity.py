"""Similarity search over embedding columns (array<float>).

* :func:`cosine` — pure-Catalyst cosine similarity (zip_with + aggregate;
  whole-stage codegen, no Python).
* :func:`brute_force_topk` — exact top-k neighbors for a (small, broadcast)
  query set: broadcast-join × corpus, per-query top-k. The correctness
  baseline; at 100 TB cost is |Q|·n dot products, embarrassingly parallel,
  no shuffle except the final per-query top-k aggregation.
* :func:`neardup_pairs_cosine` — all pairs with cosine ≥ τ, LSH-bucketed by
  random-hyperplane signs so the self-join is per-bucket, not n².
* :func:`rp_bucket` — deterministic random-hyperplane signature; the plane
  components are hash-derived (no RNG state, reproducible everywhere).
* :func:`brute_force_topk_pandas` — the same top-k as an Arrow-batched
  pandas UDF doing the dot products in numpy BLAS over the broadcast query
  matrix; the fast path when |Q| is large enough that per-row expressions
  lose to matrix multiply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import local_frame


def topk_per_query(
    scored: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    sim_col: str = "sim",
) -> DataFrame:
    """Bounded two-phase top-k finalization shared by the ANN family.

    A single ``Window.partitionBy(query_id)`` over the full scored relation
    funnels every corpus×|Q| scored row through |Q| reducer tasks and fully
    sorts it there — at 100× scale that serializes on |Q| cores and can OOM
    a reducer. Instead:

    * phase 1 keeps the top k per query WITHIN each input partition — an
      Arrow-batched running head over (query_id, id, sim) triples, ZERO
      shuffle, ≤ k·|Q| rows retained per partition regardless of partition
      size;
    * phase 2 runs the exact rank window over the ≤ partitions·k·|Q|
      survivors, so the only exchange partitioned by query_id consumes a
      bounded metadata-scale relation.

    Local top-k under the total order (sim desc, id asc) is a superset of
    the global top-k, so the result is row-identical to the single-window
    plan (ties cannot exist: id is unique per query).
    """
    narrow = scored.select(query_id_col, id_col, sim_col)
    sort_keys = [query_id_col, sim_col, id_col]
    asc = [True, False, True]  # sim desc, id asc — same order as the window

    def local_topk(batches):
        import pandas as pd

        acc = None
        for pdf in batches:
            cur = pdf if acc is None else pd.concat((acc, pdf), ignore_index=True)
            cur = cur.sort_values(sort_keys, ascending=asc, kind="mergesort")
            acc = cur.groupby(query_id_col, sort=False).head(k)
        if acc is not None and len(acc):
            yield acc

    survivors = narrow.mapInPandas(local_topk, schema=narrow.schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(sim_col).desc(), F.col(id_col).asc()
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, sim_col, "rank")
    )


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a, b):
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# Bit-exact numpy twins of the Catalyst fold expressions above.
#
# The HOF folds (`dot`/`norm`) are interpreted per element — measured ~100 ns
# per array slot, which is the entire cost of the brute-force similarity
# queries once the pair count grows (guide §4.2: hand whole batches to
# vectorized native code). These helpers reproduce the folds' EXACT float
# semantics so plans can switch to numpy without moving a single output bit:
#
# * `zip_with(a, b, x*y)` multiplies in the array's ELEMENT type (float32 for
#   array<float>, exact integers for array<long>) and `aggregate(_, 0.0D,
#   acc+v)` accumulates in float64 in index order. `_seq_dot` replays that:
#   per-dimension element-dtype product, float64 `+=` in dimension order —
#   elementwise IEEE ops, so each step is bit-identical to the JVM's.
# * integer-valued arrays make every product and partial sum exactly
#   representable in float64 (quantized embeddings: |v| ≤ ~2^11, dims ≤ 2^7
#   ⇒ sums < 2^53), so the fold is order-independent and one BLAS matmul
#   returns the identical doubles at full speed.
# * `F.round(x, 6)` on doubles is BigDecimal(shortest-repr).setScale(6,
#   HALF_UP). `_round6` uses a vectorized floor(+0.5) fast path and falls
#   back to decimal.Decimal(repr(x)) only within 1e-4 of a .5 boundary —
#   conservative by ~5 orders of magnitude vs the repr-vs-binary gap.
# ---------------------------------------------------------------------------


def _np_elem_kind(df: DataFrame, vec_col: str) -> str:
    """'int' | 'float' | 'double' — the array element class that decides
    which exact numpy path replays the Catalyst fold."""
    elem = df.schema[vec_col].dataType.elementType.simpleString()
    if elem in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    return "float" if elem == "float" else "double"


def _round6(x):
    """Vectorized twin of ``F.round(col, 6)`` for float64 ndarrays."""
    import numpy as np

    s = np.sign(x)
    y = np.abs(x) * 1e6
    f = np.floor(y)
    frac = y - f
    out = np.where(frac >= 0.5, f + 1.0, f) / 1e6 * np.where(s == 0.0, 1.0, s)
    risky = np.abs(frac - 0.5) < 1e-4
    if risky.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.000001")
        flat_out = out.reshape(-1)
        flat_x = x.reshape(-1)
        for i in np.nonzero(risky.reshape(-1))[0]:
            flat_out[i] = float(
                Decimal(repr(float(flat_x[i]))).quantize(q, rounding=ROUND_HALF_UP)
            )
    # BigDecimal never yields -0.0; the sign trick can
    return np.where(out == 0.0, 0.0, out)


def _seq_cross_dot(A, B, kind: str):
    """All-pairs dot A(n,d)×B(m,d) → float64 (n,m), bit-identical to the
    ``dot`` fold per pair. Integer-valued inputs take one exact BLAS
    matmul; float inputs replay the per-dimension product dtype."""
    import numpy as np

    if kind == "int":
        return A.astype(np.float64) @ B.astype(np.float64).T
    work = np.float32 if kind == "float" else np.float64
    AT = np.ascontiguousarray(A.T.astype(work, copy=False))
    BT = np.ascontiguousarray(B.T.astype(work, copy=False))
    acc = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
    for k in range(AT.shape[0]):
        acc += np.multiply.outer(AT[k], BT[k])
    return acc


def _seq_norms(A, kind: str):
    """Row norms of A(n,d) as float64, bit-identical to the ``norm`` fold."""
    import numpy as np

    if kind == "int":
        A64 = A.astype(np.float64)
        return np.sqrt(np.einsum("ij,ij->i", A64, A64))
    work = np.float32 if kind == "float" else np.float64
    AT = A.T.astype(work, copy=False)
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for k in range(AT.shape[0]):
        acc += (AT[k] * AT[k]).astype(np.float64)
    return np.sqrt(acc)


def _pair_sims(A, B, kind: str):
    """round6(cosine) for every (row of A, row of B) pair — the numpy twin
    of ``F.round(cosine(a, b), 6)`` including the denominator-zero guard
    (Spark's NaN>0 is true, so NaN denominators fall through to the
    division like the Catalyst expression)."""
    import numpy as np

    dots = _seq_cross_dot(A, B, kind)
    denom = np.multiply.outer(_seq_norms(A, kind), _seq_norms(B, kind))
    take = (denom > 0) | np.isnan(denom)
    safe = np.where(denom != 0.0, denom, 1.0)
    return _round6(np.where(take, dots / safe, 0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query. Queries are broadcast (small side);
    the per-query top-k is a shuffle on query_id only."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec"))
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("_qvec"), F.col("_cvec")), 6).alias("sim"),
    )
    return topk_per_query(scored, k, query_id_col=query_id_col, id_col=id_col)


def brute_force_topk_pandas(
    corpus: DataFrame,
    queries_pd,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Same result as :func:`brute_force_topk`, computed as one numpy matmul
    per Arrow batch against the broadcast query matrix (BLAS beats per-row
    expressions once |Q|·dim is large). queries_pd: pandas DataFrame with
    columns (query_id, embedding)."""
    import numpy as np

    spark = corpus.sparkSession
    qids = queries_pd["query_id"].to_numpy()
    qmat = np.stack(queries_pd["embedding"].to_numpy()).astype("float64")
    qmat = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    bq = spark.sparkContext.broadcast((qids, qmat))

    def score(batches):
        import pandas as pd

        qids_b, qmat_b = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            cmat = cmat / np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-12)
            sims = cmat @ qmat_b.T  # (batch, |Q|)
            n_b, n_q = sims.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids_b, n_b),
                    id_col: np.tile(pdf[id_col].to_numpy(), n_q),
                    "sim": np.round(sims.T.reshape(-1), 6),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, schema=f"query_id long, {id_col} long, sim double"
    )
    return topk_per_query(scored, k, id_col=id_col)


def _dlit(values) -> "F.Column":
    """Double-array literal built in ONE parsed expression. ``F.lit(list)``
    costs a py4j round-trip PER ELEMENT (~1.5 s for a 1024-float centroid
    matrix, measured — pure driver-side plan-construction overhead); the
    D-suffixed SQL literal parse is bit-exact (Double.parseDouble of
    repr()) and two orders of magnitude cheaper. Non-finite components
    (a NaN centroid from dirty embeddings) have no bare-literal form, so
    they go through CAST('NaN'/'Infinity' AS DOUBLE)."""
    import math

    def one(v: float) -> str:
        if math.isfinite(v):
            return repr(v) + "D"
        s = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
        return f"CAST('{s}' AS DOUBLE)"

    return F.expr("array(" + ",".join(one(float(v)) for v in values) + ")")


def _ilit(values) -> "F.Column":
    return F.expr("array(" + ",".join(str(int(v)) for v in values) + ")")


#: built literal Columns memoized per centroid set: Columns are immutable
#: plan fragments, so reusing them across queries skips both the py4j
#: construction and the SQL parse on every call after the first.
_LITERAL_CACHE: dict = {}


def _centroid_literals(centroids):
    """(flat matrix M, half-norms N2, norms N, cids CID, dim) as cached
    literal Columns for the assignment / probe-ranking expressions."""
    import math

    key = tuple((int(c), tuple(float(x) for x in v)) for c, v in centroids)
    hit = _LITERAL_CACHE.get(key)
    if hit is None:
        dim = len(centroids[0][1])
        flat = [x for _, v in centroids for x in v]
        half = [sum(x * x for x in v) / 2.0 for _, v in centroids]
        norms = [math.sqrt(sum(x * x for x in v)) or 1.0 for _, v in centroids]
        cids = [c for c, _ in centroids]
        hit = (_dlit(flat), _dlit(half), _dlit(norms), _ilit(cids), dim)
        _LITERAL_CACHE[key] = hit
    return hit


def assign_centroid_expr(centroids, vec):
    """Map-only nearest-centroid expression: argmax over (v·c − ||c||²/2)
    via ONE literal flat centroid matrix + transform/array_max HOFs.

    Expression size is O(1) in num_centroids (three array literals), unlike
    per-centroid unrolling which costs seconds of analysis/codegen at k=16
    and grows without bound — and unlike a broadcast-join + groupBy(argmax)
    formulation it shuffles NOTHING: assignment stays a pure map over the
    corpus, which is the property that matters at 10^10 rows. Each score is
    computed exactly once (transform then array_max); ties break to the
    smallest cid via the negated second struct field."""
    M, N2, _, CID, dim = _centroid_literals(centroids)
    idxs = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
    entries = F.transform(
        idxs,
        lambda i: F.struct(
            (
                F.aggregate(
                    F.zip_with(vec, F.slice(M, i * dim + 1, dim), lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                - F.element_at(N2, i + 1)
            ).alias("s"),
            (-F.element_at(CID, i + 1)).alias("neg_cid"),
        ),
    )
    return -F.array_max(entries)["neg_cid"]


def assign_centroid_pandas_exact(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    out_col: str = "centroid",
) -> DataFrame:
    """Bit-exact numpy twin of :func:`assign_centroid_expr`: same scores
    (per-dimension products accumulated in float64 in index order — the
    vector is promoted to double before each multiply, exactly like the
    Catalyst ``zip_with`` with a double centroid literal), same
    ``sum(x*x)/2`` half-norms computed with the identical python fold as
    ``_centroid_literals``, same smallest-cid tie-break. Unlike
    :func:`assign_centroid_pandas` (free-order BLAS), this one can be
    swapped for the expression form without moving a single assignment,
    so it is safe for stored indexes built by either."""
    import numpy as np

    cids = np.asarray([int(c) for c, _ in centroids])
    order = np.argsort(cids, kind="stable")
    cids = cids[order]
    vecs = [centroids[i][1] for i in order]
    C = np.asarray(vecs, dtype="float64")
    # EXACT same fold as _centroid_literals: python float sequential sum
    half = np.asarray([sum(x * x for x in v) / 2.0 for v in vecs])
    CT = np.ascontiguousarray(C.T)

    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, IntegerType())]
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf):
                V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
                acc = np.zeros((len(pdf), len(cids)), dtype=np.float64)
                for kk in range(CT.shape[0]):
                    acc += np.multiply.outer(V[:, kk], CT[kk])
                acc -= half
                pdf = pdf.assign(
                    **{out_col: cids[acc.argmax(axis=1)].astype("int32")}
                )
            else:
                pdf = pdf.assign(**{out_col: np.array([], dtype="int32")})
            yield pdf

    return df.mapInPandas(assign, schema=out_schema)


def assign_centroid_pandas(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    out_col: str = "centroid",
) -> DataFrame:
    """Nearest-centroid assignment as ONE numpy matmul per Arrow batch —
    the vectorized sibling of :func:`assign_centroid_expr` for wide
    vectors / large centroid counts where the interpreted HOF loses to
    BLAS. Same objective (argmax of v·c − ||c||²/2) and the same
    smallest-cid tie-break (cids are sorted ascending and np.argmax takes
    the first maximum).

    Still a pure map: no shuffle, no collect; the centroid matrix ships
    by closure (it is index metadata, KBs). CAVEAT for bit-determinism:
    the HOF path folds v·c sequentially while BLAS sums pairwise, so a
    vector whose top-2 scores differ by < float-fold error may flip
    buckets between the two paths — irrelevant for ANN recall, but pin
    one path per stored index (test_ivf asserts the two agree on the
    test corpora)."""
    import numpy as np

    cids = np.asarray([int(c) for c, _ in centroids])
    order = np.argsort(cids, kind="stable")
    cids = cids[order]
    C = np.asarray([v for _, v in centroids], dtype="float64")[order]
    half = 0.5 * (C * C).sum(axis=1)

    from pyspark.sql.types import IntegerType, StructField, StructType

    # a NEW StructType — StructType.add mutates (and returns) the receiver,
    # and df.schema hands back the DataFrame's CACHED schema object, so
    # .add() on it corrupts df's own column list
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, IntegerType())]
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf):
                V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
                scores = V @ C.T - half
                pdf = pdf.assign(
                    **{out_col: cids[scores.argmax(axis=1)].astype("int32")}
                )
            else:
                pdf = pdf.assign(**{out_col: np.array([], dtype="int32")})
            yield pdf

    return df.mapInPandas(assign, schema=out_schema)


def _train_centroids_numpy(sample_rows, num_centroids: int, iterations: int):
    """Deterministic Lloyd iterations over a bounded sample, driver-side in
    numpy — the FAISS recipe: the coarse quantizer is trained on a sample
    (size ≤ num_centroids × sample_per_centroid, INDEPENDENT of corpus
    size), never on the full corpus. Init = first k sample rows (the sample
    itself is hash-ordered, so this is a deterministic pseudo-random pick);
    empty clusters keep their previous centroid."""
    import numpy as np

    X = np.asarray(sample_rows, dtype="float64")
    C = X[:num_centroids].copy()
    for _ in range(iterations):
        # argmax of x·c − ||c||²/2  ==  argmin squared L2
        scores = X @ C.T - 0.5 * (C * C).sum(axis=1)
        assign = scores.argmax(axis=1)
        for c in range(num_centroids):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return [(i, [float(x) for x in C[i]]) for i in range(num_centroids)]


#: process-level memo of trained coarse quantizers. Training is fully
#: deterministic (hash-ordered bounded sample, fixed init), so a cache hit is
#: bit-identical to retraining — it only skips the sample collect + Lloyd
#: iterations. At production scale the centroids are write-once index
#: metadata persisted beside the data (see :func:`ivf_write`); this cache is
#: the in-process stand-in for "load the index metadata instead of
#: rebuilding it per query".
_CENTROID_CACHE: dict = {}


def ivf_assign(
    df: DataFrame,
    num_centroids: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_per_centroid: int = 256,
    centroids: "list | None" = None,
    cache_key=None,
    method: str = "exact",
):
    """IVF coarse quantizer. Returns (assignments df with ``centroid``
    column, centroids as a python list of (cid, vector)).

    ``method``: ``"exact"`` (default) assigns via
    :func:`assign_centroid_pandas_exact` — the vectorized numpy twin of
    the expression fold, producing IDENTICAL assignments to ``"expr"``
    at a fraction of the interpreted-HOF cost; ``"expr"`` keeps the
    O(1)-size literal HOF expression inside the JVM (composes with other
    Catalyst exprs); ``"pandas"`` routes through
    :func:`assign_centroid_pandas` (free-order BLAS) — fastest for wide
    vectors, but see its bit-determinism caveat. All are pure maps;
    "exact" and "expr" are interchangeable per stored index, "pandas"
    is not.

    Scale shape (the round-1 design ran Lloyd over the FULL corpus with a
    per-centroid ``collect_list`` of member vectors — an executor OOM at
    scale and 2 extra full-corpus jobs):

    * k-means is trained on a deterministic bounded sample
      (num_centroids × sample_per_centroid rows, hash-ordered top-n ⇒ a
      TakeOrderedAndProject, no shuffle) driver-side in numpy — sample size
      is independent of corpus size, so this is metadata-scale work.
    * the corpus is assigned ONCE, lazily, via :func:`assign_centroid_expr`
      — a pure map (no shuffle, no collect), typically fused into the
      consumer's scan. At true 100 TB scale this column is what you'd
      precompute at write time and store as a partition key.
    """
    # a small input (fewer files than cores) is spread with one
    # round-robin repartition first: the assignment is embarrassingly
    # parallel and otherwise pins to the input's file count (same rule as
    # minhash/simhash via the shared helper, which probes inputFiles()
    # instead of forcing a plan→RDD translation; a no-op at scale where
    # the scan already has >= core-count partitions)
    from kafka_connect_gcs_spark.operators.util import spread_small_input

    df = spread_small_input(df)
    memo_key = (
        cache_key, num_centroids, iterations, seed, sample_per_centroid,
        id_col, vec_col,
    )
    if centroids is None and cache_key is not None:
        centroids = _CENTROID_CACHE.get(memo_key)
    if centroids is None:
        sample = (
            df.select(vec_col)
            .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
            .limit(num_centroids * sample_per_centroid)
            .collect()
        )
        centroids = _train_centroids_numpy(
            [[float(x) for x in r[0]] for r in sample], num_centroids, iterations
        )
        if cache_key is not None:
            _CENTROID_CACHE[memo_key] = centroids
    if method == "pandas":
        assigned = assign_centroid_pandas(df, centroids, vec_col=vec_col)
    elif method == "exact":
        # numpy twin of the expression fold — identical assignments
        # (see assign_centroid_pandas_exact), vectorized per Arrow batch
        assigned = assign_centroid_pandas_exact(df, centroids, vec_col=vec_col)
    else:
        assigned = df.withColumn(
            "centroid", assign_centroid_expr(centroids, F.col(vec_col))
        )
    return assigned, centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    iterations: int = 3,
    centroids: "list | None" = None,
    cache_key=None,
    assign_method: str = "exact",
) -> DataFrame:
    """IVF approximate top-k: assign corpus to centroids once, then score
    each query only against its ``nprobe`` nearest centroid buckets — the
    classic recall/cost dial (nprobe=num_centroids ⇒ exact brute force).
    At 100 TB the corpus assignment is a write-once partitioning column and
    the per-query work drops by ~num_centroids/nprobe.

    Pass ``centroids`` (e.g. the return value of :func:`ivf_write`) to reuse
    a trained quantizer, or ``cache_key`` to memoize training per corpus —
    the index is metadata you build once, not per query. The memo trusts
    the key: if the data under a key is REGENERATED, use a new key (or
    pass centroids explicitly) — like any index, stale metadata over new
    data degrades recall silently."""
    assigned, centroids = ivf_assign(
        corpus,
        num_centroids=num_centroids,
        iterations=iterations,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        centroids=centroids,
        cache_key=cache_key,
        method=assign_method,
    )
    import math

    # rank centroids per query on the driver? No — queries live in a df.
    # centroids are tiny: per-query probe set from the same compact literal
    # matrix (expression size O(1) in num_centroids).
    def probe_set_expr(qvec_col):
        M, _, N, CID, dim = _centroid_literals(centroids)
        idxs = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
        scores = F.transform(
            idxs,
            lambda i: F.struct(
                (
                    F.aggregate(
                        F.zip_with(
                            qvec_col, F.slice(M, i * dim + 1, dim), lambda a, b: a * b
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                    / F.element_at(N, i + 1)
                ).alias("s"),
                (-F.element_at(CID, i + 1)).alias("neg_cid"),
            ),
        )
        arr = F.sort_array(scores, asc=False)
        return F.transform(F.slice(arr, 1, nprobe), lambda s: -s["neg_cid"])

    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    ).withColumn("_probes", probe_set_expr(F.col("_qvec")))
    qx = q.select(query_id_col, "_qvec", F.explode("_probes").alias("centroid"))
    scored = (
        assigned.join(F.broadcast(qx), "centroid")
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col("_qvec"), F.col(vec_col)), 6).alias("sim"),
        )
    )
    return topk_per_query(scored, k, query_id_col=query_id_col, id_col=id_col)


def ivf_write(
    corpus: DataFrame,
    path: str,
    num_centroids: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    assign_method: str = "exact",
) -> list:
    """The true 100 TB shape: assign ONCE at write time and store the
    corpus PARTITIONED BY centroid. Queries then touch only their nprobe
    partitions via partition pruning — the inverted-file property becomes a
    storage-layout property, and the per-query scan cost drops by
    ~num_centroids/nprobe at the source instead of at the join.
    Returns the trained centroids (persist them beside the data; they are
    the index metadata)."""
    assigned, centroids = ivf_assign(
        corpus,
        num_centroids=num_centroids,
        iterations=iterations,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        method=assign_method,
    )
    (
        assigned.repartition("centroid")
        .write.mode("overwrite")
        .partitionBy("centroid")
        .parquet(path)
    )
    return centroids


def ivf_topk_prepartitioned(
    spark,
    path: str,
    centroids: list,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN over an :func:`ivf_write` store. The probe-set filter lands on
    the partition column, so Spark's partition pruning skips every
    non-probed directory at scan planning time (visible as PartitionFilters
    in the plan) — no bytes read from unprobed buckets."""
    store = spark.read.parquet(path)
    # ONE collect of the (small, broadcastable) query set; probe ranking per
    # query once, the partition-pruning set derived from the same pairs
    qrows = queries.select(query_id_col, vec_col).collect()
    probe_pairs = [
        (int(r[0]), int(c))
        for r in qrows
        for c in _probe_centroids(centroids, r[1], nprobe)
    ]
    probed = sorted({c for _, c in probe_pairs})
    pruned = store.where(F.col("centroid").isin(probed))
    # per-query probe membership re-checked on the (broadcast) join so each
    # query only scores ITS buckets, not the union of all queries' buckets
    qdf = local_frame(
        spark,
        [(int(r[0]), [float(x) for x in r[1]]) for r in qrows],
        f"{query_id_col} long, _qvec array<float>",
    )
    pdf = local_frame(spark, probe_pairs, f"{query_id_col} long, centroid int")
    scored = (
        pruned.join(F.broadcast(pdf), "centroid")
        .join(F.broadcast(qdf), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col("_qvec"), F.col(vec_col)), 6).alias("sim"),
        )
    )
    return topk_per_query(scored, k, query_id_col=query_id_col, id_col=id_col)


def _probe_centroids(centroids, qvec, nprobe: int) -> list:
    """Driver-side probe ranking for a single query vector (centroids are
    index metadata — tiny). Matches ivf_topk's cosine probe ranking."""
    import math

    qv = [float(x) for x in qvec]
    scored = []
    for cid, cv in centroids:
        d = sum(a * b for a, b in zip(qv, cv))
        n = math.sqrt(sum(x * x for x in cv)) or 1.0
        scored.append((d / n, -int(cid)))
    scored.sort(reverse=True)
    return [-neg for _, neg in scored[:nprobe]]


def rp_bucket(vec, num_planes: int = 8, seed: int = 42, dim: int = 64):
    """Random-hyperplane LSH bucket id: bit p = sign(v · plane_p), plane
    components derived from xxhash64(seed, p, d) → uniform in [-1, 1].
    Deterministic, stateless, identical on every executor."""
    bits = []
    for p in range(num_planes):
        plane = F.array(
            *[
                (
                    F.pmod(F.xxhash64(F.lit(seed), F.lit(p), F.lit(d)), F.lit(2001))
                    - 1000
                ).cast("double")
                / 1000.0
                for d in range(dim)
            ]
        )
        bits.append(
            F.when(dot(vec, plane) >= 0, F.shiftleft(F.lit(1), p)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


#: plane matrices collected once per (seed, num_planes, dim) — pure
#: constants (xxhash64 of literals), so a cache hit is bit-identical
_PLANE_CACHE: dict = {}


def _rp_planes_numpy(spark, num_planes: int, seed: int, dim: int):
    """The rp_bucket hyperplane constants as a (num_planes, dim) float64
    ndarray, evaluated ONCE in the JVM (same xxhash64-derived literals the
    expression form folds) and memoized."""
    import numpy as np

    key = (seed, num_planes, dim)
    hit = _PLANE_CACHE.get(key)
    if hit is None:
        cols = [
            F.array(
                *[
                    (
                        F.pmod(
                            F.xxhash64(F.lit(seed), F.lit(p), F.lit(d)),
                            F.lit(2001),
                        )
                        - 1000
                    ).cast("double")
                    / 1000.0
                    for d in range(dim)
                ]
            ).alias(f"_p{p}")
            for p in range(num_planes)
        ]
        row = spark.range(1).select(*cols).first()
        hit = np.asarray([list(row[f"_p{p}"]) for p in range(num_planes)])
        _PLANE_CACHE[key] = hit
    return hit


def rp_bucket_pandas(
    df: DataFrame,
    num_planes: int = 8,
    seed: int = 42,
    dim: int = 64,
    vec_col: str = "embedding",
    out_col: str = "bkt",
) -> DataFrame:
    """Bit-exact numpy twin of :func:`rp_bucket` as a mapInPandas pass:
    same plane constants (collected from the JVM once), same
    index-order float64 accumulation as the zip_with fold, same
    ``dot ≥ 0`` sign rule and bit packing — a vector lands in the
    identical bucket, so downstream pair recall is unchanged. The
    expression form interprets ``num_planes × 2·dim`` lambda ops per row
    (measured 2-3 s for 20k×64 at sf1.0 before any pairing work); this
    runs one vectorized pass per Arrow batch."""
    import numpy as np

    from kafka_connect_gcs_spark.operators.util import spread_small_input

    P = _rp_planes_numpy(df.sparkSession, num_planes, seed, dim)
    kind = _np_elem_kind(df, vec_col)
    np_in = {"int": np.int64, "float": np.float32, "double": np.float64}[kind]

    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, IntegerType())]
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf):
                V = np.stack(pdf[vec_col].to_numpy()).astype(np_in, copy=False)
                # index-order accumulation — the zip_with fold twin (the
                # element product is double: plane components are double)
                acc = np.zeros((len(pdf), P.shape[0]), dtype=np.float64)
                Vd = V.astype(np.float64)
                for d in range(P.shape[1]):
                    acc += np.multiply.outer(Vd[:, d], P[:, d])
                bits = (acc >= 0.0).astype(np.int32) << np.arange(
                    P.shape[0], dtype=np.int32
                )
                pdf = pdf.assign(**{out_col: bits.sum(axis=1).astype("int32")})
            else:
                pdf = pdf.assign(**{out_col: np.array([], dtype="int32")})
            yield pdf

    return spread_small_input(df).mapInPandas(assign, schema=out_schema)


def neardup_pairs_cosine(
    df: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    exact: bool = False,
) -> DataFrame:
    """Pairs with cosine ≥ threshold. exact=True does the full n² self-join
    (oracle path); otherwise candidates come from matching random-hyperplane
    buckets (high-cosine pairs collide with high probability; multi-probe
    by also joining on neighbor buckets is left to callers needing recall).

    The bucketed path scores each bucket's intra-bucket pairs in one
    vectorized numpy pass per group (guide §4.2) instead of a per-pair
    interpreted-HOF cosine on the bucket self-join — `_pair_sims` replays
    the fold arithmetic bit-exactly, so qualifying pairs and their sims
    are hash-identical to the expression form (asserted by the
    lsh-vs-exact consistency tests). Candidate volume is unchanged
    (Σ bucket², never n²); what changes is only the per-pair cost."""
    if exact:
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
        return (
            pairs.select(
                "id_a",
                "id_b",
                F.round(cosine(F.col("v_a"), F.col("v_b")), 6).alias("sim"),
            )
            .where(F.col("sim") >= threshold)
            .dropDuplicates(["id_a", "id_b"])
        )

    import numpy as np

    kind = _np_elem_kind(df, vec_col)
    np_in = {"int": np.int64, "float": np.float32, "double": np.float64}[kind]
    thr = float(threshold)
    id_type = df.schema[id_col].dataType.simpleString()

    def bucket_pairs(pdf):
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        pdf = pdf.sort_values("_id", kind="mergesort")
        ids = pdf["_id"].to_numpy()
        V = np.stack(pdf["_v"].to_numpy()).astype(np_in, copy=False)
        out_a, out_b, out_s = [], [], []
        # block the pair matrix so a hot bucket can't allocate O(n²) at once
        step = 4096
        for i0 in range(0, n, step):
            A = V[i0 : i0 + step]
            for j0 in range(i0, n, step):
                sims = _pair_sims(A, V[j0 : j0 + step], kind)
                if i0 == j0:
                    iu, ju = np.triu_indices(len(A), k=1)
                else:
                    iu, ju = np.indices(sims.shape)
                    iu, ju = iu.reshape(-1), ju.reshape(-1)
                s = sims[iu, ju]
                keep = s >= thr
                out_a.append(ids[i0 + iu[keep]])
                out_b.append(ids[j0 + ju[keep]])
                out_s.append(s[keep])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "sim": np.concatenate(out_s),
            }
        )

    # bucket assignment via the bit-exact numpy twin (identical buckets,
    # so pair recall is unchanged); rp_bucket_pandas also spreads a
    # few-file input so neither the bucket pass nor the upstream vector
    # projection pins to the scan's 1-2 tasks
    bucketed = rp_bucket_pandas(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        num_planes,
        dim=dim,
        vec_col="_v",
        out_col="bkt",
    )
    # pin the bucket shuffle at full parallelism: the vectors are only a
    # few MB so AQE coalesces the groupBy exchange to 2-3 partitions, but
    # the stage's cost is per-bucket PAIR work (quadratic in bucket size),
    # not bytes — measured 1.7 s on 3 tasks vs spread across the cores.
    # An explicit keyed repartition is reused by the groupBy (guide §2.4),
    # so this is still exactly one exchange.
    P = bucketed.sparkSession.sparkContext.defaultParallelism
    pairs = bucketed.repartition(P, "bkt").groupBy("bkt").applyInPandas(
        bucket_pairs, schema=f"id_a {id_type}, id_b {id_type}, sim double"
    )
    return pairs.dropDuplicates(["id_a", "id_b"])


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    exact: bool = False,
) -> DataFrame:
    """Embedding-space near-duplicate REMOVAL decision (SemDeDup, Abbas
    et al. 2023, arXiv:2303.09540): docs whose embeddings sit within
    cosine ``threshold`` of each other are transitively clustered and all
    but one representative per cluster marked for dropping. Returns the
    input plus ``keep_id`` (the surviving doc of this doc's cluster — the
    smallest id, itself for singletons) and ``is_drop``.

    The paper clusters with k-means and compares within clusters; here the
    cluster proxy is the deterministic random-hyperplane bucket of
    :func:`neardup_pairs_cosine` (same effect — candidate pairs are
    generated within buckets, never across the full n²), and the
    transitive closure is :func:`~kafka_connect_gcs_spark.operators.\
dedup_text.connected_components` (hash-to-min label propagation with
    pointer jumping, O(log diameter) distributed rounds).

    100 TB shape: the self-join is per-bucket; only qualifying PAIRS
    (metadata-scale: two ids + a sim) reach the CC loop. The final
    decision is a skinny (id, keep_id, drop) relation equi-joined back
    on the corpus id: when the dup-cluster membership is small it
    broadcasts (AQE picks that up from the CC output's runtime size);
    otherwise the corpus pays exactly ONE exchange on its id — the floor
    for attaching a per-doc verdict — and callers that only need the
    SURVIVORS should drop via a LEFT ANTI join against
    ``dec.where(is_drop)`` instead, which prunes before any wide payload
    moves.
    """
    from kafka_connect_gcs_spark.operators.dedup_text import (
        neardup_dedup_decision,
    )

    pairs = neardup_pairs_cosine(
        df,
        threshold=threshold,
        num_planes=num_planes,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        exact=exact,
    )
    dec = neardup_dedup_decision(pairs).select(
        F.col("doc_id").alias(id_col),
        "keep_id",
        F.col("drop").alias("is_drop"),
    )
    return df.join(dec, id_col, "left").select(
        *[df[c] for c in df.columns],
        F.coalesce(F.col("keep_id"), F.col(id_col)).alias("keep_id"),
        F.coalesce(F.col("is_drop"), F.lit(False)).alias("is_drop"),
    )


def decontaminate_embeddings(
    corpus: DataFrame,
    reference: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic decontamination: flag corpus vectors whose max cosine
    against a reference/eval embedding set reaches ``threshold`` — the
    embedding-space complement of the n-gram probes (bloom_decontaminate
    catches verbatim text; this catches paraphrases that share the
    eval item's embedding neighborhood).

    Scale shape: the reference set is MAP-ONLY — eval suites are
    KBs-to-MBs (index metadata, like IVF centroids), so the vectors ship
    to every task by closure and each Arrow batch of the corpus scores
    against the whole reference matrix in one vectorized numpy pass
    (guide §4.2). The corpus never shuffles; output rides the scan.

    The numpy arithmetic is the bit-exact twin of the previous Catalyst
    HOF formulation (`_pair_sims`: element-dtype products, float64
    index-order accumulation, HALF_UP rounding), so results are
    hash-identical — the prior plan evaluated the interpreted fold
    |corpus|·|refs|·dim times on however many partitions the (tiny)
    parquet scan had, which at sf1.0 was ONE task for ~8 minutes.
    """
    import numpy as np

    from kafka_connect_gcs_spark.operators.util import spread_small_input

    kind = _np_elem_kind(corpus, vec_col)
    ref_rows = reference.select(vec_col).collect()
    np_in = {"int": np.int64, "float": np.float32, "double": np.float64}[kind]
    R = (
        np.array([list(r[0]) for r in ref_rows], dtype=np_in)
        if ref_rows
        else np.zeros((0, 1), dtype=np_in)
    )
    thr = float(threshold)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            C = np.stack(pdf[vec_col].to_numpy()).astype(np_in, copy=False)
            if len(R):
                # bound the per-slice (rows × refs) temporaries
                step = max(1, 4_000_000 // len(R))
                max_sim = np.empty(n, dtype=np.float64)
                n_hits = np.empty(n, dtype=np.int64)
                for s in range(0, n, step):
                    sims = _pair_sims(C[s : s + step], R, kind)
                    max_sim[s : s + step] = sims.max(axis=1)
                    n_hits[s : s + step] = (sims >= thr).sum(axis=1)
            else:
                max_sim = np.zeros(n, dtype=np.float64)
                n_hits = np.zeros(n, dtype=np.int64)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "max_sim": max_sim,
                    "n_hits": n_hits,
                    "contaminated": max_sim >= thr,
                }
            )

    out_schema = (
        f"{id_col} {corpus.schema[id_col].dataType.simpleString()}, "
        "max_sim double, n_hits bigint, contaminated boolean"
    )
    return spread_small_input(corpus.select(id_col, vec_col)).mapInPandas(
        score, schema=out_schema
    )
