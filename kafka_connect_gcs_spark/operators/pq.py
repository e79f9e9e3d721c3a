"""Product quantization (PQ) for embedding columns — the memory side of
the ANN story (Jégou/Douze/Schmid, TPAMI 2011).

At 100 TB an embedding corpus is dominated by vector bytes: 64-dim
float32 = 256 B/row, while an M=8/K=16 PQ code is 8 small ints (packable
to 4 B). The canonical large-scale layout is IVF for pruning
(:mod:`.similarity`) + PQ codes for in-bucket scoring: queries scan
codes, not vectors, via an asymmetric-distance lookup table (ADC).

Spark-first shapes:

* **training** is driver-side numpy over a deterministic bounded sample
  (hash-ordered ``limit``, size independent of corpus scale) — per
  subspace, the same Lloyd loop the IVF coarse quantizer uses. Codebooks
  are index METADATA (M·K·(dim/M) floats, KBs) persisted beside the
  data, not per-query state.
* **encoding** is a pure map (no shuffle): either an O(1)-size literal
  HOF expression per subspace, or one numpy pass per Arrow batch
  (``method="pandas"``). Encode once at write time, store the codes
  column, drop the raw vectors from the hot path.
* **ADC scoring** stays JVM-side: each query's lookup table (M·K
  doubles) is a ROW in a broadcast DataFrame, and the score is an
  ``aggregate`` over ``sequence(0, M-1)`` doing two ``element_at`` reads
  per subspace — no Python, no per-query plan growth, and the
  broadcast join keeps the corpus un-shuffled. Top-k finalizes through
  the bounded two-phase :func:`..similarity.topk_per_query`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _train_centroids_numpy, topk_per_query
from .util import local_frame


def l2_normalize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Replace ``vec_col`` with its unit-norm version (zero vectors pass
    through unchanged). Staged: the norm is projected first so the
    per-element divide reads an attribute instead of re-reducing the
    array per element (interpreted HOFs have no CSE)."""
    import math  # noqa: F401  (documentation symmetry with callers)

    staged = df.withColumn(
        "_nrm",
        F.sqrt(
            F.aggregate(F.col(vec_col), F.lit(0.0), lambda a, x: a + x * x)
        ),
    )
    out = staged.withColumn(
        vec_col,
        F.when(
            F.col("_nrm") > 0,
            F.transform(F.col(vec_col), lambda x: x / F.col("_nrm")),
        ).otherwise(F.col(vec_col)),
    )
    return out.drop("_nrm")


def pq_train(
    df: DataFrame,
    num_subspaces: int = 8,
    codes_per_subspace: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_per_code: int = 256,
) -> list:
    """Train PQ codebooks on a deterministic bounded sample. Returns
    ``codebooks``: a list of ``num_subspaces`` entries, each a list of
    ``(code, subvector)`` pairs — the portable metadata format shared by
    every encode/score path. Vectors are L2-normalized before sampling so
    ADC inner products approximate cosine."""
    sample = (
        l2_normalize(df.select(id_col, vec_col), vec_col)
        .select(vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(codes_per_subspace * sample_per_code)
        .collect()
    )
    rows = [[float(x) for x in r[0]] for r in sample]
    if not rows:
        raise ValueError("pq_train: input has no vectors to sample")
    if len(rows) < codes_per_subspace:
        raise ValueError(
            f"pq_train: sample of {len(rows)} vectors is smaller than "
            f"codes_per_subspace={codes_per_subspace}; k-means needs at "
            "least one vector per code"
        )
    dim = len(rows[0])
    if dim % num_subspaces:
        raise ValueError(f"dim {dim} not divisible by {num_subspaces} subspaces")
    d0 = dim // num_subspaces
    codebooks = []
    for m in range(num_subspaces):
        sub = [r[m * d0 : (m + 1) * d0] for r in rows]
        codebooks.append(
            _train_centroids_numpy(sub, codes_per_subspace, iterations)
        )
    return codebooks


def pq_encode_expr(codebooks, vec):
    """Codes array as a pure Catalyst expression: per subspace, argmax of
    (v_m·c − ||c||²/2) over a flat literal codebook (same O(1)-size
    literal trick as assign_centroid_expr; M small, so M literal arrays
    stay cheap). Tie-breaks to the smallest code."""
    from .similarity import _centroid_literals

    d0 = len(codebooks[0][0][1])

    # factory closure, NOT default-arg lambdas: F.transform inspects the
    # lambda's arity, and extra (defaulted) parameters would flip it into
    # the two-arg (element, index) form
    def scorer(M_, N2, CID, sub):
        def f(i):
            return F.struct(
                (
                    F.aggregate(
                        F.zip_with(
                            sub, F.slice(M_, i * d0 + 1, d0), lambda a, b: a * b
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                    - F.element_at(N2, i + 1)
                ).alias("s"),
                (-F.element_at(CID, i + 1)).alias("neg_cid"),
            )

        return f

    codes = []
    for m, cb in enumerate(codebooks):
        M_, N2, _, CID, _ = _centroid_literals(cb)
        sub = F.slice(vec, m * d0 + 1, d0)
        idxs = F.sequence(F.lit(0), F.lit(len(cb) - 1))
        entries = F.transform(idxs, scorer(M_, N2, CID, sub))
        codes.append((-F.array_max(entries)["neg_cid"]).cast("int"))
    return F.array(*codes)


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "expr",
    normalize: bool = True,
) -> DataFrame:
    """(id, codes array<int>) for the corpus — encode ONCE at write time;
    this narrow relation is what queries scan. Pure map either way;
    ``method="pandas"`` does one numpy argmax per Arrow batch (faster for
    many/wide subspaces, same caveat on float near-ties as
    assign_centroid_pandas)."""
    src = df.select(id_col, vec_col)
    if normalize:
        src = l2_normalize(src, vec_col)
    if method == "pandas":
        import numpy as np
        from pyspark.sql.types import (
            ArrayType,
            IntegerType,
            StructField,
            StructType,
        )

        # the id column keeps its ACTUAL type (string keys are common);
        # a hardcoded "long" would fail or silently coerce them
        out_schema = StructType(
            [
                StructField(id_col, src.schema[id_col].dataType),
                StructField("codes", ArrayType(IntegerType())),
            ]
        )

        d0 = len(codebooks[0][0][1])
        mats, halves, cid_arrays = [], [], []
        for cb in codebooks:
            cids = np.asarray([int(c) for c, _ in cb])
            order = np.argsort(cids, kind="stable")
            C = np.asarray([v for _, v in cb], dtype="float64")[order]
            mats.append(C)
            halves.append(0.5 * (C * C).sum(axis=1))
            cid_arrays.append(cids[order])

        def encode(batches):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
                cols = []
                for m, (C, h, cids) in enumerate(zip(mats, halves, cid_arrays)):
                    sub = V[:, m * d0 : (m + 1) * d0]
                    cols.append(cids[(sub @ C.T - h).argmax(axis=1)])
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy(),
                        "codes": list(np.stack(cols, axis=1).astype("int32")),
                    }
                )

        return src.mapInPandas(encode, schema=out_schema)
    return src.select(
        id_col, pq_encode_expr(codebooks, F.col(vec_col)).alias("codes")
    )


def _query_luts(codebooks, qrows):
    """(query_id, flat M·K LUT) rows for an already-normalized collected
    query set. LUT[m·K + code] = q_m · codebook_m[code]. Query ids pass
    through UNCOERCED — the caller builds the DataFrame schema from the
    query relation's actual id type."""
    M = len(codebooks)
    K = len(codebooks[0])
    d0 = len(codebooks[0][0][1])
    lut_rows = []
    for r in qrows:
        qv = [float(x) for x in r[1]]
        flat = [0.0] * (M * K)
        for m, cb in enumerate(codebooks):
            sub = qv[m * d0 : (m + 1) * d0]
            for cid, cv in cb:
                flat[m * K + int(cid)] = sum(a * b for a, b in zip(sub, cv))
        lut_rows.append((r[0], flat))
    return lut_rows


def _lut_schema(queries: DataFrame, query_id_col: str):
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField(query_id_col, queries.schema[query_id_col].dataType),
            StructField("_lut", ArrayType(DoubleType())),
        ]
    )


def _adc_score(codebooks):
    """ADC score column over (codes, _lut): Σ_m LUT[m·K + codes[m]] — two
    element_at reads per subspace, fully JVM-side."""
    M = len(codebooks)
    K = len(codebooks[0])
    return F.round(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(M - 1)),
            F.lit(0.0),
            lambda acc, m: acc
            + F.element_at(
                F.col("_lut"), m * K + F.element_at(F.col("codes"), m + 1) + 1
            ),
        ),
        6,
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance top-k over a PQ-coded corpus. The query set is
    collected once (|Q| is small — the same contract as every ANN query
    path here), each query becomes ONE row ``(query_id, flat M·K LUT)``
    in a broadcast relation, and the corpus-side score is
    ``Σ_m LUT[m·K + codes[m]]`` — two ``element_at`` reads per subspace
    inside the JVM. The corpus never shuffles; the only exchange is the
    bounded top-k finalization."""
    spark = codes.sparkSession
    qrows = l2_normalize(
        queries.select(query_id_col, vec_col), vec_col
    ).collect()
    luts = local_frame(
        spark, _query_luts(codebooks, qrows), _lut_schema(queries, query_id_col)
    )
    scored = codes.crossJoin(F.broadcast(luts)).select(
        query_id_col, id_col, _adc_score(codebooks).alias("sim")
    )
    return topk_per_query(scored, k, query_id_col=query_id_col, id_col=id_col)


def ivfpq_write(
    corpus: DataFrame,
    path: str,
    num_centroids: int = 16,
    num_subspaces: int = 8,
    codes_per_subspace: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple:
    """The full large-scale ANN layout in one write: the corpus is stored
    as ``(id, codes)`` PARTITIONED BY IVF centroid — FAISS's IVFPQ as a
    storage property. Returns ``(centroids, codebooks)``; persist both
    beside the data, they are the index metadata. Queries via
    :func:`ivfpq_topk_prepartitioned` then (a) prune non-probed centroid
    directories at scan planning (PartitionFilters) and (b) scan 8-int
    codes instead of raw vectors — the two cost cuts compose, which is
    exactly what a 10^10-row corpus needs (probe I/O ≈
    nprobe/num_centroids × codes_bytes)."""
    from .similarity import ivf_assign

    assigned, centroids = ivf_assign(
        corpus,
        num_centroids=num_centroids,
        iterations=iterations,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
    )
    codebooks = pq_train(
        corpus,
        num_subspaces=num_subspaces,
        codes_per_subspace=codes_per_subspace,
        iterations=iterations,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
    )
    normalized = l2_normalize(
        assigned.select(id_col, vec_col, "centroid"), vec_col
    )
    (
        normalized.select(
            id_col,
            pq_encode_expr(codebooks, F.col(vec_col)).alias("codes"),
            "centroid",
        )
        .repartition("centroid")
        .write.mode("overwrite")
        .partitionBy("centroid")
        .parquet(path)
    )
    return centroids, codebooks


def ivfpq_topk_prepartitioned(
    spark,
    path: str,
    centroids: list,
    codebooks,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN over an :func:`ivfpq_write` store: partition pruning on the
    probed centroid set (PartitionFilters — unprobed directories are
    never read), per-query probe membership re-checked on a broadcast
    pair relation, ADC scoring over the stored codes. No corpus shuffle;
    the one exchange is the bounded top-k finalization."""
    from .similarity import _probe_centroids

    store = spark.read.parquet(path)
    from pyspark.sql.types import IntegerType, StructField, StructType

    qrows = l2_normalize(
        queries.select(query_id_col, vec_col), vec_col
    ).collect()
    probe_pairs = [
        (r[0], int(c))
        for r in qrows
        for c in _probe_centroids(centroids, r[1], nprobe)
    ]
    probed = sorted({c for _, c in probe_pairs})
    pruned = store.where(F.col("centroid").isin(probed))
    pdf = local_frame(
        spark,
        probe_pairs,
        StructType(
            [
                StructField(query_id_col, queries.schema[query_id_col].dataType),
                StructField("centroid", IntegerType()),
            ]
        ),
    )
    luts = local_frame(
        spark, _query_luts(codebooks, qrows), _lut_schema(queries, query_id_col)
    )
    scored = (
        pruned.join(F.broadcast(pdf), "centroid")
        .join(F.broadcast(luts), query_id_col)
        .select(query_id_col, id_col, _adc_score(codebooks).alias("sim"))
    )
    return topk_per_query(scored, k, query_id_col=query_id_col, id_col=id_col)


def pq_refine_topk(
    corpus: DataFrame,
    codes: DataFrame,
    codebooks,
    queries: DataFrame,
    k: int = 5,
    expand: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ADC + exact refine — the canonical two-stage PQ search (FAISS
    ``IndexRefineFlat``): :func:`pq_adc_topk` over the compressed codes
    selects ``k·expand`` candidates per query, then ONLY those candidate
    rows are re-scored against the full-precision vectors and the exact
    top-k re-ranked. Quantization error now only costs recall when a true
    neighbor falls outside the expanded candidate set, so recall rises
    steeply with ``expand`` while the exact-scoring cost stays bounded at
    |Q|·k·expand dot products — independent of corpus size.

    100 TB shape: the candidate (query, id) relation is metadata-scale
    and broadcast, so the full-precision pass is a broadcast semi-join
    pruning the corpus scan — the corpus never shuffles; the only
    exchange is the final bounded top-k (and the store behind ``corpus``
    serves point-ish lookups: with :func:`ivfpq_write` the candidates
    cluster in the probed centroid partitions)."""
    from .similarity import cosine

    cands = pq_adc_topk(
        codes,
        codebooks,
        queries,
        k=k * expand,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    ).select(query_id_col, id_col)
    qvecs = queries.select(
        query_id_col, F.col(vec_col).alias("_qvec")
    )
    rescored = (
        corpus.select(id_col, vec_col)
        .join(F.broadcast(cands), id_col)
        .join(F.broadcast(qvecs), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("sim"),
        )
    )
    return topk_per_query(rescored, k, query_id_col=query_id_col, id_col=id_col)
