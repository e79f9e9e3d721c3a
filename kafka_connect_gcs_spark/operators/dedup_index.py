"""Incremental near-dup dedup against a STORED minhash signature index.

The batch-vs-lake pattern a 100 TB ingest pipeline actually needs: lake
signatures are computed ONCE at index-build time (cost ∝ corpus, amortized
like :func:`~kafka_connect_gcs_spark.operators.similarity.ivf_write`'s
centroid store), and each incoming micro-batch then dedups against the
index at cost ∝ batch:

* the batch's banded bucket keys are BROADCAST against the index scan, so
  the (huge) index side never shuffles — candidate generation is a
  map-side join over ``buckets/``;
* similarity is the minhash signature agreement (an unbiased Jaccard
  estimate, the same statistic ``minhash_lsh_pairs`` uses as its
  prefilter) — no shingle sets are stored or re-read, keeping the index
  at H longs per doc.

Index layout (self-describing — readers take parameters from the index,
never from call sites, so a drifting config can't silently mis-bucket):

    {path}/params.json      num_hashes / bands / shingle_n / portable
                            / bucket_parts
    {path}/sigs/            (doc_id, sig array<long>)         parquet
    {path}/buckets/         (doc_id, band, bucket)            parquet,
                            hash-partitioned by bucket_part =
                            xxhash64(bucket) % bucket_parts so probes
                            prune files (absent in legacy indexes →
                            full scan, still correct)

No reference analog (the connector stores byte records); part of the
training-data-pipeline surface built on top.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_gcs_spark.operators.dedup_text import (
    _minhash_of_shingles,
    staged_shingles,
)
from kafka_connect_gcs_spark.operators.util import local_frame


def _band_bucket(sig_col, bidx: int, rows_per_band: int, portable: bool):
    """Same bucket derivation as minhash_lsh_pairs: portable → the band's
    sig values joined ':' (DuckDB-reproducible), else one xxhash64."""
    members = [
        F.element_at(sig_col, bidx * rows_per_band + r + 1)
        for r in range(rows_per_band)
    ]
    if portable:
        return F.concat_ws(":", *[m.cast("string") for m in members])
    return F.xxhash64(F.lit(bidx), *members).cast("string")


def doc_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    shingle_n: int = 3,
    portable: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, sig) — ONE row per document, the single pass over text.

    This is the expensive scan (tokenize → shingle → H minhash lanes);
    everything band-shaped derives from its skinny output via
    :func:`explode_bands` without touching the text again.
    """
    # words → shingles → sig in STAGED projections: inlining the shingle
    # expression into the 16 minhash lanes re-tokenizes each doc per lane
    # (interpreted HOFs have no CSE) — measured 11× slower
    return staged_shingles(df, id_col, text_col, shingle_n).select(
        F.col(id_col).alias("doc_id"),
        _minhash_of_shingles(F.col("sh"), num_hashes, portable).alias("sig"),
    )


def explode_bands(
    sigs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    portable: bool = False,
) -> DataFrame:
    """(doc_id, sig, band, bucket) from a ``(doc_id, sig)`` relation —
    map-only band/bucket derivation, ``bands`` rows per document."""
    rows_per_band = num_hashes // bands
    if rows_per_band * bands != num_hashes:
        raise ValueError("bands must divide num_hashes")
    return sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _band_bucket(F.col("sig"), b, rows_per_band, portable)
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


def banded_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    portable: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, sig, band, bucket) — ``bands`` rows per document."""
    return explode_bands(
        doc_signatures(
            df,
            num_hashes=num_hashes,
            shingle_n=shingle_n,
            portable=portable,
            id_col=id_col,
            text_col=text_col,
        ),
        num_hashes=num_hashes,
        bands=bands,
        portable=portable,
    )


def _params_path(path: str) -> str:
    return os.path.join(path, "params.json")


def minhash_index_write(
    df: DataFrame,
    path: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    portable: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_parts: int = 64,
) -> dict:
    """Build (overwrite) the signature index for a corpus. Returns the
    stored params.

    ``bucket_parts`` hash-partitions ``buckets/`` on disk by
    ``xxhash64(bucket) % bucket_parts`` so a probe can statically prune
    index files to the partitions its batch actually touches (the same
    write-time trick ``ivf_write`` uses with centroid partitions). Stored
    in params.json like every other layout parameter; 0 disables."""
    params = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "portable": portable,
        "bucket_parts": bucket_parts,
    }
    _write_index_rows(df, path, params, id_col, text_col, mode="overwrite")
    os.makedirs(path, exist_ok=True)
    tmp = _params_path(path) + ".inprogress"
    with open(tmp, "w") as f:
        json.dump(params, f)
    os.replace(tmp, _params_path(path))
    return params


def minhash_index_append(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: "str | None" = None,
    params: "dict | None" = None,
) -> dict:
    """Append a (deduplicated) batch to an existing index — incremental
    maintenance: after dedup keeps a batch's survivors, index them so the
    NEXT batch dedups against them too. Params come from the index.

    With ``batch_id`` the append is REPLAY-SAFE (the curation loop's
    exactly-once protocol, mirroring the table's committed-batch guard):

    1. an intent marker ``batches/{batch_id}.json`` (a flag file, no
       data) is written (atomic rename) BEFORE any index rows — from
       that point :func:`dedup_against_index` called with the same
       ``exclude_batch_id`` can reconstruct the pre-append probe state
       at any crash point: every appended sig/bucket row is STAMPED with
       its ``batch_id`` column, so exclusion is a pure column predicate
       on the index scan. (An earlier protocol listed every batch doc id
       in the marker and anti-joined the list — a driver-side O(batch)
       id collect and a JSON of millions of strings at production batch
       sizes; the stamp keeps the whole path distributed AND excludes
       only THIS batch's crash-orphaned rows, where the id list also
       dropped legitimately re-delivered ids from earlier batches.)
    2. the sig/bucket rows are appended (each carrying ``batch_id``);
    3. the marker is rewritten with ``done`` — a replay seeing ``done``
       skips the append entirely. A crash between 2 and 3 replays the row
       append, which can leave duplicate (doc_id, sig) rows — benign:
       candidate pairs are ``distinct()``-ed and the agreement estimate is
       identical per pair, so no decision changes.

    ``params`` bootstraps a missing index (first batch): params.json is
    written before the rows so the layout is always self-describing.
    """
    if batch_id is not None:
        marker = _read_batch_marker(path, batch_id)
        if marker is not None and marker.get("done"):
            return read_index_params(path)
        _write_batch_marker(path, batch_id, {"done": False})
    if not os.path.exists(_params_path(path)):
        if params is None:
            raise FileNotFoundError(
                f"no index at {path}; pass params= to bootstrap"
            )
        os.makedirs(path, exist_ok=True)
        tmp = _params_path(path) + ".inprogress"
        with open(tmp, "w") as f:
            json.dump(params, f)
        os.replace(tmp, _params_path(path))
    stored = read_index_params(path)
    _write_index_rows(
        df, path, stored, id_col, text_col, mode="append", batch_id=batch_id
    )
    if batch_id is not None:
        _write_batch_marker(path, batch_id, {"done": True})
    return stored


def read_index_params(path: str) -> dict:
    with open(_params_path(path)) as f:
        return json.load(f)


def _batch_marker_path(path: str, batch_id: str) -> str:
    import urllib.parse

    safe = urllib.parse.quote(batch_id, safe="")
    return os.path.join(path, "batches", safe + ".json")


def _read_batch_marker(path: str, batch_id: str) -> "dict | None":
    p = _batch_marker_path(path, batch_id)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_batch_marker(path: str, batch_id: str, payload: dict) -> None:
    p = _batch_marker_path(path, batch_id)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = p + ".inprogress"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, p)


def _has_parquet_files(d: str) -> bool:
    for _dir, _sub, files in os.walk(d):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _bucket_part(bucket_parts: int):
    return F.pmod(F.xxhash64(F.col("bucket")), F.lit(bucket_parts))


def _batch_stamp(batch_id: "str | None"):
    """The replay-exclusion stamp: NULL for full builds, the batch id for
    appends — exclusion is then a column predicate, never a driver list."""
    return F.lit(batch_id).cast("string").alias("batch_id")


def _write_buckets(
    banded, path, bucket_parts: int, mode: str, batch_id: "str | None" = None
) -> None:
    buckets = banded.select("doc_id", "band", "bucket", _batch_stamp(batch_id))
    writer = buckets.write.mode(mode)
    if bucket_parts:
        writer = buckets.withColumn(
            "bucket_part", _bucket_part(bucket_parts)
        ).write.mode(mode).partitionBy("bucket_part")
    writer.parquet(os.path.join(path, "buckets"))


def _write_index_rows(
    df, path, params, id_col, text_col, mode: str, batch_id: "str | None" = None
) -> None:
    bucket_parts = params.get("bucket_parts", 0)
    sig_params = {k: v for k, v in params.items() if k != "bucket_parts"}
    band_params = {
        "num_hashes": sig_params["num_hashes"],
        "bands": sig_params["bands"],
        "portable": sig_params["portable"],
    }
    sigs_dir = os.path.join(path, "sigs")
    if mode == "overwrite":
        # Full build: ONE pass over document text writes sigs/ directly —
        # nothing persisted, no band-duplicated sig arrays in a cache —
        # then buckets/ derives from re-reading the just-written skinny
        # sigs (H longs per doc, a map-only explode). The expensive text
        # scan runs exactly once; the former MEMORY_AND_DISK persist of
        # the 4×-duplicated banded relation (the build's worst-scaling
        # phase: cache materialization ~3.2× at 4 cores vs compute's
        # 3.6-4.5×) is gone entirely.
        sig_only = {k: v for k, v in sig_params.items() if k != "bands"}
        doc_signatures(
            df, id_col=id_col, text_col=text_col, **sig_only
        ).select("*", _batch_stamp(None)).write.mode(mode).parquet(sigs_dir)
        spark = df.sparkSession
        banded = explode_bands(
            spark.read.parquet(sigs_dir).drop("batch_id"), **band_params
        )
        _write_buckets(banded, path, bucket_parts, mode)
        return
    # Append (incremental micro-batch): re-reading sigs/ would return the
    # WHOLE index, not the batch, so the batch's banded relation is
    # persisted across the two writes instead — batch-scale, bounded.
    from pyspark import StorageLevel

    banded = banded_signatures(
        df, id_col=id_col, text_col=text_col, **sig_params
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # sigs stored once per doc (band rows all carry the same sig)
    banded.where(F.col("band") == 0).select(
        "doc_id", "sig", _batch_stamp(batch_id)
    ).write.mode(mode).parquet(sigs_dir)
    _write_buckets(banded, path, bucket_parts, mode, batch_id=batch_id)
    banded.unpersist()


def signature_agreement(a, b, num_hashes: int):
    """Fraction of agreeing minhash lanes — an unbiased Jaccard estimate."""
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v)) / float(
        num_hashes
    )


def _empty_dedup_result(new_docs: DataFrame, id_col: str) -> DataFrame:
    id_type = new_docs.schema[id_col].dataType.simpleString()
    return local_frame(
        new_docs.sparkSession,
        [],
        f"doc_id {id_type}, dup_of {id_type}, est_jaccard double",
    )


def dedup_against_index(
    new_docs: DataFrame,
    path: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_broadcast_rows: int = 4_000_000,
    eager: bool = True,
    missing_ok: bool = False,
    exclude_batch_id: "str | None" = None,
) -> DataFrame:
    """(doc_id, dup_of, est_jaccard) — for each NEW doc whose best index
    match has signature agreement ≥ threshold: the matched corpus doc (ties
    → highest estimate, then smallest dup_of). New docs with no match are
    absent (callers keep them). A doc whose own id is already indexed
    (re-delivery) never matches itself.

    Scale shape: the (huge) index side is never shuffled when the batch is
    small — both joins broadcast the batch-derived side, and an index
    written with ``bucket_parts`` lets the probe statically prune
    ``buckets/`` files to the batch's bucket partitions before the join.
    Broadcast is SIZE-GATED: a batch whose banded relation exceeds
    ``max_broadcast_rows`` (counted, not guessed — the relation is cached
    for the probe anyway) falls back to a shuffle join instead of pushing
    an over-limit broadcast through the driver. The returned result is
    eagerly materialized (it is ≤ one row per batch doc) so the temporary
    caches are released before returning — per-micro-batch callers don't
    accumulate cached relations.

    Tie-break is type-agnostic: ``min_by`` over ``(-est, old_id)`` takes
    the highest estimate then the smallest ``old_id`` under the column's
    natural ordering (strings included — no numeric negation of the id).

    ``eager=False`` returns the lazy probe plan instead (for plan
    inspection / composition); the temporary caches are then left to the
    returned plan's lifetime and LRU eviction.

    ``missing_ok=True`` turns an absent or still-empty index (no
    params.json, or params written but no data files yet — a bootstrap
    crash window) into an empty result instead of an error.

    ``exclude_batch_id`` is the replay half of the index append protocol
    (:func:`minhash_index_append` with ``batch_id``): if that batch's
    intent marker exists, rows STAMPED with that batch_id are filtered
    off BOTH index relations (a pure column predicate on the scans — no
    driver-side id list at any batch size), so a replayed micro-batch
    probes exactly the state the original attempt saw — without it, two
    near-duplicate docs in one batch would drop EACH OTHER on replay
    (each matching the other's crash-orphaned index rows) and both
    would be lost. Legacy indexes whose markers carry the old
    ``doc_ids`` list (pre-stamp layout) keep the anti-join fallback."""
    spark = new_docs.sparkSession
    if missing_ok and not os.path.exists(_params_path(path)):
        return _empty_dedup_result(new_docs, id_col)
    params = read_index_params(path)
    if missing_ok and not (
        _has_parquet_files(os.path.join(path, "sigs"))
        and _has_parquet_files(os.path.join(path, "buckets"))
    ):
        return _empty_dedup_result(new_docs, id_col)
    bucket_parts = params.get("bucket_parts", 0)
    sig_params = {k: v for k, v in params.items() if k != "bucket_parts"}
    new_b = banded_signatures(
        new_docs, id_col=id_col, text_col=text_col, **sig_params
    )
    from pyspark import StorageLevel

    new_b = new_b.persist(StorageLevel.MEMORY_AND_DISK)
    # ONE batch-scale job: materialize the cache, count it for the broadcast
    # gate, and collect the distinct bucket partitions the batch touches
    # (≤ bucket_parts values) for static file pruning on the index scan
    part_expr = (
        _bucket_part(bucket_parts) if bucket_parts else F.lit(0)
    ).alias("_p")
    stats = new_b.groupBy(part_expr).agg(F.count(F.lit(1)).alias("c")).collect()
    n_banded = sum(r["c"] for r in stats)
    small = n_banded <= max_broadcast_rows

    idx_buckets = spark.read.parquet(os.path.join(path, "buckets"))
    idx_sigs = spark.read.parquet(os.path.join(path, "sigs"))
    if exclude_batch_id is not None:
        marker = _read_batch_marker(path, exclude_batch_id)
        if marker is not None:
            if "batch_id" in idx_buckets.columns:
                # pure column predicate on the stamped rows — no driver
                # data path, and only THIS batch's crash-orphaned rows
                # are excluded (earlier rows for re-delivered ids keep
                # probing, exactly the pre-append state)
                not_this = F.col("batch_id").isNull() | (
                    F.col("batch_id") != exclude_batch_id
                )
                idx_buckets = idx_buckets.where(not_this)
                idx_sigs = idx_sigs.where(not_this)
            elif marker.get("doc_ids"):
                # legacy marker from the id-list protocol (pre-stamp
                # index layout): fall back to the anti-join it encoded
                excl = F.broadcast(
                    local_frame(
                        spark,
                        [(i,) for i in marker["doc_ids"]],
                        f"doc_id {new_docs.schema[id_col].dataType.simpleString()}",
                    )
                )
                idx_buckets = idx_buckets.join(excl, "doc_id", "left_anti")
                idx_sigs = idx_sigs.join(excl, "doc_id", "left_anti")
    if bucket_parts:
        touched = [r["_p"] for r in stats]
        idx_buckets = idx_buckets.where(F.col("bucket_part").isin(touched))
    probe = new_b.select("band", "bucket", F.col("doc_id").alias("_new_id"))
    cand = (
        idx_buckets.join(
            F.broadcast(probe) if small else probe, ["band", "bucket"]
        )
        .where(F.col("doc_id") != F.col("_new_id"))
        .select(F.col("_new_id").alias("new_id"), F.col("doc_id").alias("old_id"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # candidate pairs are bounded by the batch's bucket collisions, not the
    # corpus — but a hot bucket can inflate them, so gate on the REAL count
    # (the count also materializes the cache; the index is scanned once)
    cand_small = cand.count() <= max_broadcast_rows
    new_sigs = new_b.where(F.col("band") == 0).select(
        F.col("doc_id").alias("new_id"), F.col("sig").alias("_new_sig")
    )
    est = (
        idx_sigs.withColumnRenamed("doc_id", "old_id")
        .join(F.broadcast(cand) if cand_small else cand, "old_id")
        .join(F.broadcast(new_sigs) if small else new_sigs, "new_id")
        .select(
            "new_id",
            "old_id",
            F.round(
                signature_agreement(
                    F.col("sig"), F.col("_new_sig"), params["num_hashes"]
                ),
                6,
            ).alias("est"),
        )
        .where(F.col("est") >= threshold)
    )
    best = est.groupBy("new_id").agg(
        F.min_by(
            F.struct(F.col("old_id"), F.col("est")),
            F.struct((-F.col("est")).alias("neg_est"), F.col("old_id")),
        ).alias("b")
    )
    out = best.select(
        F.col("new_id").alias("doc_id"),
        F.col("b.old_id").alias("dup_of"),
        F.col("b.est").alias("est_jaccard"),
    )
    if not eager:
        return out
    out = out.localCheckpoint(eager=True)
    new_b.unpersist()
    cand.unpersist()
    return out
