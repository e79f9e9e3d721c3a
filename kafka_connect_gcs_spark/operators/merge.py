"""MERGE upsert: apply a deduplicated change batch to an icebox table.

The reference has no joins (SURVEY §2 Part B) — its "merge" is implicit:
replayed files overwrite identical keys (BlockGZIPFileWriter.java:161-167)
and offsets only move forward (GCSSourceTask.java:261-270). The new engine
makes that explicit as the one join it needs: changes ⟗ target on doc_id
inside copy-on-write of only the affected files.

Scale properties (the reasons this survives 100 TB):

* Both join sides are unique on doc_id (changes are LWW-deduped first, the
  table is keyed), so the shuffle is |keys|-bounded, not |events|-bounded,
  and a hot key cannot skew the join — skew was already absorbed by the
  map-side-combining dedup.
* Copy-on-write touches only data files whose (min,max doc_id) manifest
  range intersects the batch's key set — computed as a broadcast range join
  in Spark (manifests are tiny), never by collecting keys to the driver.
* Monotone offsets: a change only wins if ``offset >= target.last_offset``
  — late replays of old events are ignored (A26 max-merge), making apply
  order-insensitive and replay-safe.
* The wide payload (token arrays) is read exactly ONCE per batch — the
  heavy pass that writes. Counters, pruning, lineage, and range bounds all
  come from narrow column-pruned passes; per-file live counts come free
  from parquet footers (reference gets its stats from a
  CountingOutputStream in the single write pass,
  BlockGZIPFileWriter.java:63-91).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_gcs_spark.config import EngineConfig
from kafka_connect_gcs_spark.icebox.table import Field, IceboxTable, ManifestEntry
from kafka_connect_gcs_spark.operators.dedup import lww_dedup
from kafka_connect_gcs_spark.operators.util import local_frame

#: canonical CDC target-table schema (input_hint payload + LWW bookkeeping).
#: ``deleted`` rows are TOMBSTONES: a delete must keep its (doc_id,
#: last_offset) watermark in the table, otherwise a stale pre-delete update
#: arriving in a later micro-batch would resurrect the row — the cross-batch
#: form of the reference's never-move-backwards rule (GCSSourceTask.java:261-270).
#: Readers filter tombstones via :func:`read_state`.
CDC_TABLE_FIELDS = (
    Field("doc_id", "string"),
    Field("tokens", "array<int>"),
    Field("n_tok", "int"),
    Field("source", "string"),
    Field("last_offset", "long"),
    Field("deleted", "boolean"),
)


def read_state(table: IceboxTable, version: int | None = None) -> DataFrame:
    """The user-facing final table state: live rows only (no tombstones).
    ``deleted`` uses null-as-live encoding (true = tombstone, null = live) so
    parquet footer null_counts double as per-file live-row stats."""
    return (
        table.read(version)
        .where(~F.coalesce(F.col("deleted"), F.lit(False)))
        .drop("deleted")
    )


_PARTITION_TOKEN_CACHE: dict[int, list[int]] = {}


def _partition_probe_tokens(spark: SparkSession, nb: int) -> list[int]:
    """For each shuffle partition i in [0, nb), find an int token t_i with
    ``pmod(murmur3(t_i), nb) == i``. Lets us do RANGE repartitioning via
    ``repartition(nb, pid)`` with ZERO sampling passes: bucket b is mapped
    to the token that lands exactly on partition b, so partition id ==
    range-bucket id (and AQE coalescing merges only ADJACENT ranges,
    keeping per-file min/max tight). One tiny Spark job, cached per nb."""
    if nb in _PARTITION_TOKEN_CACHE:
        return _PARTITION_TOKEN_CACHE[nb]
    probe = (
        spark.range(0, max(nb * 64, 1024))
        .select(
            F.col("id").cast("int").alias("t"),
            F.pmod(F.hash(F.col("id").cast("int")), F.lit(nb)).alias("p"),
        )
        .groupBy("p")
        .agg(F.min("t").alias("t"))
        .collect()
    )
    by_p = {r.p: r.t for r in probe}
    tokens = [by_p[i] for i in range(nb)]  # KeyError ⇒ widen the probe range
    _PARTITION_TOKEN_CACHE[nb] = tokens
    return tokens


def bounds_from_sample_list(sample: list[str], nb: int) -> list[str]:
    """Quantile upper bounds for nb range buckets from an already-collected
    key sample (order-insensitive; deduped preserving order)."""
    if not sample:
        return []
    sample = sorted(sample)
    bounds = []
    for i in range(1, nb):
        bounds.append(sample[min(i * len(sample) // nb, len(sample) - 1)])
    seen: set = set()
    out = []
    for b in bounds:
        if b not in seen:
            seen.add(b)
            out.append(b)
    return out


def range_bounds_from_sample(
    keys: DataFrame, col: str, nb: int, per_bucket: int = 64
) -> list[str]:
    """Upper bounds (exclusive of last) for nb range buckets of a string key
    column, from a bounded sample of the (narrow) key DataFrame — the
    driver-side analog of RangePartitioner's reservoir sampling, but run on
    skinny data we were scanning anyway."""
    n = nb * per_bucket
    # deterministic pseudo-random sample: top-n by key hash (planned as
    # TakeOrderedAndProject — no full shuffle, representative regardless of
    # the input's physical clustering, stable across replays)
    sample = [
        r[0]
        for r in keys.select(col)
        .orderBy(F.xxhash64(F.col(col)))
        .limit(n)
        .collect()
    ]
    return bounds_from_sample_list(sample, nb)


def range_repartition_no_sampling(
    df: DataFrame,
    col: str,
    bounds: list[str],
    sort_cols: list[str],
) -> DataFrame:
    """Range-cluster ``df`` by ``col`` using precomputed bounds — the effect
    of ``repartitionByRange`` WITHOUT its boundary-sampling pass (which
    re-executes the child plan; with an expensive upstream join that doubles
    the batch cost — measured). Bucket choice is a chained-comparison
    expression; bucket→partition routing uses murmur3 probe tokens."""
    nb = len(bounds) + 1
    spark = df.sparkSession
    tokens = _partition_probe_tokens(spark, nb)
    pid = F.lit(tokens[0])
    for i, b in enumerate(bounds):
        pid = F.when(F.col(col) > F.lit(b), F.lit(tokens[i + 1])).otherwise(pid)
    out = (
        df.withColumn("_pid", pid)
        .repartition(nb, F.col("_pid"))
        .sortWithinPartitions(*sort_cols)
        .drop("_pid")
    )
    return out


def prune_affected_files(
    spark: SparkSession,
    manifests: list[ManifestEntry],
    change_keys: DataFrame,
) -> list[str]:
    """Return the subset of data-file paths whose doc_id range may contain a
    changed key. Broadcast the (small) manifest list and range-join it with
    the distinct changed keys — distributed, driver only receives file paths.
    Files without stats are conservatively affected."""
    if not manifests:
        return []
    no_stats = [m.path for m in manifests if m.min_doc_id is None]
    ranged = [m for m in manifests if m.min_doc_id is not None]
    if not ranged:
        return no_stats
    ranges = local_frame(
        spark,
        [(m.path, m.min_doc_id, m.max_doc_id) for m in ranged],
        T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("lo", T.StringType()),
                T.StructField("hi", T.StringType()),
            ]
        ),
    )
    hit = (
        change_keys.select("doc_id")
        .distinct()
        .join(
            F.broadcast(ranges),
            (F.col("doc_id") >= F.col("lo")) & (F.col("doc_id") <= F.col("hi")),
            "inner",
        )
        .select("path")
        .distinct()
    )
    return no_stats + [r.path for r in hit.collect()]


def apply_changes(target: DataFrame, deduped: DataFrame) -> DataFrame:
    """changes ⟗ target on doc_id with LWW/monotone-offset resolution.

    deduped: one row per doc_id with (op, tokens, n_tok, source, offset).
    target:  CDC_TABLE_FIELDS rows, possibly plus EVOLVED extra columns.
    Returns the new state of the covered key space, with bookkeeping flags
    ``_ins/_upd/_del`` for observation (select them away before writing).

    Evolved columns the change events don't carry are PRESERVED from the
    target row whenever one exists (COW rewrites every row of a touched
    file — silently null-filling extras would lose data even for rows no
    change matched); they are null only for brand-new keys.
    """
    canonical = {f.name for f in CDC_TABLE_FIELDS}
    extras = [c for c in target.columns if c not in canonical]
    c = deduped.select(
        F.col("doc_id"),
        F.col("op").alias("_c_op"),
        F.col("tokens").alias("_c_tokens"),
        F.col("n_tok").alias("_c_n_tok"),
        F.col("source").alias("_c_source"),
        F.col("offset").alias("_c_offset"),
    )
    t = target.select(
        F.col("doc_id"),
        F.col("tokens").alias("_t_tokens"),
        F.col("n_tok").alias("_t_n_tok"),
        F.col("source").alias("_t_source"),
        F.col("last_offset").alias("_t_offset"),
        F.col("deleted").alias("_t_deleted"),
        *[F.col(x).alias(f"_t_{x}") for x in extras],
    )
    j = t.join(c, "doc_id", "full_outer")
    change_wins = F.col("_c_op").isNotNull() & (
        F.col("_t_offset").isNull() | (F.col("_c_offset") >= F.col("_t_offset"))
    )
    is_delete = change_wins & (F.col("_c_op") == "D")
    was_live = F.col("_t_offset").isNotNull() & ~F.coalesce(
        F.col("_t_deleted"), F.lit(False)
    )
    is_insert = change_wins & (F.col("_c_op") != "D") & ~was_live
    is_update = change_wins & (F.col("_c_op") != "D") & was_live
    merged = j.select(
        "doc_id",
        F.when(change_wins & ~is_delete, F.col("_c_tokens"))
        .when(~change_wins, F.col("_t_tokens"))
        .alias("tokens"),
        F.when(change_wins & ~is_delete, F.col("_c_n_tok"))
        .when(~change_wins, F.col("_t_n_tok"))
        .alias("n_tok"),
        F.when(change_wins & ~is_delete, F.col("_c_source"))
        .when(~change_wins, F.col("_t_source"))
        .alias("source"),
        F.when(change_wins, F.col("_c_offset")).otherwise(F.col("_t_offset")).alias("last_offset"),
        # tombstone encoding: true = deleted, NULL = live (never false).
        # Parquet footers then give per-file live counts for free via the
        # column's null_count statistic — no counting job after the write.
        F.when(
            F.when(change_wins, is_delete).otherwise(
                F.coalesce(F.col("_t_deleted"), F.lit(False))
            ),
            F.lit(True),
        ).alias("deleted"),
        *[F.col(f"_t_{x}").alias(x) for x in extras],
        is_insert.alias("_ins"),
        is_update.alias("_upd"),
        (is_delete & was_live).alias("_del"),
        (F.col("_t_offset").isNotNull() & ~change_wins & F.col("_c_op").isNotNull()).alias("_stale"),
        was_live.alias("_twl"),
    )
    # tombstones stay in the output (they carry the LWW watermark across
    # batches); read_state() filters them for consumers.
    return merged


def merge_into(
    table: IceboxTable,
    changes: DataFrame,
    batch_id: str,
    config: EngineConfig | None = None,
    lineage_rows: list | None = None,
    bounds_hint: list[str] | None = None,
    narrow_changes: DataFrame | None = None,
    affected_paths: list[str] | None = None,
    key_sample: list[str] | None = None,
    changed_keys: int | None = None,
) -> dict:
    """End-to-end exactly-once MERGE of a raw change batch.

    Returns the lineage/metrics dict that was committed with the snapshot
    (per-partition offsets, row counters, events/sec — A19/A29 analogs).
    Re-delivery of an already-committed batch_id is a committed no-op.

    ``lineage_rows``: optional precomputed per-partition Rows with fields
    (part, min_offset, max_offset, events) — lets the caller fuse lineage
    accounting into a scan it already does (the pipeline fuses it with
    validation) instead of paying an extra pass here.
    """
    cfg = config or EngineConfig()
    spark = table.spark
    if batch_id in table.committed_batch_ids():
        return {"batch_id": batch_id, "skipped": True}

    t0 = time.time()
    has_part = "part" in changes.columns

    # PERF MODEL (measured on local[32], 275k-event batches):
    #  * Spark's columnar .persist() of token-array rows costs ~3× more than
    #    recomputing the dedup — never cache wide array data here.
    #  * repartitionByRange's sampling pass re-executes the child (the whole
    #    merge join) — use the sampling-free range partitioner instead.
    #  * Counters/pruning/bounds come from a NARROW pass (keys+offsets+ops
    #    only; parquet column pruning keeps token arrays on disk). The heavy
    #    payload path (dedup with arrays → join → write) executes exactly once.
    from pyspark import StorageLevel

    body = changes.drop("part", "seg") if has_part else changes

    # --- narrow pass: skinny LWW dedup → pruning + counters + range bounds --
    # narrow_changes: caller-supplied (usually persisted) projection of the
    # valid rows with at least (doc_id, op, offset[, delivery_seq]) — lets
    # the pipeline share ONE feed scan between its validation/lineage agg
    # and this pass (driver task-dispatch is the serial cost in micro-batch
    # mode; every extra scan of a wide feed hurts scaling).
    skinny_src = narrow_changes if narrow_changes is not None else body
    ord_cols = [F.col("offset")]
    if "delivery_seq" in skinny_src.columns:
        ord_cols.append(F.col("delivery_seq"))
    skinny = skinny_src.select(
        "doc_id",
        "op",
        "offset",
        *(["delivery_seq"] if "delivery_seq" in skinny_src.columns else []),
    )
    sk_win = F.max_by(
        F.struct(F.col("op"), F.col("offset")), F.struct(*ord_cols)
    )

    def build_sk_dedup():
        return (
            skinny.groupBy("doc_id")
            .agg(sk_win.alias("_w"))
            .select(
                "doc_id",
                F.col("_w.op").alias("_c_op"),
                F.col("_w.offset").alias("_c_offset"),
            )
        )

    snap = table.snapshot()
    meta = table.metadata()
    schema = table.schema()
    mode = getattr(cfg, "merge_mode", "cow")

    # Metadata inputs (per-partition lineage, affected files, range-bound
    # sample, changed-key count) are either precomputed by the caller —
    # the pipeline folds ALL of them into ONE tagged-union job per batch —
    # or, when ≥2 are missing, folded HERE into the same tagged-union
    # collect (AQE off: every branch is a tiny fixed-shape aggregate and
    # AQE turns each exchange into its own dispatch wave — the standalone
    # merge path used to pay 3-4 sequential metadata jobs per commit).
    # A single missing input keeps its dedicated small job.
    sk_dedup = None
    need_lineage = lineage_rows is None
    need_prune = affected_paths is None
    need_sample = bounds_hint is None and key_sample is None
    need_count = mode == "auto" and changed_keys is None
    ranged_manifests = [m for m in snap.manifests if m.min_doc_id is not None]
    no_stats_paths = [m.path for m in snap.manifests if m.min_doc_id is None]
    n_missing = sum(
        (need_lineage, need_prune and bool(ranged_manifests), need_sample,
         need_count and bool(snap.manifests))
    )
    if n_missing >= 2:
        nulls = [
            F.lit(None).cast("long").alias(c) for c in ("n1", "n2", "n3")
        ]
        out_cols = ["tag", "s", "n1", "n2", "n3"]
        branches = []
        if need_lineage:
            branches.append(
                changes.groupBy(
                    F.col("part") if has_part else F.lit(0).alias("part")
                )
                .agg(
                    F.min("offset").alias("n1"),
                    F.max("offset").alias("n2"),
                    F.count(F.lit(1)).alias("n3"),
                )
                .select(
                    F.lit("stat").alias("tag"),
                    F.col("part").cast("string").alias("s"),
                    "n1", "n2", "n3",
                )
                .select(*out_cols)
            )
        if need_prune and ranged_manifests:
            ranges_df = local_frame(
                spark,
                [(m.path, m.min_doc_id, m.max_doc_id) for m in ranged_manifests],
                "path string, lo string, hi string",
            )
            branches.append(
                skinny.select("doc_id")
                .join(
                    F.broadcast(ranges_df),
                    (F.col("doc_id") >= F.col("lo"))
                    & (F.col("doc_id") <= F.col("hi")),
                )
                .select("path")
                .distinct()
                .select(F.lit("path").alias("tag"), F.col("path").alias("s"), *nulls)
                .select(*out_cols)
            )
        if need_sample:
            # distinct keys, as in the pipeline's metadata job: a hot key
            # must not fill the sample
            branches.append(
                skinny.select("doc_id")
                .distinct()
                .orderBy(F.xxhash64(F.col("doc_id")))
                .limit(cfg.shuffle_partitions * 64)
                .select(
                    F.lit("bound").alias("tag"), F.col("doc_id").alias("s"), *nulls
                )
                .select(*out_cols)
            )
        if need_count and snap.manifests:
            branches.append(
                skinny.agg(F.count_distinct(F.col("doc_id")).alias("n1"))
                .select(
                    F.lit("cnt").alias("tag"),
                    F.lit(None).cast("string").alias("s"),
                    F.col("n1"),
                    *nulls[1:],
                )
                .select(*out_cols)
            )
        meta_df = branches[0]
        for br in branches[1:]:
            meta_df = meta_df.unionByName(br)
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            meta_rows = meta_df.collect()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        if need_lineage:
            from collections import namedtuple

            StatsRow = namedtuple("StatsRow", "part min_offset max_offset events")
            lineage_rows = [
                StatsRow(r.s, r.n1, r.n2, r.n3)
                for r in meta_rows
                if r.tag == "stat"
            ]
        if need_prune and ranged_manifests:
            affected_paths = no_stats_paths + [
                r.s for r in meta_rows if r.tag == "path"
            ]
        if need_sample:
            key_sample = [r.s for r in meta_rows if r.tag == "bound"] or None
        if need_count and snap.manifests:
            changed_keys = next(
                (r.n1 for r in meta_rows if r.tag == "cnt"), None
            )
    elif need_lineage:
        lineage_rows = (
            changes.groupBy("part" if has_part else F.lit(0).alias("part"))
            .agg(
                F.min("offset").alias("min_offset"),
                F.max("offset").alias("max_offset"),
                F.count(F.lit(1)).alias("events"),
            )
            .collect()
        )
    events_in = sum(r.events for r in lineage_rows)
    # leftover single inputs (fused path skipped, or degenerate shapes like
    # an empty batch whose sample came back empty): the original
    # per-input jobs over a persisted narrow dedup
    if (affected_paths is None
            or (need_sample and key_sample is None)
            or (need_count and changed_keys is None and snap.manifests)):
        sk_dedup = build_sk_dedup().persist(StorageLevel.MEMORY_AND_DISK)

    if affected_paths is not None:
        affected = set(affected_paths)
    else:
        affected = set(
            prune_affected_files(
                spark, list(snap.manifests), sk_dedup.select("doc_id")
            )
        )
    keep = [m for m in snap.manifests if m.path not in affected]
    touched = [m for m in snap.manifests if m.path in affected]

    # --- merge-mode resolution (copy-on-write vs merge-on-read) -------------
    # COW rewrites every touched file — write amplification ∝ touched bytes.
    # MoR appends only the winners + a delete-vector sidecar — writes ∝
    # change volume. Sparse updates over a big table want MoR; dense updates
    # want COW (MoR would leave most of the table dead + DV-joined reads).
    touched_rows = sum(m.num_records for m in touched)
    if mode == "auto":
        if touched_rows == 0:
            mode = "cow"  # pure append — identical plans, keep the cheap one
        else:
            if changed_keys is None:
                changed_keys = sk_dedup.count()  # narrow cached rows, tiny job
            mode = (
                "mor"
                if changed_keys <= cfg.mor_max_changed_ratio * touched_rows
                else "cow"
            )
    if mode == "mor" and touched_rows > 0:
        result = _merge_mor(
            table, body, sk_dedup if sk_dedup is not None else build_sk_dedup(),
            batch_id, cfg, snap, meta, schema,
            touched, lineage_rows, bounds_hint, key_sample, t0,
        )
        if sk_dedup is not None:
            sk_dedup.unpersist()
        return result
    # volume-sized write fan-out: ≈ one range bucket per target_file_bytes
    # of output, capped by shuffle_partitions (core-count-sized shuffles on
    # small batches measured 2.5× slower — small files + task overhead)
    est_rows = sum(m.num_records for m in touched) + events_in  # upper bound
    est_bytes = est_rows * cfg.estimated_row_bytes
    nb = max(4, min(cfg.shuffle_partitions, est_bytes // cfg.target_file_bytes + 1))
    # Range bounds drift slowly (the keyspace is stable batch-to-batch), so
    # callers may pass back the previous batch's bounds and skip the
    # sampling job entirely; clustering quality degrades gracefully.
    bounds = bounds_hint
    if bounds is None and key_sample is not None:
        bounds = bounds_from_sample_list(list(key_sample), nb)
    if bounds is None:
        bounds = range_bounds_from_sample(
            sk_dedup if sk_dedup is not None else build_sk_dedup(),
            "doc_id",
            nb,
        )
    if sk_dedup is not None:
        sk_dedup.unpersist()

    # --- heavy pass (exactly once): full dedup → join → range write ---------
    # Exact merge counters ride the write pass as an Observation — safe
    # because nothing below re-executes the child (the range partitioner is
    # sampling-free; an Observation under repartitionByRange double-counts).
    from pyspark.sql import Observation

    deduped = lww_dedup(body)
    target = table.apply_deletes(
        table._read_entries(meta, touched, schema), snap.deletes
    )
    merged = apply_changes(target, deduped)
    obs = Observation(f"merge-{batch_id}")
    merged = merged.observe(
        obs,
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.col("_ins").cast("long")).alias("inserted"),
        F.sum(F.col("_upd").cast("long")).alias("updated"),
        F.sum(F.col("_del").cast("long")).alias("deleted"),
        F.sum(F.col("_stale").cast("long")).alias("stale_ignored"),
        F.sum((~F.coalesce(F.col("deleted"), F.lit(False))).cast("long")).alias(
            "live_rows"
        ),
        F.sum(F.col("_twl").cast("long")).alias("target_live_seen"),
    ).drop("_ins", "_upd", "_del", "_stale", "_twl")
    out = range_repartition_no_sampling(
        merged, "doc_id", bounds, sort_cols=["doc_id"]
    )
    new_manifests = table.write_data_files(
        out, batch_id, range_partition_col=None, sort_within=(),
        # bloom sized to the per-file row estimate (~10 bits/key): point
        # lookups get row-group pruning without a fixed-size bloom floor
        bloom_ndv=min(2_000_000, max(1024, est_rows // max(nb, 1))),
    )
    counters = {k: (v if v is not None else 0) for k, v in obs.get.items()}
    # DV dead-row accounting: rewriting a touched file physically drops its
    # DV-superseded rows; dead_in_touched = physical live (footer num_live)
    # minus the reconciled live target rows the merge actually saw.
    mor_dead = table.mor_dead_rows()
    if snap.deletes and all(m.num_live is not None for m in touched):
        touched_live_physical = sum(m.num_live for m in touched)
        dead_in_touched = touched_live_physical - (
            counters.get("target_live_seen") or 0
        )
        mor_dead = max(0, mor_dead - max(0, dead_in_touched))
    # per-file live counts came free from the parquet footers (null-as-live
    # tombstone encoding → null_count of `deleted`); no extra job here.
    table_live_rows = (
        sum(
            (m.num_live if m.num_live is not None else m.num_records)
            for m in list(keep) + list(new_manifests)
        )
        - mor_dead
    )
    secs = time.time() - t0
    lineage = {
        "batch_id": batch_id,
        "mode": "cow",
        "events_in": events_in,
        "partitions": {
            str(r.part): {
                "min_offset": r.min_offset,
                "max_offset": r.max_offset,
                "events": r.events,
            }
            for r in lineage_rows
        },
        "rows_out": counters.get("rows_out", 0),
        "live_rows": counters.get("live_rows") or 0,
        "table_live_rows": table_live_rows,
        "inserted": counters.get("inserted") or 0,
        "updated": counters.get("updated") or 0,
        "deleted": counters.get("deleted") or 0,
        "stale_ignored": counters.get("stale_ignored") or 0,
        "files_rewritten": len(touched),
        "files_kept": len(keep),
        "files_written": len(new_manifests),
        "bytes_written": sum(m.num_bytes for m in new_manifests),
        "seconds": round(secs, 3),
        "events_per_sec": round(events_in / secs, 1) if secs > 0 else None,
    }
    table.commit(
        batch_id=batch_id,
        operation="merge",
        keep_manifests=keep,
        new_manifests=new_manifests,
        lineage=lineage,
        mor_dead_rows=mor_dead,
    )
    # handed back for reuse as the next batch's bounds_hint (not persisted)
    return {**lineage, "_bounds": bounds}


def _merge_mor(
    table: IceboxTable,
    body: DataFrame,
    sk_dedup: DataFrame,
    batch_id: str,
    cfg: EngineConfig,
    snap,
    meta: dict,
    schema,
    touched: list,
    lineage_rows: list,
    bounds_hint: list[str] | None,
    key_sample: list[str] | None,
    t0: float,
) -> dict:
    """Merge-on-read apply: append ONLY the winning rows as new data files
    and write a delete-vector sidecar (doc_id, offset watermark) that kills
    the superseded rows at read time — no touched file is rewritten.

    Write volume ∝ change volume instead of ∝ touched bytes: the win for
    sparse updates over a 100 TB table, at the cost of a DV reconciliation
    join on reads (folded away by compaction / fold_deletes).

    Tie rule: a change with ``offset == stored last_offset`` is a replayed
    duplicate of the SAME event (offsets are globally unique event ids), so
    it is skipped — appended winners always carry ``offset > watermark`` of
    any row they kill, which is what makes the strict-inequality DV kill
    rule unambiguous."""
    from pyspark.sql import Observation

    spark = table.spark
    events_in = sum(r.events for r in lineage_rows)
    canonical = {f.name for f in CDC_TABLE_FIELDS}
    extras = [f.name for f in schema.fields if f.name not in canonical]

    # narrow reconciled target: (doc_id, last_offset, deleted) of touched
    # files — column-pruned scan, feeds both the DV pass and the win filter
    t_nar = table.apply_deletes(
        table._read_entries(meta, touched, schema).select(
            "doc_id", "last_offset", "deleted"
        ),
        snap.deletes,
    ).select(
        "doc_id",
        F.col("last_offset").alias("_t_offset"),
        F.col("deleted").alias("_t_deleted"),
    )

    j = sk_dedup.join(t_nar, "doc_id", "left")
    strict_win = F.col("_t_offset").isNull() | (
        F.col("_c_offset") > F.col("_t_offset")
    )
    was_live = F.col("_t_offset").isNotNull() & ~F.coalesce(
        F.col("_t_deleted"), F.lit(False)
    )
    flags = j.select(
        "doc_id",
        "_c_op",
        "_c_offset",
        "_t_offset",
        (strict_win & (F.col("_c_op") != "D") & ~was_live).alias("_ins"),
        (strict_win & (F.col("_c_op") != "D") & was_live).alias("_upd"),
        (strict_win & (F.col("_c_op") == "D") & was_live).alias("_del"),
        (
            F.col("_t_offset").isNotNull()
            & (F.col("_c_offset") < F.col("_t_offset"))
        ).alias("_stale"),
        strict_win.alias("_win"),
    )
    obs_nar = Observation(f"mor-dv-{batch_id}")
    flags = flags.observe(
        obs_nar,
        F.sum(F.col("_ins").cast("long")).alias("inserted"),
        F.sum(F.col("_upd").cast("long")).alias("updated"),
        F.sum(F.col("_del").cast("long")).alias("deleted"),
        F.sum(F.col("_stale").cast("long")).alias("stale_ignored"),
        F.sum((F.col("_win") & F.col("_t_offset").isNotNull()).cast("long")).alias(
            "dv_rows"
        ),
    )
    dv = flags.where(F.col("_win") & F.col("_t_offset").isNotNull()).select(
        "doc_id", F.col("_c_offset").alias("offset")
    )
    dv_entries = table.write_delete_files(dv, batch_id)

    # heavy pass: winners only, payload read exactly once
    deduped = lww_dedup(body)
    winners = deduped.join(t_nar, "doc_id", "left").where(
        F.col("_t_offset").isNull() | (F.col("offset") > F.col("_t_offset"))
    )
    appended = winners.select(
        "doc_id",
        F.when(F.col("op") != "D", F.col("tokens")).alias("tokens"),
        F.when(F.col("op") != "D", F.col("n_tok")).alias("n_tok"),
        F.when(F.col("op") != "D", F.col("source")).alias("source"),
        F.col("offset").alias("last_offset"),
        # null-as-live tombstone encoding (footer live counts for free)
        F.when(F.col("op") == "D", F.lit(True)).alias("deleted"),
    )
    if extras:
        # evolved columns the change can't carry: keep the current value
        # (consistent with the COW preserve rule), null for brand-new keys
        extras_src = table.apply_deletes(
            table._read_entries(meta, touched, schema).select(
                "doc_id", "last_offset", "deleted", *extras
            ),
            snap.deletes,
        ).select("doc_id", *extras)
        appended = appended.join(extras_src, "doc_id", "left")

    nb = max(
        4,
        min(
            cfg.shuffle_partitions,
            events_in * cfg.estimated_row_bytes // cfg.target_file_bytes + 1,
        ),
    )
    bounds = bounds_hint
    if bounds is None and key_sample is not None:
        bounds = bounds_from_sample_list(list(key_sample), nb)
    if bounds is None:
        bounds = range_bounds_from_sample(sk_dedup, "doc_id", nb)
    out = range_repartition_no_sampling(appended, "doc_id", bounds, ["doc_id"])
    new_manifests = table.write_data_files(
        out, batch_id, range_partition_col=None, sort_within=(),
        # appends are change-sized; size the bloom to the batch, not the
        # table, or a ~1 MiB bloom floor would defeat MoR's write savings
        bloom_ndv=min(2_000_000, max(1024, events_in // max(nb, 1))),
    )
    c_nar = {k: (v or 0) for k, v in obs_nar.get.items()}
    # append-pass counters come free from the parquet footers (null-as-live
    # tombstone encoding) — no Observation needed on the write
    c_app = {
        "rows_out": sum(m.num_records for m in new_manifests),
        "live_rows": sum((m.num_live or 0) for m in new_manifests),
    }
    mor_dead = table.mor_dead_rows() + c_nar["updated"] + c_nar["deleted"]
    table_live_rows = (
        sum(
            (m.num_live if m.num_live is not None else m.num_records)
            for m in list(snap.manifests) + list(new_manifests)
        )
        - mor_dead
    )
    secs = time.time() - t0
    lineage = {
        "batch_id": batch_id,
        "mode": "mor",
        "events_in": events_in,
        "partitions": {
            str(r.part): {
                "min_offset": r.min_offset,
                "max_offset": r.max_offset,
                "events": r.events,
            }
            for r in lineage_rows
        },
        "rows_out": c_app["rows_out"],
        "live_rows": c_app["live_rows"],
        "table_live_rows": table_live_rows,
        "inserted": c_nar["inserted"],
        "updated": c_nar["updated"],
        "deleted": c_nar["deleted"],
        "stale_ignored": c_nar["stale_ignored"],
        "dv_rows": c_nar["dv_rows"],
        "files_rewritten": 0,
        "files_kept": len(snap.manifests),
        "files_written": len(new_manifests),
        "bytes_written": sum(m.num_bytes for m in new_manifests)
        + sum(m.num_bytes for m in dv_entries),
        "seconds": round(secs, 3),
        "events_per_sec": round(events_in / secs, 1) if secs > 0 else None,
    }
    table.commit(
        batch_id=batch_id,
        operation="merge-mor",
        keep_manifests=list(snap.manifests),
        new_manifests=new_manifests,
        lineage=lineage,
        keep_deletes=snap.deletes,
        new_deletes=dv_entries,
        mor_dead_rows=mor_dead,
    )
    return {**lineage, "_bounds": bounds}
