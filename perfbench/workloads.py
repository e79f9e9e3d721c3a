"""The benchmark's three workloads.

Each workload sets up its inputs from the seed, warms up, runs a fixed
amount of timed work through the package's public API, and then checks its
outputs outside the timed window. The amount of work is fixed by
``--seconds`` through the constants below (measured on a 4-core, 15 GiB
host), never by the clock, so the counts a run records repeat exactly for a
given seed and ``--seconds``.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

#: ingest_dense backlog events per requested second
DENSE_EVENTS_PER_S = 28_000
DENSE_BATCHES = 7
#: sparse_upsert_read keyspace (docs) per requested second
SPARSE_KEYS_PER_S = 4_000
SPARSE_STEPS = 6
#: one sparse step delivers this share of the keyspace as events
SPARSE_STEP_SHARE = 0.03
#: the bulk load is this many step-sized feed segments (~one event per key)
SPARSE_LOAD_SEGMENTS = 33
SPARSE_LOOKUPS = 4
#: entry queries of curation_queries, in pass order: the BM25 thread pool,
#: the driver-gated union-find, the numpy/Arrow twins of simhash, k-means,
#: PQ and brute-force top-k, and one JVM-only join
QUERIES = (
    "bm25_search",
    "neardup_components",
    "simhash_neardup",
    "kmeans_clusters",
    "ann_topk_pq",
    "embedding_decontaminate",
    "join_revenue_by_nation",
)
#: copies of the sf0.01 test tables (TESTDATA.md) these queries read
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@dataclass
class Outcome:
    """What one workload run measured and checked."""

    setup_s: float = 0.0
    work_s: float = 0.0
    #: wall seconds per operation, by kind (batch, scan, lookup, changes, query)
    ops: dict = field(default_factory=dict)
    #: workload-specific end-to-end figures (ingest_events_per_s, ...)
    named: dict = field(default_factory=dict)
    #: counts that repeat exactly for a given seed
    counters: dict = field(default_factory=dict)
    #: (check name, passed, detail)
    checks: list = field(default_factory=list)
    #: table shape at each read: data_files, dv_files, dead_row_ratio
    samples: dict = field(default_factory=dict)
    #: parquet bytes of the feed segments the timed batches applied
    feed_bytes: int = 0
    attempted: int = 0
    errors: int = 0

    @property
    def failed(self) -> int:
        bad = self.errors + sum(1 for _, ok, _ in self.checks if not ok)
        return min(bad, max(self.attempted, 1))

    def op(self, kind: str, seconds: float) -> None:
        self.ops.setdefault(kind, []).append(seconds)
        self.attempted += 1

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok), detail))
        return ok


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# CDC inputs
# ---------------------------------------------------------------------------


def _engine_config(root: str, **kw):
    from kafka_connect_gcs_spark.config import EngineConfig

    return EngineConfig(
        table_path=os.path.join(root, "table"),
        feed_path=os.path.join(root, "feed"),
        checkpoint_path=os.path.join(root, "ckpt"),
        **kw,
    )


def _dense_spec(events: int, seed: int):
    from kafka_connect_gcs_spark.sources.binlog import BinlogSpec

    # bench.py's feed shape: one hot key ~30% of events, 10% duplicate
    # deliveries, 15% deletes, out-of-order window, ~5 events per key
    return BinlogSpec(
        num_events=events,
        num_docs=max(events // 5, 100),
        num_partitions=8,
        seed=seed,
        hot_fraction=0.3,
        hot_keys=1,
        duplicate_fraction=0.1,
        delete_fraction=0.15,
        shuffle_window=max(events // 100, 1),
    )


def _sparse_spec(keys: int, seed: int):
    from kafka_connect_gcs_spark.sources.binlog import BinlogSpec

    seg = max(int(keys * SPARSE_STEP_SHARE), 20)
    total = seg * (SPARSE_LOAD_SEGMENTS + SPARSE_STEPS)
    # evenly spread keys (no hot set) and a delivery window well inside one
    # segment, so each step segment is a contiguous, later slice of offsets
    return BinlogSpec(
        num_events=total,
        num_docs=keys,
        num_partitions=8,
        seed=seed,
        hot_fraction=0.0,
        duplicate_fraction=0.05,
        delete_fraction=0.15,
        shuffle_window=max(seg // 20, 1),
        min_tokens=16,
        max_tokens=96,
    )


def _sparse_config(root: str, keys: int, files_per_batch: int):
    # maintenance thresholds scaled to the keyspace so that auto
    # fold_deletes and auto compact each fire at a fixed step of the run
    return _engine_config(
        root,
        max_files_per_batch=files_per_batch,
        auto_fold_dead_ratio=0.06,
        auto_fold_min_dead=max(keys // 50, 10),
        auto_compact_min_small_files=14,
    )


# ---------------------------------------------------------------------------
# ingest_dense
# ---------------------------------------------------------------------------


def ingest_dense(ctx) -> Outcome:
    from kafka_connect_gcs_spark.sources.binlog import write_feed
    from kafka_connect_gcs_spark.streaming.pipeline import CdcPipeline

    out = Outcome()
    spark = ctx.spark
    events = max(int(DENSE_EVENTS_PER_S * ctx.seconds), 600)
    # warm-up: the same loop, two batches on a small feed from a derived
    # seed. It takes the first-execution costs; JIT compilation goes on into
    # the timed window whatever its size (README.md), so its time is better
    # spent on timed batches
    warm = os.path.join(ctx.work_dir, "dense-warm")
    wcfg = _engine_config(warm, max_files_per_batch=2)
    write_feed(spark, _dense_spec(max(events // 16, 300), ctx.seed + 1), wcfg.feed_path, 4)
    CdcPipeline(spark, wcfg).run_available()
    ctx.log("warm-up done")

    root = os.path.join(ctx.work_dir, "dense")
    cfg = _engine_config(root, max_files_per_batch=2)
    write_feed(spark, _dense_spec(events, ctx.seed), cfg.feed_path, 2 * DENSE_BATCHES)
    out.setup_s = ctx.setup_done()

    pipe = CdcPipeline(spark, cfg)
    with ctx.timed() as window:
        lineages = pipe.run_available()
    out.work_s = window.seconds
    for s in ctx.batch_seconds():
        out.op("batch", s)
    _ingest_named(out, lineages, pipe.table, cfg.feed_path)
    _sample_table(out, pipe.table)
    _check_ingest(ctx, out, pipe, lineages)
    ctx.log("checked")
    return out


def _ingest_named(out: Outcome, lineages: list, table, feed_path: str) -> None:
    merges = [ln for ln in lineages if "mode" in ln]
    for ln in merges:
        for seg in ln.get("segments", []):
            d = os.path.join(feed_path, seg)
            out.feed_bytes += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
    # timed ingest wall time: the batches, with the maintenance they trigger
    batches = out.ops.get("batch", [])
    out.named["ingest_events_per_s"] = sum(ln["events_in"] for ln in merges) / max(sum(batches), 1e-9)
    out.named["batch_p50_s"] = _median(batches)
    snap = table.snapshot()
    live = _metadata_live_rows(table)
    stored = sum(m.num_bytes for m in snap.manifests) + sum(d.num_bytes for d in snap.deletes)
    out.named["table_bytes_per_live_row"] = stored / max(live, 1)
    out.counters.update(
        events_applied=sum(ln["events_in"] for ln in merges),
        rows_out=sum(ln.get("rows_out", 0) for ln in merges),
        files_written=sum(ln.get("files_written", 0) for ln in merges),
        files_rewritten=sum(ln.get("files_rewritten", 0) for ln in merges),
        bytes_written=sum(ln.get("bytes_written", 0) for ln in merges),
        merge_modes="".join("m" if ln["mode"] == "mor" else "c" for ln in merges),
        maintenance_runs=sum(
            1 for h in table.history() if h["operation"] in ("compact", "fold-deletes")
        ),
        live_rows=live,
    )


def _sample_table(out: Outcome, table) -> None:
    snap = table.snapshot()
    stored = sum(m.num_records for m in snap.manifests)
    for key, v in (
        ("data_files", len(snap.manifests)),
        ("dv_files", len(snap.deletes)),
        ("dead_row_ratio", table.mor_dead_rows() / max(stored, 1)),
    ):
        out.samples.setdefault(key, []).append(v)


def _metadata_live_rows(table) -> int:
    snap = table.snapshot()
    return sum(
        m.num_live if m.num_live is not None else m.num_records for m in snap.manifests
    ) - table.mor_dead_rows()


def _check_ingest(ctx, out: Outcome, pipe, lineages: list) -> None:
    from kafka_connect_gcs_spark.operators.merge import read_state

    from perfbench import checks

    ok, detail = checks.state_matches_replay(
        ctx.spark, read_state(pipe.table), pipe.cfg.feed_path
    )
    out.check("final state equals DuckDB LWW replay", ok, detail)
    ok, detail = checks.offsets_monotone(lineages, pipe.ckpt.load())
    out.check("lineage offsets never go backwards", ok, detail)
    ok, detail = checks.manifests_exist(pipe.table)
    out.check("every manifest entry names an existing file", ok, detail)
    out.counters["input_digest"] = checks.feed_digest(pipe.cfg.feed_path)


# ---------------------------------------------------------------------------
# sparse_upsert_read
# ---------------------------------------------------------------------------


def sparse_upsert_read(ctx) -> Outcome:
    from kafka_connect_gcs_spark.sources.binlog import write_feed

    out = Outcome()
    spark = ctx.spark
    keys = max(int(SPARSE_KEYS_PER_S * ctx.seconds), 800)
    root = os.path.join(ctx.work_dir, "sparse")
    write_feed(
        spark, _sparse_spec(keys, ctx.seed), os.path.join(root, "feed"),
        SPARSE_LOAD_SEGMENTS + SPARSE_STEPS,
    )
    load_lineages, pipe = _sparse_load(spark, root, keys)
    ctx.log("loaded")
    lookup_keys = random.Random(ctx.seed).sample(range(keys), SPARSE_LOOKUPS * SPARSE_STEPS)

    # warm-up: load and two full steps on a quarter-size table
    warm = os.path.join(ctx.work_dir, "sparse-warm")
    wkeys = max(keys // 4, 400)
    write_feed(
        spark, _sparse_spec(wkeys, ctx.seed + 1), os.path.join(warm, "feed"),
        SPARSE_LOAD_SEGMENTS + 2,
    )
    _, warm_pipe = _sparse_load(spark, warm, wkeys)
    ctx.log("warm-up loaded")
    scratch = Outcome()
    for _ in range(2):
        _sparse_step(ctx, scratch, warm_pipe, [f"doc{k:09d}" for k in lookup_keys[:SPARSE_LOOKUPS]])
    out.setup_s = ctx.setup_done()

    lineages = []
    with ctx.timed() as window:
        for i in range(SPARSE_STEPS):
            ks = lookup_keys[i * SPARSE_LOOKUPS:(i + 1) * SPARSE_LOOKUPS]
            t0 = time.perf_counter()
            lineages += _sparse_step(ctx, out, pipe, [f"doc{k:09d}" for k in ks])
            out.ops.setdefault("step", []).append(time.perf_counter() - t0)
    out.work_s = window.seconds
    for s in ctx.batch_seconds():
        out.op("batch", s)
    _ingest_named(out, lineages, pipe.table, pipe.cfg.feed_path)
    for kind in ("scan", "lookup", "changes"):
        out.named[f"{kind}_p50_s"] = _median(out.ops.get(kind, []))
    _check_ingest(ctx, out, pipe, load_lineages + lineages)
    return out


def _sparse_load(spark, root: str, keys: int):
    """Bulk-load the first SPARSE_LOAD_SEGMENTS feed segments as one batch;
    return its lineage and the pipeline that consumes one segment per step."""
    from kafka_connect_gcs_spark.streaming.pipeline import CdcPipeline

    load_cfg = _sparse_config(root, keys, SPARSE_LOAD_SEGMENTS)
    lineages = CdcPipeline(spark, load_cfg).run_available(max_batches=1)
    return lineages, CdcPipeline(spark, _sparse_config(root, keys, 1))


def _sparse_step(ctx, out: Outcome, pipe, lookup_keys: list[str]) -> list:
    """One micro-batch, then one reader round: a full scan that forces the
    token column, a batch of point lookups, and table_changes over the
    commit just made."""
    from pyspark.sql import functions as F

    from kafka_connect_gcs_spark.icebox import changes

    table = pipe.table
    before = table.current_version()
    lineages = pipe.run_available(max_batches=1)

    _sample_table(out, table)
    t0 = time.perf_counter()
    row = (
        table.read()
        .where(~F.coalesce(F.col("deleted"), F.lit(False)))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.size("tokens")).alias("t"))
        .collect()[0]
    )
    ctx.tracer.close_pending()
    out.op("scan", time.perf_counter() - t0)
    live = _metadata_live_rows(table)
    out.check("scan live rows equal metadata live rows", row["n"] == live, f"{row['n']} vs {live}")

    for k in lookup_keys:
        t0 = time.perf_counter()
        table.point_lookup(k).collect()
        ctx.tracer.close_pending()
        out.op("lookup", time.perf_counter() - t0)

    t0 = time.perf_counter()
    n = len(changes.table_changes(table, before).collect())
    ctx.tracer.close_pending()
    out.op("changes", time.perf_counter() - t0)
    out.counters["changes_rows"] = out.counters.get("changes_rows", 0) + n
    return lineages


# ---------------------------------------------------------------------------
# curation_queries
# ---------------------------------------------------------------------------


def curation_queries(ctx) -> Outcome:
    import __spark_entry__ as entry

    from perfbench import checks

    out = Outcome()
    qs = entry.queries()
    # warm-up: one untimed pass, so worker start, class loading and code
    # generation for every plan fall into set-up (JIT compilation goes on
    # into the timed pass; see README.md)
    for name in QUERIES:
        qs[name](ctx.spark, DATA_DIR).collect()
        ctx.log(f"warmed {name}")
    out.setup_s = ctx.setup_done()

    results = {}
    with ctx.timed() as window:
        for name in QUERIES:
            query = ctx.tracer.traced(
                qs[name], f"op.{name}", lazy=True, tag=lambda *a, n=name: {"query": n}
            )
            t0 = time.perf_counter()
            df = query(ctx.spark, DATA_DIR)
            results[name] = (df.columns, [tuple(r) for r in df.collect()])
            ctx.tracer.close_pending()
            out.op("query", time.perf_counter() - t0)
            out.named[f"op.{name}_s"] = out.ops["query"][-1]
    out.work_s = window.seconds
    out.named["query_pass_s"] = sum(out.ops["query"])
    oracle = checks.oracle_rows(entry.oracle_sql(), QUERIES, DATA_DIR)
    for name in QUERIES:
        cols, rows = results[name]
        ok, detail = checks.rows_equal(cols, rows, *oracle[name])
        out.check(f"{name} equals its oracle", ok, detail)
        out.counters[f"rows.{name}"] = len(rows)
    return out


WORKLOADS = {
    "ingest_dense": ingest_dense,
    "sparse_upsert_read": sparse_upsert_read,
    "curation_queries": curation_queries,
}
