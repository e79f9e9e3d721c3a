"""End-to-end CDC correctness: replay a synthetic binlog (with duplicates,
out-of-order delivery, deletes, hot keys) into the icebox table and compare
the final state — including EXACT token-array equality — against a
single-threaded DuckDB oracle replay.

Ports the reference's golden-output system tests (system_test/run.py:196-329):
exact final contents, restart-without-duplicates, resume mid-stream.
"""

import duckdb
import pytest

from kafka_connect_gcs_spark.config import EngineConfig
from kafka_connect_gcs_spark.sources.binlog import BinlogSpec, generate_changes, write_feed
from kafka_connect_gcs_spark.streaming.pipeline import CdcPipeline

SPEC = BinlogSpec(
    num_events=5_000,
    num_docs=600,
    num_partitions=4,
    seed=42,
    hot_fraction=0.30,
    hot_keys=1,
    duplicate_fraction=0.10,
    delete_fraction=0.15,
    shuffle_window=200,
)


def oracle_final_state(changes_parquet: str):
    """LWW replay in DuckDB: winner = max (offset, delivery_seq) per doc_id,
    drop docs whose winning op is D. Returns sorted list of tuples."""
    q = f"""
    WITH ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY "offset" DESC, delivery_seq DESC
      ) AS rn
      FROM read_parquet('{changes_parquet}/**/*.parquet')
    )
    SELECT doc_id, tokens, n_tok, source, "offset" AS last_offset
    FROM ranked WHERE rn = 1 AND op <> 'D'
    ORDER BY doc_id
    """
    rows = duckdb.sql(q).fetchall()
    return [(r[0], tuple(r[1]), r[2], r[3], r[4]) for r in rows]


def table_state(table):
    from kafka_connect_gcs_spark.operators.merge import read_state

    rows = read_state(table).collect()
    return sorted(
        (r.doc_id, tuple(r.tokens), r.n_tok, r.source, r.last_offset) for r in rows
    )


@pytest.fixture(scope="module")
def feed(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cdc")
    feed_dir = str(root / "feed")
    write_feed(spark, SPEC, feed_dir, num_segments=8)
    return {"root": root, "feed": feed_dir}


def _cfg(feed, name, max_files_per_batch=3):
    return EngineConfig(
        table_path=str(feed["root"] / name / "table"),
        feed_path=feed["feed"],
        checkpoint_path=str(feed["root"] / name / "ckpt"),
        max_files_per_batch=max_files_per_batch,
        shuffle_partitions=8,
    )


def test_full_replay_matches_oracle_exactly(spark, feed):
    cfg = _cfg(feed, "full")
    pipe = CdcPipeline(spark, cfg)
    lineages = pipe.run_available()
    assert len(lineages) >= 2  # really ran in micro-batches
    got = table_state(pipe.table)
    want = oracle_final_state(feed["feed"])
    assert len(got) == len(want)
    assert got == want  # exact token-array equality, row for row


def test_kill_and_resume_equals_uninterrupted(spark, feed):
    """Stop after 1 micro-batch, build a NEW pipeline object (fresh process
    analog), resume: final state must equal the uninterrupted run
    (reference: run.py:223-257 restart w/o duplicates)."""
    cfg = _cfg(feed, "resume")
    pipe1 = CdcPipeline(spark, cfg)
    pipe1.run_available(max_batches=1)
    assert pipe1.ckpt.load()["next_segment_idx"] > 0

    pipe2 = CdcPipeline(spark, cfg)  # resume from checkpoint
    pipe2.run_available()
    assert table_state(pipe2.table) == oracle_final_state(feed["feed"])


def test_replayed_batch_is_noop(spark, feed):
    """Re-running an already-committed batch_id must not change the table
    (exactly-once under at-least-once delivery)."""
    cfg = _cfg(feed, "noop")
    pipe = CdcPipeline(spark, cfg)
    pipe.run_available()
    v_before = pipe.table.current_version()
    state_before = table_state(pipe.table)

    # simulate the crash-between-commit-and-checkpoint window: rerun batch 0
    import os

    segs = sorted(d for d in os.listdir(cfg.feed_path) if d.startswith("seg="))
    replay = pipe.run_batch(segs[: cfg.max_files_per_batch])
    assert replay.get("skipped") is True
    assert pipe.table.current_version() == v_before
    assert table_state(pipe.table) == state_before


def test_lineage_covers_all_partitions_and_events(spark, feed):
    cfg = _cfg(feed, "lineage")
    pipe = CdcPipeline(spark, cfg)
    lineages = pipe.run_available()
    total_events = sum(ln["events_in"] for ln in lineages)
    n_delivered = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{feed['feed']}/**/*.parquet')"
    ).fetchone()[0]
    assert total_events == n_delivered
    parts = set()
    for ln in lineages:
        parts |= set(ln["partitions"].keys())
        for pm in ln["partitions"].values():
            assert pm["min_offset"] <= pm["max_offset"]
    assert parts == {str(p) for p in range(SPEC.num_partitions)}
    # checkpoint carries per-partition high-water marks (A26/A27)
    st = pipe.ckpt.load()
    assert set(st["partition_offsets"]) == parts
    # counters are exact, not inflated by the range-partitioner sampling
    # pass (regression: Observation-under-repartitionByRange double-count)
    assert lineages[-1]["table_live_rows"] == len(table_state(pipe.table))
    total_recs = pipe.table.history()[-1]["num_records"]
    assert lineages[-1]["rows_out"] >= lineages[-1]["live_rows"]
    assert lineages[-1]["live_rows"] <= total_recs


def test_batch_boundaries_do_not_matter(spark, feed):
    """Same feed consumed 1-segment-at-a-time vs all-at-once converges to the
    same table (LWW max-merge is associative/commutative — SURVEY §7.3)."""
    cfg_small = _cfg(feed, "small", max_files_per_batch=1)
    cfg_big = _cfg(feed, "big", max_files_per_batch=100)
    p_small = CdcPipeline(spark, cfg_small)
    p_small.run_available()
    p_big = CdcPipeline(spark, cfg_big)
    p_big.run_available()
    assert table_state(p_small.table) == table_state(p_big.table)


def test_all_quarantined_partition_does_not_abort_drain(spark, feed, tmp_path):
    """A segment whose rows are ALL invalid for some partition must not crash
    run_available (regression: max(prev, None) TypeError) — the drain
    continues, offsets for that partition simply don't advance."""
    from pyspark.sql import functions as F

    feed_dir = str(tmp_path / "feed")
    spec = BinlogSpec(num_events=400, num_docs=60, num_partitions=2, seed=7)
    write_feed(spark, spec, feed_dir, num_segments=2)
    # append a segment where every row of a brand-new partition 9 is corrupt
    seg = spark.read.parquet(feed_dir + "/seg=00000000").limit(20).select(
        "doc_id", "offset",
        F.lit("U").alias("op"),
        F.col("tokens"),
        (F.coalesce(F.col("n_tok"), F.lit(0)) + 1).alias("n_tok"),  # invalid
        "source",
        F.lit(9).cast("int").alias("part"),
        "delivery_seq",
    )
    seg.write.parquet(feed_dir + "/seg=00000099")

    cfg = EngineConfig(
        table_path=str(tmp_path / "table"),
        feed_path=feed_dir,
        checkpoint_path=str(tmp_path / "ckpt"),
        max_files_per_batch=1,
        shuffle_partitions=4,
    )
    pipe = CdcPipeline(spark, cfg)
    lineages = pipe.run_available()  # must not raise
    assert len(lineages) == 3
    assert lineages[-1]["quarantined"] == 20
    st = pipe.ckpt.load()
    assert "9" not in st["partition_offsets"]  # nothing applied for part 9
    assert st["next_segment_idx"] == 3  # feed position still advanced


def test_quarantine_rejects_corrupt_rows(spark, feed):
    """A corrupted n_tok mismatch is quarantined, not applied (the typed
    analog of 'Corrupt record at …', BytesRecordReader.java:197-199)."""
    from pyspark.sql import functions as F

    cfg = _cfg(feed, "quarantine")
    pipe = CdcPipeline(spark, cfg)
    raw = spark.read.parquet(feed["feed"])
    corrupted = raw.withColumn(
        "n_tok",
        F.when(F.col("op") != "D", F.col("n_tok") + 1).otherwise(F.col("n_tok")),
    )
    from kafka_connect_gcs_spark.operators.validate import split_valid

    valid, bad = split_valid(corrupted)
    assert valid.where(F.col("op") != "D").count() == 0
    assert bad.count() == raw.where(F.col("op") != "D").count()


def test_range_bounds_survive_a_low_hash_hot_key(spark, tmp_path):
    """The range-bound sample is drawn from DISTINCT doc_ids. A hot key
    whose xxhash64 ranks below every other key, delivered more often than
    the sample has slots, must not fill the sample and collapse the write
    bounds to one key — in the pipeline's metadata job and in merge_into's
    own fused metadata job."""
    from pyspark.sql import functions as F

    from kafka_connect_gcs_spark.icebox.table import IceboxTable
    from kafka_connect_gcs_spark.operators.merge import CDC_TABLE_FIELDS, merge_into

    spec = BinlogSpec(
        num_events=1_200, num_docs=400, num_partitions=2, seed=5,
        hot_fraction=0.5, hot_keys=1, duplicate_fraction=0.0,
    )
    ev = generate_changes(spark, spec)
    cold_min = ev.where(F.col("doc_id") != "doc000000000").agg(
        F.min(F.xxhash64("doc_id"))
    ).first()[0]
    hot = (
        spark.range(4096)
        .select(F.format_string("hot%05d", "id").alias("k"))
        .select("k", F.xxhash64("k").alias("h"))
        .orderBy("h")
        .first()
    )
    assert hot.h < cold_min  # the hot key ranks first in the hash order
    ev = ev.withColumn(
        "doc_id",
        F.when(F.col("doc_id") == "doc000000000", F.lit(hot.k)).otherwise(
            F.col("doc_id")
        ),
    )
    n_slots = 4 * 64  # shuffle_partitions × 64 sample slots
    assert ev.where(F.col("doc_id") == hot.k).count() > n_slots
    feed_dir = str(tmp_path / "feed")
    ev.write.parquet(feed_dir + "/seg=00000000")
    cfg = EngineConfig(
        table_path=str(tmp_path / "table"),
        feed_path=feed_dir,
        checkpoint_path=str(tmp_path / "ckpt"),
        shuffle_partitions=4,
    )
    pipe = CdcPipeline(spark, cfg)
    pipe.run_available()
    # four write buckets need three distinct upper bounds
    assert len(pipe._bounds) == 3 and sorted(set(pipe._bounds)) == pipe._bounds

    table = IceboxTable.create(spark, str(tmp_path / "table2"), CDC_TABLE_FIELDS)
    bounds = merge_into(table, ev, "hot", cfg)["_bounds"]
    assert len(bounds) == 3 and sorted(set(bounds)) == bounds
