"""Physical-plan assertions: the optimizer work the reference hand-codes
(SURVEY §4) must actually happen in our plans — pushdown, pruning,
broadcast, map-side aggregation, no row-at-a-time Python."""

import pytest
from pyspark.sql import functions as F

from kafka_connect_gcs_spark.plans.inspect import (
    codegen_stage_count,
    explain_str,
    has_broadcast_join,
    has_partial_aggregate,
    num_python_udf_nodes,
    pushed_filters,
    read_schema_columns,
)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .where(F.col("l_quantity") < 24)
        .select("l_orderkey", "l_quantity")
    )
    pf = pushed_filters(df)
    assert any("l_quantity" in f for f in pf), pf


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    cols = read_schema_columns(df)
    assert cols and set(cols[0]) == {"l_orderkey", "l_quantity"}


def test_manifest_pruned_cdc_read_prunes_columns(spark, tmp_path):
    """Narrow merge pass must read only 3 columns from table files even
    through the schema-reconciliation projection."""
    from kafka_connect_gcs_spark.icebox.table import IceboxTable
    from kafka_connect_gcs_spark.operators.merge import CDC_TABLE_FIELDS

    t = IceboxTable.create(spark, str(tmp_path / "t"), CDC_TABLE_FIELDS)
    df = spark.createDataFrame(
        [("a", [1, 2], 2, "web", 5, None)],
        "doc_id string, tokens array<int>, n_tok int, source string,"
        " last_offset long, deleted boolean",
    )
    m = t.write_data_files(df, "b1")
    t.commit("b1", "append", (), m)
    narrow = t.read().select("doc_id", "last_offset", "deleted")
    cols = read_schema_columns(narrow)
    assert cols and set(cols[0]) == {"doc_id", "last_offset", "deleted"}, cols


def test_small_dim_join_broadcasts(spark, sf_dir):
    import __spark_entry__ as e

    df = e.q_join_revenue_by_nation(spark, sf_dir)
    assert has_broadcast_join(df)


def test_lww_dedup_aggregates_partially_mapside(spark, sf_dir):
    """The skew defense: dedup must plan as partial→final aggregation so a
    hot key collapses before the shuffle (A26 as distributed agg)."""
    from kafka_connect_gcs_spark.operators.dedup import lww_dedup
    from kafka_connect_gcs_spark.sources.binlog import BinlogSpec, generate_changes

    ch = generate_changes(spark, BinlogSpec(num_events=1000, num_docs=100))
    plan = explain_str(lww_dedup(ch))
    assert "partial_max_by" in plan, plan


def test_no_row_at_a_time_python_in_hot_paths(spark, sf_dir):
    import __spark_entry__ as e

    for name, fn in e.queries().items():
        df = fn(spark, sf_dir)
        assert num_python_udf_nodes(df) == 0, f"{name} has BatchEvalPython"


def test_whole_stage_codegen_present(spark, sf_dir):
    import __spark_entry__ as e

    df = e.q_agg_pricing_summary(spark, sf_dir)
    assert codegen_stage_count(df) >= 1


def test_winnow_stays_jvm_side(spark, sf_dir):
    """Fingerprinting is pure Catalyst (HOF expressions, no Python) and the
    wrapper spreads a single-file corpus across all cores."""
    from kafka_connect_gcs_spark.operators.text import winnow_fingerprints

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = winnow_fingerprints(d)
    assert num_python_udf_nodes(df) == 0
    assert (
        df.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    )


def test_semi_anti_join_broadcasts(spark, sf_dir):
    import __spark_entry__ as e

    assert has_broadcast_join(e.q_semi_anti_join(spark, sf_dir))


def test_validation_expr_stays_in_codegen(spark):
    from kafka_connect_gcs_spark.operators.validate import valid_expr
    from kafka_connect_gcs_spark.sources.binlog import BinlogSpec, generate_changes

    ch = generate_changes(spark, BinlogSpec(num_events=1000, num_docs=100))
    df = ch.where(valid_expr())
    assert num_python_udf_nodes(df) == 0
    assert codegen_stage_count(df) >= 1


def test_ann_topk_exchange_is_bounded(spark, sf_dir):
    """The ANN finalization must not funnel the full scored relation
    through an exchange partitioned only by query_id (a |Q|-task sort at
    scale): the local per-partition top-k (MapInPandas) must feed the
    window's exchange, bounding it to ≤ partitions·k·|Q| rows."""
    import __spark_entry__ as e

    qs = e.queries()
    for name in ("ann_topk_quantized", "ann_topk_float"):
        plan = explain_str(qs[name](spark, sf_dir), mode="simple")
        lines = plan.splitlines()
        hits = [
            j for j, ln in enumerate(lines)
            if "Exchange hashpartitioning(query_id" in ln
        ]
        assert len(hits) == 1, f"{name}: {len(hits)} query_id exchanges"
        # the exchange's child subtree must be the local top-k, not the
        # scored relation: MapInPandas sits within the next few tree lines
        # (WindowGroupLimit(Partial) and Sort may interpose)
        below = "\n".join(lines[hits[0] + 1 : hits[0] + 5])
        assert "MapInPandas" in below, (
            f"{name}: window exchange consumes the full scored relation:\n"
            + below
        )


def test_bm25_query_side_broadcasts(spark, sf_dir):
    """BM25's scale contract: the corpus postings never re-shuffle for a
    query batch — query words, per-word df, and corpus stats all arrive by
    broadcast, and the final top-k exchange consumes the bounded local
    top-k output (MapInPandas), not the full scored relation."""
    from kafka_connect_gcs_spark.operators.search import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = docs.where(F.col("doc_id") % 29 == 0).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext")
    )
    # eager=False: the default eagerly checkpoints the bounded result, which
    # collapses the inspectable plan to a Scan ExistingRDD
    df = bm25_topk(docs, queries, k=5, eager=False)
    plan = explain_str(df, mode="simple")
    # query words arrive by broadcast into the postings join; per-word
    # df and the corpus constants (n_docs, avgdl) are collected/LITERAL
    # since r6 (the stats relation, its BroadcastNestedLoopJoin, and two
    # redundant corpus tokenize passes are gone — OPTIMIZATION_r06.md),
    # so the postings relation itself never shuffles for the query batch
    assert plan.count("BroadcastExchange") >= 1, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    lines = plan.splitlines()
    hits = [
        j for j, ln in enumerate(lines)
        if "Exchange hashpartitioning(query_id" in ln
        and "doc_id" not in ln  # the (query_id, doc_id) score agg is fine
    ]
    assert len(hits) == 1, f"{len(hits)} query_id-only exchanges"
    below = "\n".join(lines[hits[0] + 1 : hits[0] + 5])
    assert "MapInPandas" in below, below


def test_dup_span_aggregates_partially_mapside(spark, sf_dir):
    """The gram document-frequency aggregate (the only corpus-sized
    shuffle) must partial-aggregate before its exchange, and the plan
    must contain no Python nodes (pure Catalyst path)."""
    from kafka_connect_gcs_spark.operators.dedup_spans import (
        dup_span_stats,
        duplicated_gram_hashes,
        gram_positions,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dup = duplicated_gram_hashes(gram_positions(docs, k=8))
    assert has_partial_aggregate(dup)
    assert num_python_udf_nodes(dup_span_stats(docs, k=8)) == 0


def test_classifier_scoring_broadcasts_weights(spark, sf_dir):
    """Scoring must broadcast the (bounded-by-n_buckets) weight relation —
    the corpus side must not shuffle to be scored."""
    from kafka_connect_gcs_spark.operators.classifier import (
        classifier_score,
        nb_train,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    labeled = docs.withColumn("label", F.col("lang") == "en")
    weights, model = nb_train(labeled, "label", n_buckets=1 << 16)
    scored = classifier_score(docs, weights, model)
    assert has_broadcast_join(scored)
    assert num_python_udf_nodes(scored) == 0


def test_chunking_is_map_only(spark, sf_dir):
    """chunk_documents must add ZERO exchanges — pure explode/slice."""
    from kafka_connect_gcs_spark.operators.packing import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(chunk_documents(docs, 32, 8), mode="simple")
    assert "Exchange" not in plan, plan
    assert num_python_udf_nodes(chunk_documents(docs, 32, 8)) == 0


def test_temperature_mix_broadcasts_rates(spark, sf_dir):
    """The per-source rate relation (|sources| rows) must broadcast back
    onto the corpus; the only exchanges are the metadata-scale count
    aggregate's, never a corpus repartition."""
    from kafka_connect_gcs_spark.operators.sampling import temperature_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    df = temperature_mix(docs, 3.0)
    assert has_broadcast_join(df)
    plan = explain_str(df, mode="simple")
    # exchanges allowed: the groupBy(source) agg + its 1-row total (and
    # their broadcasts); the corpus side must not hash-repartition on
    # anything but the tiny counts relation
    assert "Exchange hashpartitioning(doc_id" not in plan, plan


def test_interval_join_is_equi_join(spark, sf_dir):
    """The banded interval join must plan as an equi-join on (key, bucket)
    — never a BroadcastNestedLoopJoin/CartesianProduct over the raw
    containment predicate."""
    from kafka_connect_gcs_spark.operators.asof import interval_join, sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    sess = (
        sessionize(views, key="user_id", ts="ts", gap_seconds=86400)
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("start"), F.max("ts").alias("end"))
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    df = interval_join(errors, sess, "ts", "start", "end", on=["user_id"])
    plan = explain_str(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_bucket" in plan  # the equi-key actually participates


def test_tokenizer_encode_broadcasts_vocab(spark, sf_dir):
    """encode_tokens joins the corpus against a BROADCAST vocab (bounded
    artifact); the only wide exchange is the per-doc reassembly."""
    from kafka_connect_gcs_spark.operators.tokenizer import (
        build_vocab,
        encode_tokens,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = build_vocab(docs, size=100, min_count=2)
    enc = encode_tokens(docs, vocab)
    assert has_broadcast_join(enc)
    assert num_python_udf_nodes(enc) == 0


def test_spread_small_input_probe_is_metadata_only(spark, tmp_path):
    """spread_small_input must decide from file-scan metadata, not an
    RDD conversion: a one-file parquet is round-robined, an in-memory or
    already-shuffled relation is returned untouched (identity, so no plan
    node is added either)."""
    from kafka_connect_gcs_spark.operators.util import spread_small_input

    p = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(p)
    one_file = spark.read.parquet(p)
    spread = spread_small_input(one_file)
    assert "RoundRobinPartitioning" in explain_str(spread, mode="simple")

    mem = spark.createDataFrame([(i,) for i in range(10)], "x long")
    assert spread_small_input(mem) is mem

    shuffled = one_file.repartition(64)
    assert spread_small_input(shuffled, is_small=False) is shuffled
    # hint forces the spread even when the probe says no
    assert "RoundRobinPartitioning" in explain_str(
        spread_small_input(mem, is_small=True), mode="simple"
    )


def test_line_quality_is_map_only(spark, sf_dir):
    """line_quality_stats must add ZERO exchanges — one nested-HOF
    projection over the staged line array."""
    from kafka_connect_gcs_spark.operators.curation import line_quality_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = line_quality_stats(docs)
    plan = explain_str(out, mode="simple")
    assert "Exchange" not in plan, plan
    assert num_python_udf_nodes(out) == 0


def test_url_canonicalize_is_map_only(spark, sf_dir):
    """canonicalize_url is pure codegen regex/array work; dedup groups
    add exactly the ONE aggregate exchange on the canonical key."""
    from kafka_connect_gcs_spark.operators.urls import (
        canonicalize_url,
        dedup_by_url,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.concat(F.lit("http://h"), F.col("doc_id")).alias("url")
    )
    proj = docs.select(canonicalize_url(F.col("url")).alias("c"))
    assert "Exchange" not in explain_str(proj, mode="simple")
    grouped = dedup_by_url(docs)
    plan = explain_str(grouped, mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert has_partial_aggregate(grouped)


def test_zorder_key_broadcasts_minmax_and_stays_jvm(spark, sf_dir):
    """with_zorder_key: the min/max is a broadcast 1-row join (never a
    driver constant), the interleave is codegen, nothing per-row in
    Python."""
    from kafka_connect_gcs_spark.operators.zorder import with_zorder_key

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    out = with_zorder_key(o, ["o_orderkey", "o_custkey"], bits=8)
    # the 1-row min/max aggregate rides an IdentityBroadcast nested-loop
    # join (no key to hash on), not a BroadcastHashJoin
    plan = explain_str(out, mode="simple")
    assert "BroadcastExchange IdentityBroadcastMode" in plan, plan
    assert num_python_udf_nodes(out) == 0


def test_ivm_batch_apply_aggregates_partially_mapside(spark, sf_dir):
    """The batch LWW collapse inside apply_batch must plan with map-side
    combine, same contract as the main dedup path (A23/A26)."""
    from kafka_connect_gcs_spark.operators.ivm import batch_winners

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").alias("key"),
        F.col("event_id").alias("offset"),
        F.col("event_type").alias("grp"),
        F.col("value"),
        (F.col("event_type") == "error").alias("is_delete"),
    )
    assert has_partial_aggregate(batch_winners(ev))


def test_tfidf_topk_shuffles_postings_not_text(spark, sf_dir):
    """tfidf_topk_terms: no document text may reach an exchange — the
    shuffles carry (doc, word, tf) postings only."""
    from kafka_connect_gcs_spark.operators.search import tfidf_topk_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(tfidf_topk_terms(docs, k=3), mode="formatted")
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text#" not in m.group(0), m.group(0)


def test_cdc_loop_builds_no_pickled_relation(spark, tmp_path, monkeypatch):
    """Every relation the CDC loop builds on the driver (manifest ranges,
    empty reads) is Arrow-decoded in the JVM. With the pickled-list path
    of createDataFrame disabled, a COW batch, MoR batches with automatic
    fold_deletes and compact, and table_changes all still run, and the
    state equals the DuckDB last-writer-wins replay."""
    import duckdb
    from pyspark.sql import SparkSession

    from kafka_connect_gcs_spark.config import EngineConfig
    from kafka_connect_gcs_spark.icebox.changes import table_changes
    from kafka_connect_gcs_spark.operators.merge import read_state
    from kafka_connect_gcs_spark.sources.binlog import BinlogSpec, write_feed
    from kafka_connect_gcs_spark.streaming.pipeline import CdcPipeline

    feed = str(tmp_path / "feed")
    spec = BinlogSpec(
        num_events=6_000, num_docs=800, num_partitions=4, seed=11,
        shuffle_window=200,
    )
    write_feed(spark, spec, feed, num_segments=6)

    def pickled(*args, **kwargs):
        raise AssertionError("driver-built relation pickled into a Python RDD")

    monkeypatch.setattr(SparkSession, "_create_dataframe", pickled)

    def cfg(mode, **kw):
        return EngineConfig(
            table_path=str(tmp_path / "table"),
            feed_path=feed,
            checkpoint_path=str(tmp_path / "ckpt"),
            max_files_per_batch=2,
            shuffle_partitions=8,
            merge_mode=mode,
            **kw,
        )

    first = CdcPipeline(spark, cfg("cow")).run_available(max_batches=1)
    pipe = CdcPipeline(
        spark,
        cfg(
            "mor",
            auto_fold_dead_ratio=0.01,
            auto_fold_min_dead=1,
            auto_compact_min_small_files=0,
        ),
    )
    rest = pipe.run_available()
    assert [ln["mode"] for ln in first] == ["cow"]
    assert rest and all(ln["mode"] == "mor" for ln in rest)
    ops = {ln.get("op") for ln in pipe.ckpt.lineage()}
    assert {"fold-deletes", "compact"} <= ops

    want = sorted(
        (r[0], tuple(r[1]), r[2], r[3], r[4])
        for r in duckdb.sql(f"""
            SELECT doc_id, tokens, n_tok, source, "offset" FROM (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY "offset" DESC, delivery_seq DESC) AS rn
              FROM read_parquet('{feed}/**/*.parquet'))
            WHERE rn = 1 AND op <> 'D'
        """).fetchall()
    )
    got = sorted(
        (r.doc_id, tuple(r.tokens), r.n_tok, r.source, r.last_offset)
        for r in read_state(pipe.table).collect()
    )
    assert got == want
    v = pipe.table.current_version()
    inserted = sorted(
        (r.doc_id, r.new_offset)
        for r in table_changes(pipe.table, 0, v).collect()
        if r.change == "I"
    )
    assert inserted == [(w[0], w[4]) for w in want]
    assert table_changes(pipe.table, v, v).count() == 0
