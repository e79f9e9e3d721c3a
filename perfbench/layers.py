"""Per-layer metrics of a traced run, from its spans and Spark event log.

Every metric is reported on every workload; a layer that did no work on a
workload reports 0. Times named ``*_s`` are medians per call unless the
name says otherwise; ``spark.<part>.*`` counters are totals over the timed
window.
"""

from __future__ import annotations

import statistics

from perfbench.trace import Job, Span, covered, self_time
from perfbench.workloads import QUERIES

#: where a Spark job is attributed: the innermost span's kind, with the
#: batch span's own jobs split at its merge_into call
SPARK_PARTS = (
    "pre_merge", "post_merge", "merge", "write_data_files", "write_delete_files",
    "commit", "read", "point_lookup", "compact", "fold", "table_changes", "op",
)
SPARK_COUNTERS = (
    ("jobs", "count"), ("tasks", "count"), ("executor_run_s", "s"),
    ("shuffle_bytes", "B"), ("spill_bytes", "B"),
)
_PART = {
    "merge.merge_into": "merge",
    "table.write_data_files": "write_data_files",
    "table.write_delete_files": "write_delete_files",
    "table.commit": "commit",
    "table.read": "read",
    "table.point_lookup": "point_lookup",
    "maint.compact": "compact",
    "maint.fold_deletes": "fold",
    "changes.table_changes": "table_changes",
}
#: workload-specific end-to-end figures, reported here for every workload
NAMED = (
    ("ingest_events_per_s", "events/s"), ("batch_p50_s", "s"), ("scan_p50_s", "s"),
    ("lookup_p50_s", "s"), ("changes_p50_s", "s"), ("query_pass_s", "s"),
    ("table_bytes_per_live_row", "B/row"), ("failed_frac", "ratio"),
)
LAYER = (
    ("pipeline.batch_s", "s"), ("pipeline.pre_merge_s", "s"), ("pipeline.post_merge_s", "s"),
    ("pipeline.jobs_per_batch", "count"), ("pipeline.driver_gap_s", "s"),
    ("pipeline.split_residual_s", "s"),
    ("merge.self_s", "s"), ("merge.cow_batches", "count"), ("merge.mor_batches", "count"),
    ("merge.files_rewritten", "count"),
    ("table.write_data_files_s", "s"), ("table.write_delete_files_s", "s"),
    ("table.commit_s", "s"), ("table.read_s", "s"), ("table.point_lookup_s", "s"),
    ("table.bytes_written", "B"), ("table.write_amp", "ratio"),
    ("table.data_files", "count"), ("table.dv_files", "count"), ("table.dead_row_ratio", "ratio"),
    ("maint.compact_s", "s"), ("maint.compact_runs", "count"), ("maint.fold_s", "s"),
    ("maint.fold_runs", "count"), ("maint.bytes_rewritten", "B"),
    ("changes.table_changes_s", "s"), ("changes.rows", "count"),
    ("host.steal_pct", "%"), ("host.busy_cores", "cores"),
)
COUNTS = (
    ("count.events_applied", "count"), ("count.rows_out", "count"),
    ("count.files_written", "count"), ("count.files_rewritten", "count"),
    ("count.bytes_written", "B"), ("count.maintenance_runs", "count"),
    ("count.jobs", "count"),
)
#: end-to-end metrics whose traced-minus-untraced difference is reported
OVERHEAD = (("setup_s", "s"), ("work_s", "s"), ("op_p50_s", "s"), ("peak_rss_mb", "MiB"))


def catalog() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in report order."""
    out = list(NAMED) + list(LAYER)
    out += [(f"op.{q}_s", "s") for q in QUERIES]
    out += [(f"spark.{p}.{c}", u) for p in SPARK_PARTS for c, u in SPARK_COUNTERS]
    out += list(COUNTS)
    out += [(f"overhead.{m}", u) for m, u in OVERHEAD]
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dur(sp: Span) -> float:
    return sp.end - sp.start


def batch_split(spans: list[Span]) -> list[dict]:
    """Per batch: its wall time and the parts that make it up — pre-merge,
    merge self time, the merge's child spans, and post-merge."""
    rows = []
    for b in (s for s in spans if s.name == "pipeline.run_batch"):
        merge = next(
            (s for s in spans if s.parent == b.id and s.name == "merge.merge_into"), None
        )
        row = {"batch": b.tags.get("batch"), "batch_s": _dur(b), "id": b.id}
        if merge is None:
            row.update(pre_merge_s=_dur(b), post_merge_s=0.0, merge_self_s=0.0, parts={})
        else:
            row.update(
                pre_merge_s=merge.start - b.start,
                post_merge_s=b.end - merge.end,
                merge_self_s=self_time(spans, merge),
                merge_start=merge.start,
                merge_end=merge.end,
                parts={},
            )
            for c in spans:
                if c.parent == merge.id:
                    key = c.name.split(".", 1)[1] + "_s"
                    row["parts"][key] = row["parts"].get(key, 0.0) + _dur(c)
        row["residual_s"] = row["batch_s"] - (
            row["pre_merge_s"] + row["merge_self_s"] + sum(row["parts"].values())
            + row["post_merge_s"]
        )
        rows.append(row)
    return rows


def _part_of(job: Job, by_id: dict, splits: dict) -> str | None:
    sp = by_id.get(job.span)
    if sp is None:
        return None
    if sp.name == "pipeline.run_batch":
        row = splits.get(sp.id)
        if row is not None and "merge_end" in row and job.submit >= row["merge_end"]:
            return "post_merge"
        return "pre_merge"
    if sp.name.startswith("op."):
        return "op"
    return _PART.get(sp.name)


def _in(spans: list[Span], root: Span) -> list[Span]:
    """Descendants of ``root``, root included."""
    ids, out = {root.id}, [root]
    for s in spans:  # spans are recorded in open order: parents first
        if s.parent in ids:
            ids.add(s.id)
            out.append(s)
    return out


def _batch_jobs(spans: list[Span], jobs: list[Job], batch: Span) -> list[Job]:
    inside = {s.id for s in _in(spans, batch)}
    return [j for j in jobs if j.span in inside]


def jobs_per_batch(spans: list[Span], jobs: list[Job]) -> list[int]:
    """Spark jobs launched inside each ``run_batch`` call, in batch order."""
    return [
        len(_batch_jobs(spans, jobs, b)) for b in spans if b.name == "pipeline.run_batch"
    ]


def per_layer(spans, jobs, outcome, window) -> dict:
    by_id = {s.id: s for s in spans}
    splits = {row["id"]: row for row in batch_split(spans)}
    m: dict = {name: 0.0 for name, _ in catalog()}

    for name, _ in NAMED:
        m[name] = outcome.named.get(name, 0.0)
    m["failed_frac"] = outcome.failed / max(outcome.attempted, 1)

    rows = list(splits.values())
    m["pipeline.batch_s"] = _median([r["batch_s"] for r in rows])
    m["pipeline.pre_merge_s"] = _median([r["pre_merge_s"] for r in rows])
    m["pipeline.post_merge_s"] = _median([r["post_merge_s"] for r in rows])
    m["pipeline.split_residual_s"] = max((abs(r["residual_s"]) for r in rows), default=0.0)
    m["merge.self_s"] = _median([r["merge_self_s"] for r in rows if r["parts"]])
    gaps = []
    for r in rows:
        b = by_id[r["id"]]
        bj = _batch_jobs(spans, jobs, b)
        gaps.append(_dur(b) - covered([(j.submit, j.end) for j in bj], b.start, b.end))
    m["pipeline.jobs_per_batch"] = _median(jobs_per_batch(spans, jobs))
    m["pipeline.driver_gap_s"] = _median(gaps)

    modes = outcome.counters.get("merge_modes", "")
    m["merge.cow_batches"] = modes.count("c")
    m["merge.mor_batches"] = modes.count("m")
    m["merge.files_rewritten"] = outcome.counters.get("files_rewritten", 0)

    def under(parent_name: str, name: str) -> list[Span]:
        return [
            s for s in spans
            if s.name == name and s.parent is not None
            and by_id[s.parent].name == parent_name
        ]

    m["table.write_data_files_s"] = _median(
        [_dur(s) for s in under("merge.merge_into", "table.write_data_files")]
    )
    m["table.write_delete_files_s"] = _median(
        [_dur(s) for s in under("merge.merge_into", "table.write_delete_files")]
    )
    m["table.commit_s"] = _median([_dur(s) for s in under("merge.merge_into", "table.commit")])
    m["table.read_s"] = _median(
        [_dur(s) for s in spans if s.name == "table.read" and s.parent is None]
    )
    m["table.point_lookup_s"] = _median(
        [_dur(s) for s in spans if s.name == "table.point_lookup"]
    )
    writes = [s for s in spans if s.name.startswith("table.write_")]
    written = sum(s.tags.get("bytes", 0) for s in writes)
    m["table.bytes_written"] = written
    m["table.write_amp"] = written / outcome.feed_bytes if outcome.feed_bytes else 0.0
    for key in ("data_files", "dv_files", "dead_row_ratio"):
        m[f"table.{key}"] = _median(outcome.samples.get(key, []))

    for kind, key in (("maint.compact", "compact"), ("maint.fold_deletes", "fold")):
        runs = [s for s in spans if s.name == kind]
        m[f"maint.{key}_s"] = sum(_dur(s) for s in runs)
        m[f"maint.{key}_runs"] = len(runs)
    m["maint.bytes_rewritten"] = sum(
        s.tags.get("bytes", 0) for s in writes
        if s.parent is not None and by_id[s.parent].name.startswith("maint.")
    )
    m["changes.table_changes_s"] = _median(
        [_dur(s) for s in spans if s.name == "changes.table_changes"]
    )
    m["changes.rows"] = outcome.counters.get("changes_rows", 0)

    for q in QUERIES:
        m[f"op.{q}_s"] = outcome.named.get(f"op.{q}_s", 0.0)

    for j in jobs:
        part = _part_of(j, by_id, splits)
        if part is None:
            continue
        m[f"spark.{part}.jobs"] += 1
        m[f"spark.{part}.tasks"] += j.tasks
        m[f"spark.{part}.executor_run_s"] += j.executor_run_s
        m[f"spark.{part}.shuffle_bytes"] += j.shuffle_bytes
        m[f"spark.{part}.spill_bytes"] += j.spill_bytes

    m["host.steal_pct"] = window.steal_pct
    in_window = [j for j in jobs if window.start <= j.submit <= window.end]
    m["host.busy_cores"] = sum(j.executor_run_s for j in in_window) / max(window.seconds, 1e-9)

    c = outcome.counters
    for key in ("events_applied", "rows_out", "files_written", "files_rewritten",
                "bytes_written", "maintenance_runs"):
        m[f"count.{key}"] = c.get(key, 0)
    m["count.jobs"] = len(in_window)
    return m
