"""Maintained materialized views over the CDC feed: the micro-batch loop
for :mod:`..operators.ivm`.

``CdcPipeline`` keeps the keyed FINAL-STATE table; this pipeline keeps an
AGGREGATE VIEW of it (``GROUP BY g: live keys, SUM(value)``) fresh by
consuming the same feed segments and folding per-batch deltas — the view
never rescans the state. The commit discipline mirrors the engine's
data→index→cursor protocol (sources/archive.py:239-342 — itself the
reference's rotate-then-commit shape):

1. the new state + rollup snapshots are written to a fresh ``v{N+1}``
   directory (never in place),
2. the manifest (current version + recently applied batch_ids) is swapped
   by atomic rename,
3. only then does the feed checkpoint advance.

A SIGKILL between any two steps replays the batch; the manifest's
batch_id guard makes the replay a no-op (same rule as
``IceboxTable.commit``), so the view is exactly-once without
coordination. Stale/duplicate deliveries inside the feed are absorbed by
the delta algebra itself (ivm.apply_batch's strict-greater offset rule).

At 10^10 keys the per-version state snapshot would be the engine's
icebox table (key-ranged COW rewrite of affected files only —
operators/merge.py); this class keeps the loop, commit protocol, and
delta plumbing identical while storing snapshots as plain parquet
versions, which is what the deterministic kill/resume tests need to
inspect.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_gcs_spark.operators.ivm import apply_batch, merge_rollup
from kafka_connect_gcs_spark.operators.util import local_frame
from kafka_connect_gcs_spark.streaming.pipeline import Checkpoint, _list_segments

#: manifest retains this many applied batch_ids — replay can only ever be
#: of a batch at-or-after the last checkpoint, so a short tail suffices
_APPLIED_KEEP = 16

_STATE_SCHEMA = (
    "key string, offset long, grp string, value double, is_delete boolean"
)
_ROLLUP_SCHEMA = "grp string, n_keys long, sum_value decimal(18,6)"


class RollupPipeline:
    """Maintain ``(grp, n_keys, sum_value)`` over the live LWW state of a
    binlog feed. ``group_col``/``value_col`` pick the view; the value is
    carried exactly (DECIMAL), so any replay order lands bit-identical."""

    def __init__(
        self,
        spark: SparkSession,
        feed_path: str,
        root: str,
        group_col: str = "source",
        value_col: str = "n_tok",
    ):
        self.spark = spark
        self.feed_path = feed_path
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)
        self.group_col = group_col
        self.value_col = value_col
        self.ckpt = Checkpoint(os.path.join(self.root, "ckpt"))
        self.manifest_path = os.path.join(self.root, "manifest.json")

    # -- snapshot plumbing -------------------------------------------------

    def _manifest(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"version": 0, "applied": []}
        with open(self.manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, man: dict) -> None:
        tmp = self.manifest_path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(man, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self.manifest_path)

    def _vdir(self, version: int, which: str) -> str:
        return os.path.join(self.root, f"v{version:08d}", which)

    def read_state(self) -> DataFrame:
        v = self._manifest()["version"]
        if v == 0:
            return local_frame(self.spark, [], _STATE_SCHEMA)
        return self.spark.read.parquet(self._vdir(v, "state"))

    def read_rollup(self) -> DataFrame:
        """The maintained view at the current committed version."""
        v = self._manifest()["version"]
        if v == 0:
            return local_frame(self.spark, [], _ROLLUP_SCHEMA)
        return self.spark.read.parquet(self._vdir(v, "rollup"))

    # -- one micro-batch ---------------------------------------------------

    def _feed_view(self, raw: DataFrame) -> DataFrame:
        return raw.select(
            F.col("doc_id").alias("key"),
            F.col("offset"),
            F.col(self.group_col).cast("string").alias("grp"),
            F.col(self.value_col).cast("double").alias("value"),
            (F.col("op") == "D").alias("is_delete"),
        )

    def run_batch(self, segments: list[str]) -> dict | None:
        if not segments:
            return None
        batch_id = f"{segments[0]}..{segments[-1]}"
        man = self._manifest()
        if batch_id in man["applied"]:
            # replayed batch after a crash-past-commit: snapshots already
            # carry it — advance nothing here, the caller moves the cursor
            return {"batch_id": batch_id, "replayed_noop": True}
        paths = [os.path.join(self.feed_path, s) for s in segments]
        raw = self.spark.read.parquet(*paths)
        batch = self._feed_view(raw)
        prev_v = man["version"]
        state = None if prev_v == 0 else self.read_state()
        rollup = None if prev_v == 0 else self.read_rollup()
        new_state, deltas = apply_batch(state, batch)
        new_rollup = merge_rollup(rollup, deltas)

        new_v = prev_v + 1
        tmp = os.path.join(self.root, f".tmp-{uuid.uuid4().hex[:8]}")
        new_state.write.parquet(os.path.join(tmp, "state"))
        new_rollup.write.parquet(os.path.join(tmp, "rollup"))
        final = os.path.join(self.root, f"v{new_v:08d}")
        if os.path.exists(final):  # orphan of a killed attempt — replace
            import shutil

            shutil.rmtree(final)
        os.rename(tmp, final)
        man["version"] = new_v
        man["applied"] = (man["applied"] + [batch_id])[-_APPLIED_KEEP:]
        self._write_manifest(man)
        self._expire(new_v)
        lineage = {"batch_id": batch_id, "version": new_v}
        self.ckpt.append_lineage(lineage)
        return lineage

    def _expire(self, current: int, keep: int = 4) -> None:
        """Drop snapshot versions older than ``current - keep`` plus any
        ``.tmp-*`` orphans from killed attempts (same janitorial rule as
        icebox's expire_snapshots)."""
        import shutil

        for name in os.listdir(self.root):
            p = os.path.join(self.root, name)
            if name.startswith(".tmp-"):
                shutil.rmtree(p, ignore_errors=True)
            elif name.startswith("v") and name[1:].isdigit():
                if int(name[1:]) <= current - keep:
                    shutil.rmtree(p, ignore_errors=True)

    # -- the loop ----------------------------------------------------------

    def run_available(self, batch_segments: int = 2) -> list[dict]:
        """Drain every visible feed segment in ``batch_segments``-sized
        micro-batches, checkpointing after each. Kill-safe at any point:
        resume re-runs at most one batch, which the manifest guard and the
        delta algebra both absorb."""
        out = []
        state = self.ckpt.load()
        segs = _list_segments(self.feed_path)
        i = state["next_segment_idx"]
        while i < len(segs):
            chunk = segs[i : i + batch_segments]
            res = self.run_batch(chunk)
            if res is not None:
                out.append(res)
            i += len(chunk)
            state["next_segment_idx"] = i
            self.ckpt.save(state)
        return out
