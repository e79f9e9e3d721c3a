"""Output checks. They run after the timed window and never inside it."""

from __future__ import annotations

import json
import math
import os


def state_matches_replay(spark, state, feed_path: str) -> tuple[bool, str]:
    """The table's live rows equal a DuckDB last-writer-wins replay of the
    whole feed, token arrays included."""
    import duckdb
    import pyarrow.compute as pc

    cols = ["doc_id", "tokens", "n_tok", "source", "last_offset"]
    got = state.select(*cols).toArrow().sort_by("doc_id")
    con = duckdb.connect()
    try:
        want = con.execute(
            f"""
            SELECT doc_id, tokens, n_tok, source, "offset" AS last_offset
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY "offset" DESC, delivery_seq DESC) AS rn
              FROM read_parquet('{feed_path}/*/*.parquet')
            ) WHERE rn = 1 AND op <> 'D'
            ORDER BY doc_id
            """
        ).arrow()
    finally:
        con.close()
    if hasattr(want, "read_all"):
        want = want.read_all()
    if got.num_rows != want.num_rows:
        return False, f"{got.num_rows} live rows, replay has {want.num_rows}"
    for c in cols:
        a, b = got.column(c).combine_chunks(), want.column(c).combine_chunks()
        if c == "tokens":
            same = pc.list_value_length(a).equals(pc.list_value_length(b)) and (
                pc.list_flatten(a).cast("int32").equals(pc.list_flatten(b).cast("int32"))
            )
        else:
            same = a.cast(b.type).equals(b)
        if not same:
            return False, f"column {c} differs"
    return True, f"{got.num_rows} rows"


def feed_digest(feed_path: str) -> str:
    """A fingerprint of the generated feed, to tell inputs apart."""
    import duckdb

    con = duckdb.connect()
    try:
        n, h = con.execute(
            f"""SELECT count(*), sum(hash(doc_id, "offset", op, delivery_seq) % 1000000007)
            FROM read_parquet('{feed_path}/*/*.parquet')"""
        ).fetchone()
    finally:
        con.close()
    return f"{n}:{h}"


def offsets_monotone(lineages: list, state: dict) -> tuple[bool, str]:
    """Per partition, each batch's max applied offset is at least the
    previous batch's, and the checkpoint holds the max-merge of them all."""
    last: dict[str, int] = {}
    for ln in lineages:
        for p, pm in ln.get("partitions", {}).items():
            hi = pm.get("max_offset")
            if hi is None:
                continue
            if hi < last.get(p, -1):
                return False, f"partition {p}: {hi} after {last[p]} in {ln['batch_id']}"
            last[p] = hi
    saved = {p: int(v) for p, v in state.get("partition_offsets", {}).items()}
    if saved != last:
        return False, f"checkpoint offsets {saved} != lineage max {last}"
    return True, f"{len(last)} partitions"


def manifests_exist(table) -> tuple[bool, str]:
    snap = table.snapshot()
    entries = list(snap.manifests) + list(snap.deletes)
    missing = [e.path for e in entries if not os.path.exists(os.path.join(table.root, e.path))]
    if missing:
        return False, f"{len(missing)} missing, first {missing[0]}"
    return True, f"{len(entries)} files"


# -- entry queries ----------------------------------------------------------
#
# Rows are compared the way tests/test_entry_contract.py compares them:
# columns sorted by name, floats rounded to 9 digits, rows sorted.


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        v = round(v, 9)
        return int(v) if v.is_integer() else v
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def canonical_rows(cols, data) -> tuple[list[str], list[str]]:
    """(sorted column names, sorted rows as JSON text)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(
        json.dumps([_canon(row[i]) for i in idx], default=str) for row in data
    )
    return [cols[i] for i in idx], rows


def rows_equal(cols, data, want_cols, want_rows) -> tuple[bool, str]:
    got_cols, got_rows = canonical_rows(cols, data)
    if got_cols != want_cols:
        return False, f"columns {got_cols} != {want_cols}"
    if len(got_rows) != len(want_rows):
        return False, f"{len(got_rows)} rows, oracle has {len(want_rows)}"
    bad = [(a, b) for a, b in zip(got_rows, want_rows) if a != b]
    if bad:
        return False, f"{len(bad)} rows differ, first {bad[0]}"
    return True, f"{len(got_rows)} rows"


def oracle_rows(sql: dict, names, data_dir: str) -> dict:
    """Each query's DuckDB oracle result over ``data_dir``, canonicalised."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, f)}')"
                )
        out = {}
        for name in names:
            res = con.execute(sql[name])
            out[name] = canonical_rows([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()
    return out
