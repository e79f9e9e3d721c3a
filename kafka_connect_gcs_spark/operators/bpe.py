"""Distributed BPE training and encoding (Sennrich et al. 2016 / GPT-2).

Completes the tokenizer family: :mod:`.tokenizer` is the closed-vocab
top-K encoder; this module TRAINS real byte-pair merges and encodes by
applying them in rank order — the algorithm production pipelines run
before :func:`.packing.pack_sequences`.

Beyond the reference's scope (byte-opaque payloads). Scale shape:

* training never touches per-document state after the first aggregate:
  the corpus collapses to the DISTINCT-piece frequency table (one
  corpus-scale shuffle, the same floor every BPE trainer pays), and each
  merge round is (a) ONE map-side-combined ``groupBy(l, r)`` over that
  bounded table's adjacent symbol pairs, (b) a 1-row collect of the
  argmax, (c) ONE map-only fold rewriting the symbol arrays — no
  corpus re-scan, ever;
* each round's rewrite is ``localCheckpoint``-ed: the table is bounded
  (|distinct pieces|, vocab-scale), and truncating the plan keeps round
  ``k``'s analysis cost O(1) instead of O(k) nested HOF layers;
* the merge list itself is a driver artifact (``num_merges`` rows),
  exactly like a PQ codebook — broadcast implicitly as expression
  literals at encode time;
* encoding applies merges to DISTINCT pieces only (each word is
  symbolized once per batch regardless of frequency), then joins the
  bounded symbol table back to the positional piece explosion — rows ∝
  token volume, the floor. ``impl="pandas"`` symbolizes per Arrow batch
  in numpy-free pure python (one pass per merge over each distinct
  piece) for large merge counts where K chained fold expressions would
  dominate; both paths are parity-tested.

Applying merges sequentially in rank order (each greedy left-to-right,
non-overlapping) is exactly equivalent to the reference priority-queue
encoder — and to the trainer's own progressive rewrites, so encoding the
training corpus reproduces the trainer's final symbolization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_gcs_spark.operators.text import BPE_PIECE_RE
from kafka_connect_gcs_spark.operators.util import local_frame


def _pieces(text_col: str):
    return F.regexp_extract_all(F.col(text_col), F.lit(BPE_PIECE_RE), F.lit(0))


def _char_array(piece):
    return F.transform(
        F.sequence(F.lit(1), F.length(piece)),
        lambda i: F.substring(piece, i, 1),
    )


def merge_pair_expr(syms, left: str, right: str):
    """Greedy left-to-right, non-overlapping merge of adjacent
    ``(left, right)`` symbols: ``[a,a,a]`` with ``(a,a)`` → ``[aa, a]``.
    One fold over the array; a merged symbol can't re-merge in the same
    round because ``left+right != left`` (right is non-empty).

    The input expression is referenced EXACTLY ONCE — encode chains K of
    these (one per merge) through collapsed projections, so a layer that
    read its child twice would grow the expression tree 2^K (measured: an
    executor OOM at K=10); single-reference folds keep it linear."""
    l, r = F.lit(left), F.lit(right)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == l) & (x == r),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _word_table(df: DataFrame, text_col: str) -> DataFrame:
    """(piece, cnt, syms): the distinct-piece frequency table, symbols
    initialized to characters. The ONE corpus-scale aggregate."""
    return (
        df.select(F.explode(_pieces(text_col)).alias("piece"))
        .groupBy("piece")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("piece", "cnt", _char_array(F.col("piece")).alias("syms"))
    )


def _adjacent_pairs(syms):
    return F.transform(
        F.sequence(F.lit(1), F.size(syms) - 1),
        lambda i: F.struct(
            F.element_at(syms, i).alias("l"),
            F.element_at(syms, i + 1).alias("r"),
        ),
    )


def _independent_prefix(rows, max_batch: int) -> "list[tuple[str, str]]":
    """The largest rank-order PREFIX (≤ ``max_batch``) of mutually
    independent merges from a count snapshot's top rows.

    Independent = the candidate's two symbols are disjoint from every
    earlier batch pair's symbols AND from every earlier minted symbol,
    and the candidate's own minted string collides with neither. Under
    those conditions applying the earlier merges cannot create or destroy
    any adjacency of the candidate's pair, so its snapshot count is still
    exact when its turn comes — independent merges commute.

    Walks in rank order and STOPS at the first conflict (skipping would
    apply a pair whose snapshot count has gone stale). The first row is
    always accepted, so progress is guaranteed whenever rows is non-empty.
    """
    batch: "list[tuple[str, str]]" = []
    used: set = set()
    minted: set = set()
    for row in rows:
        if len(batch) >= max_batch:
            break
        l, r = row["l"], row["r"]
        m = l + r
        if (
            l in used or r in used or l in minted or r in minted
            or m in used or m in minted
        ):
            break
        batch.append((l, r))
        used.update((l, r))
        minted.add(m)
    return batch


def _merge_pair_local(syms: "list[str]", l: str, r: str) -> "list[str]":
    """Pure-Python twin of :func:`merge_pair_expr`'s greedy fold: same
    left-to-right, non-overlapping semantics (``[a,a,a]`` with ``(a,a)``
    → ``[aa, a]``; a merged symbol can't re-merge because acc's last
    becomes ``l+r != l``)."""
    acc: "list[str]" = []
    for x in syms:
        if acc and acc[-1] == l and x == r:
            acc[-1] = acc[-1] + x
        else:
            acc.append(x)
    return acc


def _train_rounds_local(
    rows, num_merges: int, min_pair_count: int, merges_per_round: int
) -> "list[dict]":
    """Driver-side replay of the training loop over a collected word
    table — chosen merges are IDENTICAL to the distributed rounds by
    construction: same pair counts (integer sums over the same table),
    same (count desc, left, right) order (Python code-point string
    comparison == Spark's binary string order for valid Unicode), same
    top-``3P`` snapshot slice, same :func:`_independent_prefix` walk,
    same greedy fold. Exists because each distributed round is a
    fixed-cost Spark job over a VOCABULARY-bounded table — pure dispatch
    when the vocabulary is small (the size gate is a real count, the
    connected-components pattern)."""
    pieces = [(int(r["cnt"]), list(r["syms"])) for r in rows]
    merges: "list[dict]" = []
    while len(merges) < num_merges:
        P = min(merges_per_round, num_merges - len(merges))
        counts: dict = {}
        for cnt, syms in pieces:
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                counts[key] = counts.get(key, 0) + cnt
        top = sorted(
            (
                {"l": l, "r": r, "c": c}
                for (l, r), c in counts.items()
                if c >= min_pair_count
            ),
            key=lambda d: (-d["c"], d["l"], d["r"]),
        )[: 3 * P]
        if not top:
            break
        batch = _independent_prefix(top, P)
        for l, r in batch:
            merges.append({"rank": len(merges), "left": l, "right": r})
            pieces = [
                (cnt, _merge_pair_local(syms, l, r)) for cnt, syms in pieces
            ]
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 32,
    min_pair_count: int = 2,
    merges_per_round: int = 1,
    max_local_vocab: int = 262_144,
) -> "list[dict]":
    """Train up to ``num_merges`` BPE merges; returns the ordered list
    ``[{"rank", "left", "right"}]`` (a bounded driver artifact).

    Deterministic: candidates rank by ``(count desc, left asc, right
    asc)``; training stops early when no adjacent pair reaches
    ``min_pair_count``.

    ``merges_per_round=P`` is the 32k-merge scale path: each round
    collects the top ``3P`` snapshot pairs ONCE and applies the largest
    rank-order prefix of mutually independent pairs (see
    :func:`_independent_prefix` — independent merges commute, so every
    applied count is exact against the single snapshot). K merges then
    cost ~K/P pair-count aggregates instead of K. ``P=1`` reproduces the
    classic one-merge-per-aggregate algorithm bit-for-bit (the prefix is
    exactly the snapshot argmax).
    """
    if merges_per_round < 1:
        raise ValueError("merges_per_round must be >= 1")
    from pyspark.sql import Observation

    obs = Observation()
    words = (
        _word_table(df, text_col)
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    # size-gated driver training: the word table is VOCABULARY-bounded
    # (distinct pieces), and every distributed round is a fixed-cost job
    # over it — at small vocabularies the rounds are pure dispatch. The
    # count rides the checkpoint job (Observation), the gate is the real
    # number, and the local replay picks identical merges by construction
    # (see _train_rounds_local). Large vocabularies keep the distributed
    # rounds below.
    if (obs.get["n"] or 0) <= max_local_vocab:
        return _train_rounds_local(
            words.select("cnt", "syms").collect(),
            num_merges,
            min_pair_count,
            merges_per_round,
        )
    merges: "list[dict]" = []
    # re-checkpoint the (bounded, vocabulary-sized) word table every few
    # ROUNDS, not every round: each eager checkpoint is a fixed job, and
    # re-applying up to 4 rounds of single-reference folds to the small
    # table when the next round's pair counts run is cheaper than the job
    # (8-round train at sf1.0: 6.1 s -> 2.4 s cold, identical merges).
    # The cadence still bounds fold-chain growth for merges_per_round
    # production runs.
    _rounds_since_ckpt = 0
    while len(merges) < num_merges:
        P = min(merges_per_round, num_merges - len(merges))
        top = (
            words.where(F.size("syms") >= 2)
            .select("cnt", F.explode(_adjacent_pairs(F.col("syms"))).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("c"))
            .where(F.col("c") >= min_pair_count)
            .orderBy(F.col("c").desc(), F.col("l"), F.col("r"))
            .limit(3 * P)
            .collect()
        )
        if not top:
            break
        syms = F.col("syms")
        for l, r in _independent_prefix(top, P):
            merges.append({"rank": len(merges), "left": l, "right": r})
            # chained single-reference folds apply the batch sequentially
            # in rank order — one rewrite job per ROUND, not per merge
            syms = merge_pair_expr(syms, l, r)
        words = words.select("piece", "cnt", syms.alias("syms"))
        _rounds_since_ckpt += 1
        if _rounds_since_ckpt >= 4 and len(merges) < num_merges:
            words = words.localCheckpoint(eager=True)
            _rounds_since_ckpt = 0
    return merges


def bpe_vocab(df: DataFrame, merges: "list[dict]", text_col: str = "text") -> DataFrame:
    """Token-id table ``(token, id, is_char)``: the corpus character set
    first (ordered by the character, ids ``0..C-1``), then each merge's
    ``left+right`` at ``C + rank``. Two merges can in principle produce
    the same string (e.g. ``(a,bc)`` and ``(ab,c)``); the lowest rank
    keeps the id, so ids stay unique (rank gaps are fine — ids are
    opaque). Bounded by ``C + num_merges`` — a broadcastable artifact."""
    from pyspark.sql import Window

    spark = df.sparkSession
    chars = (
        df.select(F.explode(_pieces(text_col)).alias("piece"))
        .select(F.explode(_char_array(F.col("piece"))).alias("token"))
        .distinct()
    )
    w = Window.orderBy("token")  # |charset| rows — metadata-scale window
    char_ids = chars.select(
        "token",
        (F.row_number().over(w) - 1).cast("int").alias("id"),
        F.lit(True).alias("is_char"),
    )
    n_chars = char_ids.agg(F.count(F.lit(1)).alias("_n"))
    if merges:
        m = local_frame(
            spark,
            [(d["rank"], d["left"] + d["right"]) for d in merges],
            "rank int, token string",
        )
        merge_ids = (
            m.groupBy("token")
            .agg(F.min("rank").alias("rank"))
            .crossJoin(F.broadcast(n_chars))
            .select(
                "token",
                (F.col("rank") + F.col("_n")).cast("int").alias("id"),
                F.lit(False).alias("is_char"),
            )
        )
        return char_ids.unionByName(merge_ids)
    return char_ids


def _symbolize_expr(dp: DataFrame, merges: "list[dict]", checkpoint_every: int = 16) -> DataFrame:
    out = dp.withColumn("syms", _char_array(F.col("piece")))
    for i, mg in enumerate(merges):
        out = out.withColumn(
            "syms", merge_pair_expr(F.col("syms"), mg["left"], mg["right"])
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < len(merges):
            # bounded relation (distinct pieces); truncating the plan keeps
            # analysis linear in K instead of quadratic
            out = out.localCheckpoint(eager=True)
    return out


def _symbolize_pandas(dp: DataFrame, merges: "list[dict]") -> DataFrame:
    ordered = [(m["left"], m["right"]) for m in sorted(merges, key=lambda d: d["rank"])]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            syms_out = []
            for piece in pdf["piece"]:
                syms = list(piece)
                for l, r in ordered:
                    if len(syms) < 2:
                        break
                    acc = [syms[0]]
                    for x in syms[1:]:
                        if acc[-1] == l and x == r:
                            acc[-1] = acc[-1] + x
                        else:
                            acc.append(x)
                    syms = acc
                syms_out.append(syms)
            yield pd.DataFrame({"piece": pdf["piece"], "syms": syms_out})

    return dp.mapInPandas(run, "piece string, syms array<string>")


def bpe_encode(
    df: DataFrame,
    merges: "list[dict]",
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "tokens",
    impl: str = "expr",
) -> DataFrame:
    """Encode each document to ``(id, tokens array<int>, n_tok)`` by
    applying ``merges`` in rank order (equivalent to the lowest-rank-first
    reference encoder). Characters never seen at vocab-build time (new
    text against an old vocab) are dropped, like :func:`.tokenizer
    .encode_tokens`. Empty documents yield empty arrays.

    ``impl="expr"`` chains one Catalyst fold per merge (oracle-replayable);
    ``impl="pandas"`` symbolizes per Arrow batch — same output, one python
    pass per merge, preferred when ``len(merges)`` is large.
    """
    pieced = df.select(
        F.col(id_col), F.posexplode(_pieces(text_col)).alias("pos", "piece")
    )
    dp = pieced.select("piece").distinct()
    if impl == "pandas":
        symbolized = _symbolize_pandas(dp, merges)
    elif impl == "expr":
        symbolized = _symbolize_expr(dp, merges)
    else:
        raise ValueError(f"unknown impl {impl!r}")
    units = symbolized.select(
        "piece", F.posexplode(F.col("syms")).alias("sub", "token")
    ).join(F.broadcast(vocab.select("token", "id")), "token", "inner")
    placed = pieced.join(units, "piece").select(
        id_col, "pos", "sub", F.col("id").alias("tok")
    )
    assembled = placed.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "sub", "tok"))),
            lambda s: s["tok"],
        ).alias(out_col)
    )
    base = df.select(F.col(id_col))
    return base.join(assembled, id_col, "left").select(
        id_col,
        F.coalesce(out_col, F.array().cast("array<int>")).alias(out_col),
        F.coalesce(F.size(out_col), F.lit(0)).cast("long").alias("n_tok"),
    )


def bpe_decode(
    df: DataFrame,
    vocab: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    out_col: str = "decoded",
) -> DataFrame:
    """ids → concatenated token text; exact inverse of :func:`bpe_encode`
    on corpus text (symbols are substrings of the pieces, so concatenation
    reconstructs ``''.join(pieces(text))``)."""
    from kafka_connect_gcs_spark.operators.tokenizer import decode_tokens

    return decode_tokens(
        df,
        vocab.select(F.col("token").alias("piece"), "id"),
        tokens_col=tokens_col,
        id_col=id_col,
        out_col=out_col,
    )
